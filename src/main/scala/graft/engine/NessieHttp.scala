package graft.engine

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

/** Nessie's catalog verbs over HTTP — the reference runs Nessie as a
  * service (compose.yaml:93-107) and Trino speaks its REST API; graft
  * has the verbs as library calls ([[Layout.listRefs]]/[[Layout.commitLog]],
  * q162-gated) and this facade puts them on a real socket in the Nessie
  * v2 REST shapes. Round 7 adds the WRITE verbs (round 6 served reads
  * only — "a Nessie client cannot yet write over the wire"):
  *
  *   - `GET /api/v2/trees` → `{"references": [{"name", "type"
  *     ("BRANCH"/"TAG"), "hash"}]}`  — reference listing
  *   - `GET /api/v2/trees/{ref}/history` → `{"logEntries":
  *     [{"commitMeta": {...}, "parentCommitHash"}]}` — commit log,
  *     newest first, truncated at the ref's snapshot
  *   - `POST /api/v2/trees?name=X&type=BRANCH[&sourceRefName=R]` →
  *     [[Layout.createBranch]] (or [[Layout.createBranchAt]] when the
  *     source ref is a tag); duplicate branch → 409, the
  *     REFERENCE_ALREADY_EXISTS a real Nessie returns
  *   - `POST /api/v2/trees/{branch}/history/commit` with
  *     `{"commitMeta": {"message"}, "expectedHash", "operations":
  *     [{"op": "PUT", "path", "records", "bytes"}]}` →
  *     [[Manifests.commit]] on the ref's table. `expectedHash` is the
  *     optimistic base (the Nessie commit contract): a stale hash → 409
  *     BEFORE touching the store, and a lost CAS race inside the commit
  *     ([[Manifests.ConcurrentCommitException]]) → the same 409 —
  *     NESSIE_CONFLICT either way. Data files move on the data plane
  *     (Spark writes to the store), exactly as with real Nessie: the
  *     API carries metadata pointers, never bytes.
  *   - `POST /api/v2/trees/main/history/merge` with
  *     `{"fromRefName": branch}` → [[Layout.mergeBranch]]; a
  *     since-moved main → 409 (non-fast-forward merge conflict)
  *   - `DELETE /api/v2/trees/{branch}` → [[Layout.dropBranch]]
  *   - `GET /api/v2/trees/{ref}/contents/{key}` → the ICEBERG_TABLE
  *     content object at the ref (metadataLocation = the manifest file
  *     the read path loads, snapshotId = the graft seq) + the
  *     effectiveReference — the pointer a catalog client resolves before
  *     planning a scan (round 14)
  *   - `GET /api/v2/trees/{from}/diff/{to}` → Nessie's DiffResponse over
  *     the served key: from/to content objects + the manifest file-diff
  *     (filesAdded/filesRemoved/recordsDelta), empty when the refs
  *     resolve to the same snapshot (round 14)
  *
  * Zero new dependencies: the JDK's `com.sun.net.httpserver` (the same
  * choice Spark's own test fixtures make for tiny HTTP endpoints).
  * Commit "hashes" are the graft snapshot seqs rendered as 16-hex — the
  * shape Nessie clients expect — with the seq recoverable by parse.
  *
  * One server serves ONE table's refs (graft refs are per-table where
  * Nessie's are per-repository); a catalog-wide facade would mount one
  * context per table. Driver-side by design: refs and commit logs are
  * bounded metadata, the same rows q162 reads.
  */
object NessieHttp {

  private val mapper = new ObjectMapper()

  final case class Server(http: HttpServer, port: Int) {
    def stop(): Unit = http.stop(0)
    def uri(path: String): String = s"http://127.0.0.1:$port$path"
  }

  def hashOf(seq: Long): String = f"$seq%016x"

  /** Start serving `table`'s refs on `port` (0 = ephemeral). */
  def start(spark: SparkSession, table: String, port: Int = 0): Server = {
    val http = HttpFront.create(port)
    http.createContext("/api/v2/trees", (exchange: HttpExchange) => {
      try route(spark, table, exchange)
      catch {
        case scala.util.control.NonFatal(e) =>
          val n = mapper.createObjectNode()
          n.put("message", s"${e.getClass.getSimpleName}: ${e.getMessage}")
          send(exchange, 500, mapper.writeValueAsString(n))
      }
    })
    http.start()
    Server(http, http.getAddress.getPort)
  }

  /** Inverse of [[hashOf]] — unsigned parse, because the pre-first-commit
    * head (-1) renders as ffffffffffffffff and must round-trip. */
  def seqOf(hash: String): Long = java.lang.Long.parseUnsignedLong(hash, 16)

  private def route(spark: SparkSession, table: String,
      exchange: HttpExchange): Unit = {
    val path = exchange.getRequestURI.getPath
    (exchange.getRequestMethod, path) match {
      case ("GET", "/api/v2/trees" | "/api/v2/trees/") =>
        send(exchange, 200, referencesJson(spark, table))
      case ("POST", "/api/v2/trees" | "/api/v2/trees/") =>
        createReference(spark, table, exchange)
      case ("GET", HistoryPath(ref)) =>
        historyJson(spark, table, ref) match {
          case Some(body) => send(exchange, 200, body)
          case None => sendErr(exchange, 404, s"reference not found: $ref")
        }
      case ("GET", EntriesPath(ref)) =>
        entriesJson(spark, table, ref) match {
          case Right(body) => send(exchange, 200, body)
          case Left(msg) => sendErr(exchange, 404, msg)
        }
      case ("GET", ContentsPath(ref, key)) =>
        contentsJson(spark, table, ref, key) match {
          case Right(body) => send(exchange, 200, body)
          case Left(msg) => sendErr(exchange, 404, msg)
        }
      case ("GET", DiffPath(from, to)) =>
        diffJson(spark, table, from, to) match {
          case Right(body) => send(exchange, 200, body)
          case Left(msg) => sendErr(exchange, 404, msg)
        }
      case ("POST", CommitPath(ref)) => commitRef(spark, table, ref, exchange)
      case ("POST", MergePath(ref)) => mergeRef(spark, table, ref, exchange)
      case ("PUT", RefPath(ref)) => assignRef(spark, table, ref, exchange)
      case ("DELETE", RefPath(ref)) => deleteRef(spark, table, ref, exchange)
      case ("GET" | "POST" | "PUT" | "DELETE", _) =>
        send(exchange, 404, """{"message":"no route"}""")
      case _ => send(exchange, 405, """{"message":"method not allowed"}""")
    }
  }

  private final class PathMatcher(pattern: String) {
    private val re = pattern.r
    def unapply(path: String): Option[String] = path match {
      case re(ref) => Some(java.net.URLDecoder.decode(ref, "UTF-8"))
      case _ => None
    }
  }
  private val HistoryPath = new PathMatcher("/api/v2/trees/([^/]+)/history")
  private val EntriesPath = new PathMatcher("/api/v2/trees/([^/]+)/entries")
  private val CommitPath = new PathMatcher("/api/v2/trees/([^/]+)/history/commit")
  private val MergePath = new PathMatcher("/api/v2/trees/([^/]+)/history/merge")
  private val RefPath = new PathMatcher("/api/v2/trees/([^/]+)")

  private final class PathMatcher2(pattern: String) {
    private val re = pattern.r
    def unapply(path: String): Option[(String, String)] = path match {
      case re(a, b) => Some((java.net.URLDecoder.decode(a, "UTF-8"),
        java.net.URLDecoder.decode(b, "UTF-8")))
      case _ => None
    }
  }
  private val ContentsPath =
    new PathMatcher2("/api/v2/trees/([^/]+)/contents/([^/]+)")
  private val DiffPath =
    new PathMatcher2("/api/v2/trees/([^/]+)/diff/([^/]+)")

  private def queryParams(exchange: HttpExchange): Map[String, String] =
    Option(exchange.getRequestURI.getQuery).map(_.split("&").toSeq).getOrElse(Seq.empty)
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
          case _ => None
        }
      }.toMap

  private def refJson(name: String, tpe: String, seq: Long): String = {
    val n = mapper.createObjectNode()
    val ref = mapper.createObjectNode()
    ref.put("name", name)
    ref.put("type", tpe)
    ref.put("hash", hashOf(seq))
    n.set[ObjectNode]("reference", ref)
    mapper.writeValueAsString(n)
  }

  /** `POST /trees?name=X&type=BRANCH[&sourceRefName=R]`: fork a branch
    * off main's head, or off a TAG when the source ref names one (the
    * "create branch X at tag Y" workflow). 409 on a duplicate branch —
    * Nessie's REFERENCE_ALREADY_EXISTS. */
  private def createReference(spark: SparkSession, table: String,
      exchange: HttpExchange): Unit = {
    val params = queryParams(exchange)
    val name = params.getOrElse("name", "")
    if (name.isEmpty || params.getOrElse("type", "BRANCH") != "BRANCH") {
      send(exchange, 400, """{"message":"name + type=BRANCH required"}"""); return
    }
    val source = params.get("sourceRefName").filterNot(_ == "main")
    try {
      source match {
        case Some(tag) => Layout.createBranchAt(spark, table, name, tag)
        case None => Layout.createBranch(spark, table, name)
      }
      val seq = Manifests.loadRefs(Manifests.root(spark, table))
        .tags.getOrElse(s"__fork_$name", -1L)
      send(exchange, 200, refJson(name, "BRANCH", seq))
    } catch {
      case e: IllegalArgumentException if e.getMessage.contains("already exists") =>
        sendErr(exchange, 409, e.getMessage)
      case e: IllegalArgumentException =>
        sendErr(exchange, 400, e.getMessage)
    }
  }

  /** The table a ref's commits land on: main = the table itself; any
    * other branch = its branch table ([[Layout.branchTableName]]). */
  private def refTable(table: String, ref: String): String =
    if (ref == "main") table else Layout.branchTableName(table, ref)

  /** `POST /trees/{branch}/history/commit`: the Nessie commit contract
    * lowered to [[Manifests.commit]]. Operations carry metadata pointers
    * (path/records/bytes per PUT) — the data plane moved the bytes. */
  private def commitRef(spark: SparkSession, table: String, ref: String,
      exchange: HttpExchange): Unit = {
    val target = refTable(table, ref)
    if (ref != "main" && !spark.catalog.tableExists(target)) {
      sendErr(exchange, 404, s"reference not found: $ref"); return
    }
    val body = mapper.readTree(exchange.getRequestBody)
    val head = Manifests.loadRefs(Manifests.root(spark, target)).head
    val expected = Option(body.get("expectedHash")).map(_.asText())
    if (expected.exists(h => seqOf(h) != head)) {
      sendErr(exchange, 409, s"expected hash ${expected.get} is not head ${hashOf(head)}: commit conflict")
      return
    }
    val message = Option(body.at("/commitMeta/message").asText(""))
      .filter(_.nonEmpty).getOrElse("commit")
    val ops = Option(body.get("operations")).map(_.elements())
    val files = ops.map { it =>
      val b = Seq.newBuilder[Manifests.FileEntry]
      while (it.hasNext) {
        val op = it.next()
        if (op.path("op").asText("PUT") == "PUT")
          b += Manifests.FileEntry(
            path = op.path("path").asText(),
            records = op.path("records").asLong(0L),
            bytes = op.path("bytes").asLong(0L),
            lower = Map.empty, upper = Map.empty)
      }
      b.result()
    }.getOrElse(Seq.empty)
    try {
      val seq = Manifests.commit(spark, target, message,
        basePath = body.path("basePath").asText(""),
        schemaJson = body.path("schemaJson").asText("{}"),
        files = files)
      val n = mapper.createObjectNode()
      val tb = mapper.createObjectNode()
      tb.put("name", ref)
      tb.put("type", "BRANCH")
      tb.put("hash", hashOf(seq))
      n.set[ObjectNode]("targetBranch", tb)
      send(exchange, 200, mapper.writeValueAsString(n))
    } catch {
      case e: Manifests.ConcurrentCommitException =>
        sendErr(exchange, 409, e.getMessage)
    }
  }

  /** `POST /trees/main/history/merge` `{"fromRefName": branch}`:
    * fast-forward [[Layout.mergeBranch]]; a moved main → the 409 a
    * non-fast-forward Nessie merge returns, refs intact for a rebase. */
  private def mergeRef(spark: SparkSession, table: String, ref: String,
      exchange: HttpExchange): Unit = {
    if (ref != "main") {
      send(exchange, 400, """{"message":"merge target must be main"}"""); return
    }
    val from = mapper.readTree(exchange.getRequestBody)
      .path("fromRefName").asText("")
    try {
      Layout.mergeBranch(spark, table, from)
      val head = Manifests.loadRefs(Manifests.root(spark, table)).head
      send(exchange, 200, refJson("main", "BRANCH", head))
    } catch {
      case e: IllegalArgumentException =>
        sendErr(exchange, 404, e.getMessage)
      case e: IllegalStateException if e.getMessage.contains("conflict") =>
        sendErr(exchange, 409, e.getMessage)
    }
  }

  /** `PUT /trees/{name}` or `/trees/{name}@{expectedHash}` — Nessie's
    * AssignReference verb: move a branch's head to the snapshot named by
    * the body's `hash` ([[Layout.assignHead]]: one CAS pointer swap, no
    * data movement — the rollback shape that still works at 100 TB).
    * `@expectedHash` is the optimistic-concurrency guard real Nessie
    * puts in the path: stale → 409 with both hashes named. 404 unknown
    * ref, 400 a hash that names no committed snapshot of that ref.
    * A name that resolves to a TAG reassigns the tag pointer instead
    * ([[Layout.assignTag]]) — AssignReference covers both ref kinds. */
  private def assignRef(spark: SparkSession, table: String, refRaw: String,
      exchange: HttpExchange): Unit = {
    val (ref, expected) = refRaw.split("@", 2) match {
      case Array(n, h) => (n, Some(h))
      case _ => (refRaw, None)
    }
    val target = refTable(table, ref)
    val isBranch = ref == "main" || spark.catalog.tableExists(target)
    // Nessie's AssignReference also covers TAG refs: a PUT whose name
    // resolves to no branch but sits in the main table's tag map (fork
    // tags are internal branch anchors, never client refs) reassigns
    // the tag's pointer instead — same verb, same guards.
    val isTag = !isBranch && !ref.startsWith("__fork_") &&
      Manifests.loadRefs(Manifests.root(spark, table)).tags.contains(ref)
    if (!isBranch && !isTag) {
      sendErr(exchange, 404, s"reference not found: $ref"); return
    }
    // both hash parses map to 400 (a malformed guard hash is a client
    // error, never a 500); the guard COMPARISON itself runs inside
    // the assign CAS closure — atomic with the swap, so a commit
    // racing past a passed outside check can no longer be clobbered
    val expectedSeq =
      try expected.map(seqOf)
      catch {
        case _: NumberFormatException =>
          sendErr(exchange, 400, s"malformed expected hash: ${expected.get}")
          return
      }
    val hash = mapper.readTree(exchange.getRequestBody).path("hash").asText("")
    val seq = try seqOf(hash) catch { case _: NumberFormatException => -1L }
    try {
      if (isTag) {
        Layout.assignTag(spark, table, ref, seq, expectedSeq)
        send(exchange, 200, refJson(ref, "TAG", seq))
      } else {
        Layout.assignHead(spark, target, seq, expectedSeq)
        send(exchange, 200, refJson(ref, "BRANCH", seq))
      }
    } catch {
      case e: Layout.AssignConflictException =>
        sendErr(exchange, 409, e.getMessage)
      case e: IllegalArgumentException =>
        sendErr(exchange, 400, e.getMessage)
    }
  }

  /** `DELETE /trees/{branch}`: abandon the branch; main untouched. */
  private def deleteRef(spark: SparkSession, table: String, ref: String,
      exchange: HttpExchange): Unit = {
    if (ref == "main") {
      send(exchange, 400, """{"message":"cannot delete main"}"""); return
    }
    if (!spark.catalog.tableExists(refTable(table, ref))) {
      sendErr(exchange, 404, s"reference not found: $ref"); return
    }
    Layout.dropBranch(spark, table, ref)
    send(exchange, 200, "{}")
  }

  /** Error body with the message as a properly-escaped JSON string value —
    * exception messages and client-supplied path segments can contain
    * quotes/backslashes that would otherwise yield malformed JSON. */
  private def sendErr(exchange: HttpExchange, code: Int, msg: String): Unit = {
    val node = mapper.createObjectNode()
    node.put("message", msg)
    send(exchange, code, mapper.writeValueAsString(node))
  }

  private def send(exchange: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    exchange.getResponseHeaders.set("Content-Type", "application/json")
    exchange.sendResponseHeaders(code, bytes.length.toLong)
    val os = exchange.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** The `GET /trees` body, straight from [[Layout.listRefs]]. */
  def referencesJson(spark: SparkSession, table: String): String = {
    val rows = Layout.listRefs(spark, table).collect()
    val root = mapper.createObjectNode()
    val refs = mapper.createArrayNode()
    rows.foreach { r =>
      val n = mapper.createObjectNode()
      n.put("name", r.getString(0))
      n.put("type", r.getString(1).toUpperCase)
      n.put("hash", hashOf(r.getLong(2)))
      refs.add(n)
    }
    root.set[ObjectNode]("references", refs)
    mapper.writeValueAsString(root)
  }

  /** The `GET /trees/{ref}/history` body: [[Layout.commitLog]] truncated
    * to the chain reachable from `ref`'s snapshot, newest first. None if
    * the ref doesn't exist. */
  def historyJson(spark: SparkSession, table: String, ref: String): Option[String] = {
    val refRows = Layout.listRefs(spark, table).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    refRows.get(ref).map { tip =>
      val log = Layout.commitLog(spark, table).collect()
      // walk the parent chain from the tip — a ref's history is its
      // reachable commits, not every commit in the table
      val bySeq = log.map(r => r.getLong(0) -> r).toMap
      val chain = Iterator.iterate(tip)(s => bySeq.get(s)
        .map(_.getLong(1)).getOrElse(-1L))
        .takeWhile(_ >= 0).flatMap(bySeq.get).toSeq
      val root = mapper.createObjectNode()
      val entries = mapper.createArrayNode()
      chain.foreach { r =>
        val entry = mapper.createObjectNode()
        val meta = mapper.createObjectNode()
        meta.put("hash", hashOf(r.getLong(0)))
        meta.put("message", r.getString(2))
        meta.put("numFiles", r.getLong(3))
        meta.put("numRecords", r.getLong(4))
        meta.put("totalBytes", r.getLong(5))
        entry.set[ObjectNode]("commitMeta", meta)
        if (r.getLong(1) >= 0)
          entry.put("parentCommitHash", hashOf(r.getLong(1)))
        entries.add(entry)
      }
      root.set[ObjectNode]("logEntries", entries)
      mapper.writeValueAsString(root)
    }
  }

  /** Resolve a ref name to the TABLE its snapshots live on and the seq
    * it points at: main → (table, head); a branch → its branch table's
    * own head (commits land there — the fork seq main's refs carry is
    * the fork POINT, not the branch tip); a tag → (table, tag seq).
    * None for an unknown ref. */
  private def resolveRef(spark: SparkSession, table: String,
      ref: String): Option[(String, String, Long)] = {
    if (ref == "main")
      Some((table, "BRANCH", Manifests.loadRefs(Manifests.root(spark, table)).head))
    else if (spark.catalog.tableExists(refTable(table, ref))) {
      val bt = refTable(table, ref)
      Some((bt, "BRANCH", Manifests.loadRefs(Manifests.root(spark, bt)).head))
    } else
      Manifests.loadRefs(Manifests.root(spark, table)).tags.get(ref)
        .filterNot(_ => ref.startsWith("__fork_"))
        .map(seq => (table, "TAG", seq))
  }

  /** The Nessie v2 Content object for the served table at a resolved
    * (refTable, seq): ICEBERG_TABLE with `metadataLocation` = the actual
    * manifest file the read path loads ([[Manifests.Refs.snapName]]) and
    * `snapshotId` = the graft seq. None below the first commit. */
  private def contentNode(spark: SparkSession, tbl: String,
      seq: Long): Option[ObjectNode] =
    if (seq < 0) None
    else {
      val root = Manifests.root(spark, tbl)
      val refs = Manifests.loadRefs(root)
      val n = mapper.createObjectNode()
      n.put("type", "ICEBERG_TABLE")
      n.put("id", tbl)
      n.put("metadataLocation", root.resolve(refs.snapName(seq)).toString)
      n.put("snapshotId", seq)
      Some(n)
    }

  /** `GET /trees/{ref}/contents/{key}` — the table pointer a catalog
    * client (Trino via iceberg.properties:4-7 in the reference compose)
    * asks for before planning a scan: the content object at the ref plus
    * the effective reference it was resolved against. 404s: unknown ref,
    * a key that isn't the served table, a ref with no committed content
    * yet — each the CONTENT_NOT_FOUND/REFERENCE_NOT_FOUND split real
    * Nessie makes. */
  def contentsJson(spark: SparkSession, table: String, ref: String,
      key: String): Either[String, String] =
    resolveRef(spark, table, ref) match {
      case None => Left(s"reference not found: $ref")
      case Some(_) if key != table => Left(s"content not found: $key")
      case Some((tbl, tpe, seq)) =>
        contentNode(spark, tbl, seq) match {
          case None => Left(s"content not found: $key (no commits at $ref)")
          case Some(content) =>
            val root = mapper.createObjectNode()
            root.set[ObjectNode]("content", content)
            val eff = mapper.createObjectNode()
            eff.put("name", ref)
            eff.put("type", tpe)
            eff.put("hash", hashOf(seq))
            root.set[ObjectNode]("effectiveReference", eff)
            Right(mapper.writeValueAsString(root))
        }
    }

  /** `GET /trees/{ref}/entries` — the key listing a catalog client
    * walks before resolving contents (Nessie's EntriesResponse): one
    * ICEBERG_TABLE entry for the served table when the ref has
    * committed content, an EMPTY listing below the first commit (the
    * ref exists; it just serves nothing yet — real Nessie's behavior
    * for an empty branch), 404 for an unknown ref. Completes the v2
    * READ surface: references / history / entries / contents / diff. */
  def entriesJson(spark: SparkSession, table: String,
      ref: String): Either[String, String] =
    resolveRef(spark, table, ref) match {
      case None => Left(s"reference not found: $ref")
      case Some((tbl, tpe, seq)) =>
        val root = mapper.createObjectNode()
        val arr = root.putArray("entries")
        if (seq >= 0) {
          val e = mapper.createObjectNode()
          val name = mapper.createObjectNode()
          name.putArray("elements").add(table)
          e.set[ObjectNode]("name", name)
          e.put("type", "ICEBERG_TABLE")
          // the content id a client correlates across refs: the served
          // table name — one content, many ref-dependent snapshots
          e.put("contentId", tbl)
          arr.add(e)
          ()
        }
        val eff = mapper.createObjectNode()
        eff.put("name", ref)
        eff.put("type", tpe)
        if (seq >= 0) eff.put("hash", hashOf(seq)): Unit
        root.set[ObjectNode]("effectiveReference", eff)
        Right(mapper.writeValueAsString(root))
    }

  /** `GET /trees/{from}/diff/{to}` — Nessie's DiffResponse over the one
    * served key: an empty `diffs` list when both refs resolve to the
    * same snapshot, else one entry with the from/to content objects PLUS
    * the manifest FILE-diff the snapshots prove (files only in from =
    * removed, only in to = added, record-count delta) — the
    * [[Layout.changesBetween]] story at file granularity, driver-side
    * over two in-memory manifests, no data scan at all. */
  def diffJson(spark: SparkSession, table: String, from: String,
      to: String): Either[String, String] =
    (resolveRef(spark, table, from), resolveRef(spark, table, to)) match {
      case (None, _) => Left(s"reference not found: $from")
      case (_, None) => Left(s"reference not found: $to")
      case (Some((ft, _, fs)), Some((tt, _, ts))) =>
        val root = mapper.createObjectNode()
        val diffs = mapper.createArrayNode()
        if (!(ft == tt && fs == ts)) {
          val entry = mapper.createObjectNode()
          val keyNode = mapper.createObjectNode()
          val elems = mapper.createArrayNode()
          elems.add(table)
          keyNode.set[com.fasterxml.jackson.databind.JsonNode]("elements", elems)
          entry.set[ObjectNode]("key", keyNode)
          contentNode(spark, ft, fs).foreach(entry.set[ObjectNode]("from", _))
          contentNode(spark, tt, ts).foreach(entry.set[ObjectNode]("to", _))
          def filesAt(tbl: String, seq: Long): Map[String, Long] =
            if (seq < 0) Map.empty
            else {
              val r = Manifests.root(spark, tbl)
              val snap = Manifests.loadSnapshot(r, seq)
              snap.files.map(f => f.path -> f.records).toMap
            }
          val before = filesAt(ft, fs)
          val after = filesAt(tt, ts)
          entry.put("filesAdded", (after.keySet -- before.keySet).size)
          entry.put("filesRemoved", (before.keySet -- after.keySet).size)
          entry.put("recordsDelta", after.values.sum - before.values.sum)
          diffs.add(entry)
        }
        root.set[ObjectNode]("diffs", diffs)
        Right(mapper.writeValueAsString(root))
    }
}
