package graft.engine

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{Callable, ConcurrentHashMap, ConcurrentLinkedQueue,
  CountDownLatch, Executors, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.catalyst.QualifiedTableName
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.graft.ParsedSql

import graft.SparkSpec
import graft.ext.WordPiece

/** The latches a statement's UDF blocks on. They live in an object so a
  * UDF reaches them without capturing anything. */
object WireConcurrencySpec {
  @volatile var entered = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)

  def reset(holders: Int): Unit = {
    entered = new CountDownLatch(holders)
    release = new CountDownLatch(1)
  }

  /** Signal entry, then block until released (or interrupted by a kill). */
  def hold(x: Long): Long = {
    entered.countDown()
    release.await(60, TimeUnit.SECONDS)
    x
  }
}

/** The wire front runs statements side by side: a blocked read holds
  * neither another read nor `/v1/info`; `DELETE` cancels a read's jobs;
  * writes stay exclusive under a mixed load of eight clients; a scoped
  * read keeps the shared session's relation cache; responses leave
  * without a delayed-ACK stall. Every wait is on a latch, never a sleep. */
class WireConcurrencySpec extends SparkSpec {
  import WireConcurrencySpec._

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val Timeout = Duration.ofSeconds(20)

  spark.udf.register("wire_conc_hold", (x: Long) => WireConcurrencySpec.hold(x))
  spark.udf.register("wire_conc_group",
    (_: Long) => TaskContext.get().getLocalProperty("spark.jobGroup.id"))

  private val Held = "SELECT wire_conc_hold(id) AS h FROM range(0, 1, 1, 1)"

  private def request(uri: String, headers: Seq[(String, String)]) =
    headers.foldLeft(HttpRequest.newBuilder(URI.create(uri)).timeout(Timeout)) {
      case (b, (k, v)) => b.header(k, v)
    }

  private def post(server: StatementHttp.Server, sql: String,
      headers: (String, String)*): JsonNode =
    mapper.readTree(client.send(request(server.uri("/v1/statement"), headers)
      .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
      HttpResponse.BodyHandlers.ofString()).body())

  private def get(uri: String, headers: Seq[(String, String)] = Nil)
      : HttpResponse[String] =
    client.send(request(uri, headers).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  /** Follow `node`'s nextUri chain: (rows, final page, response headers
    * of the last GET). */
  private def follow(node0: JsonNode, headers: Seq[(String, String)] = Nil)
      : (Seq[Seq[JsonNode]], JsonNode, Map[String, String]) = {
    var node = node0
    var answered = Map.empty[String, String]
    val rows = Seq.newBuilder[Seq[JsonNode]]
    while (node.hasNonNull("nextUri")) {
      val r = get(node.get("nextUri").asText(), headers)
      assert(r.statusCode() === 200, r.body())
      answered = r.headers().map().asScala.map { case (k, v) => k -> v.get(0) }.toMap
      node = mapper.readTree(r.body())
      if (node.has("data"))
        (0 until node.get("data").size()).foreach { i =>
          val row = node.at(s"/data/$i")
          rows += (0 until row.size()).map(row.get)
        }
    }
    (rows.result(), node, answered)
  }

  private def wire(server: StatementHttp.Server, sql: String,
      headers: (String, String)*): (Seq[Seq[JsonNode]], JsonNode) = {
    val (rows, fin, _) = follow(post(server, sql, headers: _*), headers)
    (rows, fin)
  }

  private def state(fin: JsonNode): String = fin.at("/stats/state").asText()

  private def finished(server: StatementHttp.Server, sql: String,
      headers: (String, String)*): Seq[Seq[String]] = {
    val (rows, fin) = wire(server, sql, headers: _*)
    assert(state(fin) === "FINISHED", s"$sql -> $fin")
    rows.map(_.map(_.asText()))
  }

  private def ms(t0: Long): Long = (System.nanoTime() - t0) / 1000000

  private def task[T](body: => T): Callable[T] = () => body

  test("only a statement the parser proves a query takes the shared side") {
    val t = "iceberg.demo.orders"
    val shared = Seq(
      "SELECT 1",
      s"WITH x AS (SELECT * FROM $t) SELECT count(*) FROM x",
      "SELECT * FROM information_schema.tables",
      s"SELECT * FROM `demo.orders$$snapshots`",
      s"SELECT * FROM $t FOR VERSION AS OF 'v1'",
      "SELECT * FROM TABLE(system.table_changes('demo', 'orders', 0, 1))")
    val exclusive = Seq(
      s"INSERT INTO $t VALUES (1)",
      s"UPDATE $t SET v = 1",
      s"DELETE FROM $t WHERE v = 1",
      s"MERGE INTO $t a USING $t b ON a.k = b.k WHEN MATCHED THEN DELETE",
      s"CREATE TABLE demo.x AS SELECT 1 AS one",
      s"ALTER TABLE $t CREATE TAG v2",
      "CALL system.rollback_to_snapshot('demo.orders', 1)",
      "EXPLAIN SELECT 1",
      s"CACHE TABLE $t",
      "SET spark.sql.adaptive.enabled = false",
      s"SHOW STATS FOR $t",
      "SELEC 1")
    def isQuery(sql: String) = ParsedSql.isQuery(spark, TrinoSql.toSpark(sql))
    shared.foreach(sql => assert(isQuery(sql), sql))
    exclusive.foreach(sql => assert(!isQuery(sql), sql))
  }

  test("a statement and /v1/info are served while another statement is blocked") {
    reset(1)
    val server = StatementHttp.start(spark)
    val pool = Executors.newSingleThreadExecutor()
    try {
      finished(server, "SELECT 1")
      val blocked = pool.submit(task(wire(server, Held)))
      assert(entered.await(30, TimeUnit.SECONDS), "the blocked statement never started")
      try {
        val t0 = System.nanoTime()
        assert(finished(server, "SELECT 1 AS one") === Seq(Seq("1")))
        val statementMs = ms(t0)
        val t1 = System.nanoTime()
        assert(get(server.uri("/v1/info")).statusCode() === 200)
        val infoMs = ms(t1)
        assert(!blocked.isDone, "the blocked statement finished before its release")
        assert(statementMs < 1000, s"SELECT 1 took $statementMs ms beside a blocked statement")
        assert(infoMs < 1000, s"/v1/info took $infoMs ms beside a blocked statement")
      } finally release.countDown()
      assert(state(blocked.get(30, TimeUnit.SECONDS)._2) === "FINISHED")
    } finally { release.countDown(); pool.shutdownNow(); server.stop() }
  }

  test("DELETE cancels a read while every statement slot is busy; its thread carries no leftover job group") {
    val server = StatementHttp.start(spark)
    val slots = server.statementSlots
    reset(slots)
    val groupOf = new ConcurrentHashMap[Int, String]()
    val failedGroups = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groupOf.put(e.jobId, _))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobResult != JobSucceeded)
          Option(groupOf.get(e.jobId)).foreach(failedGroups.put)
    }
    spark.sparkContext.addSparkListener(listener)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val held = (1 to slots).map(_ => post(server, Held))
      assert(entered.await(30, TimeUnit.SECONDS), "not every slot got busy")
      val victim = held.head
      val victimId = victim.get("id").asText()
      val victimUri = victim.get("nextUri").asText()
      val waiting = pool.submit(task(get(victimUri)))
      assert(server.awaitPoll(victimId, 20000), "the GET never started waiting")
      val t0 = System.nanoTime()
      val del = client.send(request(victimUri, Nil).DELETE().build(),
        HttpResponse.BodyHandlers.ofString())
      val deleteMs = ms(t0)
      assert(del.statusCode() === 204)
      assert(deleteMs < 1000, s"DELETE took $deleteMs ms")
      val answer = mapper.readTree(waiting.get(20, TimeUnit.SECONDS).body())
      assert(state(answer) === "FAILED", answer.toString)
      assert(answer.at("/error/errorName").asText() === "USER_CANCELED")
      assert(answer.at("/error/errorCode").asInt() === 3)
      assert(answer.at("/error/errorType").asText() === "USER_ERROR")
      assert(Iterator.continually(failedGroups.poll(20, TimeUnit.SECONDS))
        .takeWhile(_ != null).contains(victimId),
        "no failed job of the canceled statement's group")
      assert(get(victimUri).statusCode() === 404)
      // every other slot is still held, so this runs on the victim's thread
      val next = post(server, "SELECT wire_conc_group(id) AS g FROM range(0, 1, 1, 1)")
      val (rows, fin, _) = follow(next)
      assert(state(fin) === "FINISHED", fin.toString)
      assert(rows.map(_.map(_.asText())) === Seq(Seq(next.get("id").asText())))
      release.countDown()
      held.tail.foreach(q => assert(state(follow(q)._2) === "FINISHED"))
    } finally {
      release.countDown()
      pool.shutdownNow()
      spark.sparkContext.removeSparkListener(listener)
      server.stop()
    }
  }

  test("a read under an X-Trino-Schema echo leaves the shared session's relation cache alone") {
    val server = StatementHttp.start(spark)
    try {
      val t = "cache_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      Seq("CREATE SCHEMA IF NOT EXISTS iceberg.demo",
        s"CREATE TABLE iceberg.demo.$t (id bigint)",
        s"INSERT INTO iceberg.demo.$t VALUES (1), (2)").foreach(sql => finished(server, sql))
      assert(spark.catalog.currentDatabase === "default")
      assert(spark.table(s"demo.$t").count() === 2L)
      val catalog = spark.asInstanceOf[ClassicSession].sessionState.catalog
      val key = QualifiedTableName("spark_catalog", "demo", t)
      assert(catalog.getCachedTable(key) != null, "the shared read cached no relation")
      assert(finished(server, s"SELECT count(*) FROM $t", "X-Trino-Schema" -> "demo")
        === Seq(Seq("2")))
      assert(catalog.getCachedTable(key) != null,
        "a scoped read invalidated the shared relation cache")
    } finally server.stop()
  }

  test("TCP_NODELAY: keep-alive /v1/info answers take no delayed-ACK stall") {
    val server = StatementHttp.start(spark)
    try {
      val times = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        assert(get(server.uri("/v1/info")).statusCode() === 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      val median = times(times.size / 2)
      assert(median < 20.0, s"median /v1/info round trip $median ms: ${times.mkString(", ")}")
    } finally server.stop()
  }

  test("eight concurrent wire clients: scoped introspection, metadata, time travel, " +
    "session overrides and aggregates answer right while two clients' writes stay exclusive") {
    import spark.implicits._
    val server = StatementHttp.start(spark)
    val id = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val (a, b, w) = (s"mix_a_$id", s"mix_b_$id", s"mix_w_$id")
    val writes = 4
    val reads = 6
    val pool = Executors.newFixedThreadPool(9)
    try {
      Seq("CREATE SCHEMA IF NOT EXISTS iceberg.demo",
        s"CREATE TABLE iceberg.demo.$a (c1 bigint, c2 varchar, c3 double)",
        s"INSERT INTO iceberg.demo.$a SELECT n, 'x', n * 1.5 FROM UNNEST(sequence(1, 10)) AS t(n)",
        s"CREATE TABLE iceberg.demo.$b (d1 bigint, d2 varchar)",
        s"CREATE TABLE iceberg.demo.$w (k bigint, v bigint)",
        s"INSERT INTO iceberg.demo.$w VALUES (1, 0), (2, 0), (3, 0)",
        s"UPDATE iceberg.demo.$w SET v = 0 WHERE k = 3",
        s"ALTER TABLE iceberg.demo.$w CREATE TAG t0").foreach(sql => finished(server, sql))
      val snapshotsSql = s"""SELECT count(*) FROM iceberg.demo."$w$$snapshots""""
      val snaps0 = finished(server, snapshotsSql).head.head.toLong
      val agg = s"SELECT c1 % 2 AS p, count(*) AS n FROM iceberg.demo.$a GROUP BY c1 % 2 ORDER BY p"
      val docs = Seq("low lower lowest", "new newer newest", "wide wider widest",
        "low new wide").toDF("text")
      val serialMerges = WordPiece.train(docs, "text", numMerges = 6)

      val wrong = new ConcurrentLinkedQueue[String]()
      val go = new CountDownLatch(1)
      def client(name: String)(body: => Unit): java.util.concurrent.Future[Unit] =
        pool.submit(task {
          go.await()
          try body
          catch { case e: Throwable => wrong.add(s"$name: $e") }
        })
      def check(name: String, sql: String, headers: (String, String)*)(
          ok: Seq[Seq[String]] => Boolean): Unit = {
        val (rows, fin) = wire(server, sql, headers: _*)
        val got = rows.map(_.map(_.asText()))
        if (state(fin) != "FINISHED" || !ok(got)) wrong.add(s"$name: $sql -> $fin $got")
      }
      def getColumns(table: String) =
        s"SELECT column_name FROM information_schema.columns WHERE table_schema = 'demo' " +
          s"AND table_name = '$table' ORDER BY ordinal_position"
      val clients = Seq(
        client("get_columns a")((1 to reads).foreach(_ =>
          check("get_columns a", getColumns(a), "X-Trino-Schema" -> "demo")(
            _ == Seq(Seq("c1"), Seq("c2"), Seq("c3"))))),
        client("get_columns b")((1 to reads).foreach(_ =>
          check("get_columns b", getColumns(b), "X-Trino-Schema" -> "demo")(
            _ == Seq(Seq("d1"), Seq("d2"))))),
        client("snapshots") {
          var last = snaps0
          (1 to reads).foreach(_ => check("snapshots", snapshotsSql) { rows =>
            val n = rows.head.head.toLong
            val fine = n >= last && n <= snaps0 + 2 * writes
            last = n
            fine
          })
        },
        client("time travel")((1 to reads).foreach(_ =>
          check("time travel", s"SELECT k, v FROM iceberg.demo.$w FOR VERSION AS OF 't0' ORDER BY k")(
            _ == Seq(Seq("1", "0"), Seq("2", "0"), Seq("3", "0"))))),
        client("set session") {
          val (_, fin, answered) =
            follow(post(server, "SET SESSION spark.sql.adaptive.enabled = false"))
          if (state(fin) != "FINISHED") wrong.add(s"set session: $fin")
          val echo = answered.collectFirst {
            case (k, v) if k.equalsIgnoreCase("X-Trino-Set-Session") => v
          }.getOrElse("")
          if (echo != "spark.sql.adaptive.enabled=false")
            wrong.add(s"set session answered '$echo'")
          (1 to reads).foreach(_ => check("set session", s"EXPLAIN $agg",
            "X-Trino-Session" -> echo)(!_.flatten.mkString("\n").contains("AdaptiveSparkPlan")))
        },
        client("aggregate")((1 to reads).foreach { i =>
          if (i % 2 == 0)
            check("aggregate", s"EXPLAIN $agg")(
              _.flatten.mkString("\n").contains("AdaptiveSparkPlan"))
          else check("aggregate", agg)(_ == Seq(Seq("0", "5"), Seq("1", "5")))
        }),
        client("update")((1 to writes).foreach(_ =>
          check("update", s"UPDATE iceberg.demo.$w SET v = v + 1 WHERE k = 1")(
            _ == Seq(Seq("1"))))),
        client("merge")((1 to writes).foreach(_ =>
          check("merge", s"MERGE INTO iceberg.demo.$w t USING (SELECT 2 AS k, 1 AS d) s " +
            "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = t.v + s.d")(
            _ == Seq(Seq("1"))))),
        client("wordpiece") {
          val merges = WordPiece.train(docs, "text", numMerges = 6)
          if (merges != serialMerges) wrong.add(s"wordpiece: $merges != $serialMerges")
        })
      go.countDown()
      clients.foreach(_.get(300, TimeUnit.SECONDS))
      assert(!wrong.asScala.exists(e => e.contains("FILE_NOT_EXIST") ||
        e.contains("TABLE_OR_VIEW_NOT_FOUND")), wrong.asScala.mkString("\n"))
      assert(wrong.isEmpty, wrong.asScala.mkString("\n"))
      assert(finished(server, s"SELECT k, v FROM iceberg.demo.$w ORDER BY k") ===
        Seq(Seq("1", writes.toString), Seq("2", writes.toString), Seq("3", "0")))
      assert(finished(server, snapshotsSql).head.head.toLong === snaps0 + 2 * writes,
        "every write adds exactly one snapshot")
    } finally { pool.shutdownNow(); server.stop() }
  }
}
