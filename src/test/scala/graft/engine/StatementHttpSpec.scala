package graft.engine

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.SparkSpec

/** The Trino v1 wire protocol over a REAL socket: the verbatim
  * statement sequence the reference's seed client emits
  * (`/root/reference/compose/seed.sh:32-118`, post-shell-unquoting —
  * exactly the bytes `trino --execute` POSTs to `/v1/statement`),
  * driven end-to-end: readiness probes, schema + five tables created
  * and populated, the q03 union verification read back over paging. */
class StatementHttpSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  /** Protocol walker — what the Trino CLI does under the hood: POST the
    * statement, follow nextUri until it disappears, accumulate data. */
  private def run(server: StatementHttp.Server, sql: String)
      : (Seq[String], Seq[Seq[JsonNode]], JsonNode) = {
    val post = client.send(HttpRequest.newBuilder(URI.create(server.uri("/v1/statement")))
      .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(post.statusCode() === 200)
    var node = mapper.readTree(post.body())
    assert(node.at("/stats/state").asText() === "QUEUED")
    val rows = Seq.newBuilder[Seq[JsonNode]]
    var cols: Seq[String] = Seq.empty
    var pages = 0
    var last = node
    while (node.hasNonNull("nextUri")) {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(node.get("nextUri").asText())).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      node = mapper.readTree(r.body())
      last = node
      pages += 1
      assert(pages < 10000, "runaway paging")
      if (node.has("columns"))
        cols = (0 until node.get("columns").size())
          .map(i => node.at(s"/columns/$i/name").asText())
      if (node.has("data"))
        (0 until node.get("data").size()).foreach { i =>
          val row = node.at(s"/data/$i")
          rows += (0 until row.size()).map(row.get)
        }
    }
    (cols, rows.result(), last)
  }

  test("the verbatim seed.sh statement sequence drives the engine over the socket") {
    val server = StatementHttp.start(spark)
    try {
      // readiness probes (seed.sh:33, :49)
      val (_, one, s1) = run(server, "SELECT 1")
      assert(one === Seq(Seq(mapper.getNodeFactory.numberNode(1))) ||
        one.map(_.map(_.asInt())) === Seq(Seq(1)))
      assert(s1.at("/stats/state").asText() === "FINISHED")
      val (_, cats, _) = run(server, "SHOW CATALOGS")
      assert(cats.map(_.head.asText()).contains("iceberg"))
      // the statement sequence, byte-for-byte what the CLI posts
      // (seed.sh:65-115 with the shell's '\'' unquoted to ')
      val statements = Seq(
        "CREATE SCHEMA IF NOT EXISTS iceberg.demo WITH (location='s3://warehouse/demo/');",
        "DROP TABLE IF EXISTS iceberg.demo.events;",
        "CREATE TABLE iceberg.demo.events (id bigint, ts timestamp, event_type varchar, payload varchar, user_id bigint, amount double);",
        "INSERT INTO iceberg.demo.events SELECT n AS id, current_timestamp - INTERVAL '1' DAY * (n % 30), CASE (n % 5) WHEN 0 THEN 'click' WHEN 1 THEN 'purchase' WHEN 2 THEN 'view' WHEN 3 THEN 'login' ELSE 'logout' END, 'Event ' || CAST(n AS varchar), (n % 50) + 1, (n * 10.5) + 100.0 FROM UNNEST(sequence(1, 200)) AS t(n);",
        "DROP TABLE IF EXISTS iceberg.demo.users;",
        "CREATE TABLE iceberg.demo.users (user_id bigint, username varchar, email varchar, created_at timestamp, country varchar, active boolean);",
        "INSERT INTO iceberg.demo.users SELECT n AS user_id, 'user' || CAST(n AS varchar), 'user' || CAST(n AS varchar) || '@example.com', current_timestamp - INTERVAL '1' DAY * (n % 90), CASE (n % 10) WHEN 0 THEN 'US' WHEN 1 THEN 'UK' WHEN 2 THEN 'DE' WHEN 3 THEN 'FR' WHEN 4 THEN 'CA' WHEN 5 THEN 'AU' WHEN 6 THEN 'JP' WHEN 7 THEN 'BR' WHEN 8 THEN 'IN' ELSE 'MX' END, n % 3 != 0 FROM UNNEST(sequence(1, 50)) AS t(n);",
        "DROP TABLE IF EXISTS iceberg.demo.orders;",
        "CREATE TABLE iceberg.demo.orders (order_id bigint, user_id bigint, product_id bigint, quantity integer, price double, order_date timestamp, status varchar);",
        "INSERT INTO iceberg.demo.orders SELECT n AS order_id, (n % 50) + 1, (n % 20) + 1, (n % 5) + 1, (n * 15.75) + 50.0, current_timestamp - INTERVAL '1' DAY * (n % 60), CASE (n % 4) WHEN 0 THEN 'completed' WHEN 1 THEN 'pending' WHEN 2 THEN 'shipped' ELSE 'cancelled' END FROM UNNEST(sequence(1, 150)) AS t(n);",
        "DROP TABLE IF EXISTS iceberg.demo.products;",
        "CREATE TABLE iceberg.demo.products (product_id bigint, name varchar, category varchar, price double, stock integer, created_at timestamp);",
        "INSERT INTO iceberg.demo.products SELECT n AS product_id, 'Product ' || CAST(n AS varchar), CASE (n % 5) WHEN 0 THEN 'Electronics' WHEN 1 THEN 'Clothing' WHEN 2 THEN 'Books' WHEN 3 THEN 'Home' ELSE 'Sports' END, (n * 25.50) + 10.0, (n * 10) + 50, current_timestamp - INTERVAL '1' DAY * n FROM UNNEST(sequence(1, 20)) AS t(n);",
        "DROP TABLE IF EXISTS iceberg.demo.transactions;",
        "CREATE TABLE iceberg.demo.transactions (transaction_id bigint, user_id bigint, amount double, currency varchar, transaction_type varchar, timestamp timestamp, status varchar);",
        "INSERT INTO iceberg.demo.transactions SELECT n AS transaction_id, (n % 50) + 1, (n * 12.34) + 5.0, CASE (n % 3) WHEN 0 THEN 'USD' WHEN 1 THEN 'EUR' ELSE 'GBP' END, CASE (n % 3) WHEN 0 THEN 'payment' WHEN 1 THEN 'refund' ELSE 'transfer' END, current_timestamp - INTERVAL '1' HOUR * (n % 720), CASE (n % 10) WHEN 0 THEN 'failed' ELSE 'success' END FROM UNNEST(sequence(1, 300)) AS t(n);")
      statements.foreach { stmt =>
        val (_, _, fin) = run(server, stmt)
        assert(fin.at("/stats/state").asText() === "FINISHED", s"statement failed: $stmt")
      }
      // the verification union (seed.sh:118) — the q03 read-back
      val (cols, rows, _) = run(server,
        "SELECT 'events' AS table_name, count(*) AS rows FROM iceberg.demo.events UNION ALL SELECT 'users', count(*) FROM iceberg.demo.users UNION ALL SELECT 'orders', count(*) FROM iceberg.demo.orders UNION ALL SELECT 'products', count(*) FROM iceberg.demo.products UNION ALL SELECT 'transactions', count(*) FROM iceberg.demo.transactions ORDER BY table_name;")
      assert(cols === Seq("table_name", "rows"))
      assert(rows.map(r => (r(0).asText(), r(1).asLong())) === Seq(
        "events" -> 200L, "orders" -> 150L, "products" -> 20L,
        "transactions" -> 300L, "users" -> 50L))
    } finally server.stop()
  }

  test("paging: a multi-page result streams through nextUri with stable columns") {
    val server = StatementHttp.start(spark, pageSize = 100)
    try {
      val (cols, rows, last) = run(server,
        "SELECT n, n * 2 AS d FROM UNNEST(sequence(1, 250)) AS t(n) ORDER BY n")
      assert(cols === Seq("n", "d"))
      assert(rows.size === 250)
      assert(rows.head.map(_.asLong()) === Seq(1L, 2L))
      assert(rows.last.map(_.asLong()) === Seq(250L, 500L))
      assert(last.at("/stats/state").asText() === "FINISHED")
    } finally server.stop()
  }

  test("failure: a bad statement answers error + FAILED and stops paging; oversized results refuse") {
    val server = StatementHttp.start(spark, maxRows = 100)
    try {
      val (_, _, fail) = run(server, "SELECT FROM nothing WHERE")
      assert(fail.at("/stats/state").asText() === "FAILED")
      assert(fail.at("/error/errorType").asText() === "USER_ERROR")
      assert(!fail.hasNonNull("nextUri"))
      val (_, _, big) = run(server,
        "SELECT n FROM UNNEST(sequence(1, 200)) AS t(n)")
      assert(big.at("/stats/state").asText() === "FAILED")
      assert(big.at("/error/message").asText().contains("wire-protocol bound"))
    } finally server.stop()
  }

  test("type mapping: Trino column types for the core Spark types") {
    val server = StatementHttp.start(spark)
    try {
      val post = client.send(HttpRequest.newBuilder(URI.create(server.uri("/v1/statement")))
        .POST(HttpRequest.BodyPublishers.ofString(
          "SELECT CAST(1 AS bigint) a, CAST(1 AS int) b, 1.5 c, 'x' d, true e, current_timestamp f, CAST(1.5 AS decimal(10,2)) g"))
        .build(), HttpResponse.BodyHandlers.ofString())
      var node = mapper.readTree(post.body())
      while (node.hasNonNull("nextUri") && !node.has("columns"))
        node = mapper.readTree(client.send(HttpRequest.newBuilder(
          URI.create(node.get("nextUri").asText())).GET().build(),
          HttpResponse.BodyHandlers.ofString()).body())
      val types = (0 until node.get("columns").size())
        .map(i => node.at(s"/columns/$i/type").asText())
      assert(types === Seq("bigint", "integer", "decimal(2,1)", "varchar",
        "boolean", "timestamp(3)", "decimal(10,2)"))
      // timestamp data cell uses Trino's text rendering
      val f = node.at("/data/0/5").asText()
      assert(f.matches("\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}\\.\\d{3}"))
    } finally server.stop()
  }

  test("Superset-shaped chart SQL drives the wire: raw table chart + agg chart (init_db.py:140-157)") {
    // Superset's SQLAlchemy layer generates Trino SQL from form_data and
    // POSTs it to this same /v1/statement surface — so the BI plane's
    // wire-level loop is: seed over the wire, then run the SQL Superset
    // emits for the reference's charts and check the seeded law.
    val server = StatementHttp.start(spark)
    try {
      Seq(
        "DROP TABLE IF EXISTS iceberg.demo.events;",
        "CREATE TABLE iceberg.demo.events (id bigint, ts timestamp, event_type varchar, payload varchar, user_id bigint, amount double);",
        "INSERT INTO iceberg.demo.events SELECT n AS id, current_timestamp - INTERVAL '1' DAY * (n % 30), CASE (n % 5) WHEN 0 THEN 'click' WHEN 1 THEN 'purchase' WHEN 2 THEN 'view' WHEN 3 THEN 'login' ELSE 'logout' END, 'Event ' || CAST(n AS varchar), (n % 50) + 1, (n * 10.5) + 100.0 FROM UNNEST(sequence(1, 200)) AS t(n);")
        .foreach { stmt =>
          assert(run(server, stmt)._3.at("/stats/state").asText() === "FINISHED", stmt)
        }
      // raw-mode table chart (query_mode=raw, all_columns, row_limit 100)
      val (rawCols, rawRows, _) = run(server,
        "SELECT id, ts, event_type, user_id, amount FROM iceberg.demo.events ORDER BY id LIMIT 100")
      assert(rawCols === Seq("id", "ts", "event_type", "user_id", "amount"))
      assert(rawRows.size === 100 && rawRows.head.head.asLong() === 1L)
      // agg chart (groupby event_type, metric count, order_by count desc)
      val (aggCols, aggRows, _) = run(server,
        "SELECT event_type AS event_type, COUNT(*) AS count FROM iceberg.demo.events GROUP BY event_type ORDER BY count DESC, event_type LIMIT 10")
      assert(aggCols === Seq("event_type", "count"))
      // the seed law: 200 events, type = n % 5 → exactly 40 of each
      assert(aggRows.map(r => (r(0).asText(), r(1).asLong())) === Seq(
        "click" -> 40L, "login" -> 40L, "logout" -> 40L,
        "purchase" -> 40L, "view" -> 40L))
    } finally server.stop()
  }

  test("dialect shim is quote-aware and word-bounded; final-page GETs are retriable") {
    val server = StatementHttp.start(spark)
    try {
      // UNNEST inside a string literal is DATA — the rewrite must not
      // touch it; an identifier merely containing the word never fires
      val (_, rows, fin) = run(server,
        "SELECT 'see UNNEST(x) AS t(n) docs' AS msg, 7 AS funnest_7")
      assert(fin.at("/stats/state").asText() === "FINISHED")
      assert(rows.head.head.asText() === "see UNNEST(x) AS t(n) docs")
      // a finished query's last page stays retrievable: re-walk the
      // SAME nextUri chain (a Trino client retries a lost response)
      val post = client.send(HttpRequest.newBuilder(URI.create(server.uri("/v1/statement")))
        .POST(HttpRequest.BodyPublishers.ofString("SELECT 42 AS x")).build(),
        HttpResponse.BodyHandlers.ofString())
      val next = mapper.readTree(post.body()).get("nextUri").asText()
      val first = client.send(HttpRequest.newBuilder(URI.create(next)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(first.statusCode() === 200)
      val retry = client.send(HttpRequest.newBuilder(URI.create(next)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(retry.statusCode() === 200, "retried final-page GET must not 404")
      val body = mapper.readTree(retry.body())
      assert(body.at("/data/0/0").asInt() === 42)
      assert(body.at("/stats/state").asText() === "FINISHED")
    } finally server.stop()
  }

  /** run() with client headers (the Trino CLI/SQLAlchemy shape: user +
    * accumulated session map), returning the final node plus any
    * session headers the server answered. */
  private def runWithHeaders(server: StatementHttp.Server, sql: String,
      user: Option[String] = None, session: Map[String, String] = Map.empty,
      schema: Option[String] = None)
      : (Seq[Seq[JsonNode]], JsonNode, Map[String, String], Option[String],
        Option[String]) = {
    def withHdrs(b: HttpRequest.Builder): HttpRequest.Builder = {
      val b0 = schema.fold(b)(s => b.header("X-Trino-Schema", s))
      val b1 = user.fold(b0)(u => b0.header("X-Trino-User", u))
      if (session.isEmpty) b1
      else b1.header("X-Trino-Session", session.map { case (k, v) =>
        k + "=" + java.net.URLEncoder.encode(v, "UTF-8") }.mkString(","))
    }
    val post = client.send(withHdrs(HttpRequest.newBuilder(
      URI.create(server.uri("/v1/statement"))))
      .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(post.statusCode() === 200)
    var node = mapper.readTree(post.body())
    val rows = Seq.newBuilder[Seq[JsonNode]]
    var setSession = Map.empty[String, String]
    var resetSession: Option[String] = None
    var setSchema: Option[String] = None
    while (node.hasNonNull("nextUri")) {
      val r = client.send(withHdrs(HttpRequest.newBuilder(
        URI.create(node.get("nextUri").asText()))).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      Option(r.headers().firstValue("X-Trino-Set-Session").orElse(null))
        .foreach { kv =>
          val Array(k, v) = kv.split("=", 2)
          setSession += k -> java.net.URLDecoder.decode(v, "UTF-8")
        }
      Option(r.headers().firstValue("X-Trino-Reset-Session").orElse(null))
        .foreach(k => resetSession = Some(k))
      Option(r.headers().firstValue("X-Trino-Set-Schema").orElse(null))
        .foreach(s => setSchema = Some(s))
      node = mapper.readTree(r.body())
      if (node.has("data"))
        (0 until node.get("data").size()).foreach { i =>
          val row = node.at(s"/data/$i")
          rows += (0 until row.size()).map(row.get)
        }
    }
    (rows.result(), node, setSession, resetSession, setSchema)
  }

  test("USE answers set-schema headers; the echoed X-Trino-Schema scopes unqualified names and restores after") {
    val server = StatementHttp.start(spark)
    try {
      Seq(
        "CREATE SCHEMA IF NOT EXISTS iceberg.usedemo;",
        "DROP TABLE IF EXISTS iceberg.usedemo.use_t;",
        "CREATE TABLE iceberg.usedemo.use_t (id bigint);",
        "INSERT INTO iceberg.usedemo.use_t VALUES (1), (2), (3);")
        .foreach(stmt => assert(run(server, stmt)._3.at("/stats/state").asText()
          === "FINISHED", stmt))
      val dbBefore = spark.catalog.currentDatabase
      // USE → protocol headers (catalog echo + schema)
      val (_, fin, _, _, setSchema) = runWithHeaders(server, "USE iceberg.usedemo")
      assert(fin.at("/stats/state").asText() === "FINISHED")
      assert(setSchema === Some("usedemo"))
      // the client echoes the schema; an UNQUALIFIED name resolves in it
      val (n, fin2, _, _, _) = runWithHeaders(server,
        "SELECT count(*) AS n FROM use_t", schema = Some("usedemo"))
      assert(fin2.at("/stats/state").asText() === "FINISHED")
      assert(n.map(_.head.asLong()) === Seq(3L))
      // ...and the server's current database is RESTORED afterwards
      assert(spark.catalog.currentDatabase === dbBefore)
      // unknown schema/catalog refuse like Trino's NOT_FOUND
      val (_, bad, _, _, _) = runWithHeaders(server, "USE nope_schema")
      assert(bad.at("/stats/state").asText() === "FAILED")
      assert(bad.at("/error/message").asText().contains("schema not found"))
      val (_, badCat, _, _, _) = runWithHeaders(server, "USE hive.usedemo")
      assert(badCat.at("/stats/state").asText() === "FAILED")
      assert(badCat.at("/error/message").asText().contains("catalog not found"))
    } finally server.stop()
  }

  /** runWithHeaders plus the prepared-statement echo (what a JDBC
    * client does after X-Trino-Added-Prepare). */
  private def runPrepared(server: StatementHttp.Server, sql: String,
      prepared: Map[String, String])
      : (Seq[Seq[JsonNode]], JsonNode, Option[(String, String)], Option[String]) = {
    val hdr = prepared.map { case (k, v) =>
      k + "=" + java.net.URLEncoder.encode(v, "UTF-8") }.mkString(",")
    def withHdrs(b: HttpRequest.Builder): HttpRequest.Builder =
      if (prepared.isEmpty) b else b.header("X-Trino-Prepared-Statement", hdr)
    val post = client.send(withHdrs(HttpRequest.newBuilder(
      URI.create(server.uri("/v1/statement"))))
      .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(post.statusCode() === 200)
    var node = mapper.readTree(post.body())
    val rows = Seq.newBuilder[Seq[JsonNode]]
    var added: Option[(String, String)] = None
    var dealloc: Option[String] = None
    while (node.hasNonNull("nextUri")) {
      val r = client.send(withHdrs(HttpRequest.newBuilder(
        URI.create(node.get("nextUri").asText()))).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      Option(r.headers().firstValue("X-Trino-Added-Prepare").orElse(null))
        .foreach { kv =>
          val Array(k, v) = kv.split("=", 2)
          added = Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
        }
      Option(r.headers().firstValue("X-Trino-Deallocated-Prepare").orElse(null))
        .foreach(k => dealloc = Some(k))
      node = mapper.readTree(r.body())
      if (node.has("data"))
        (0 until node.get("data").size()).foreach { i =>
          val row = node.at(s"/data/$i")
          rows += (0 until row.size()).map(row.get)
        }
    }
    (rows.result(), node, added, dealloc)
  }

  test("PREPARE/EXECUTE USING/DEALLOCATE: the JDBC parameterized-query loop over the wire") {
    val server = StatementHttp.start(spark)
    try {
      // PREPARE answers the added-prepare header; the server stays
      // stateless — the CLIENT carries the statement
      val text = "SELECT ? + n AS s, '?' AS lit FROM UNNEST(sequence(1, ?)) AS t(n) ORDER BY n"
      val (pr, fin, added, _) = runPrepared(server, s"PREPARE q1 FROM $text",
        Map.empty)
      assert(fin.at("/stats/state").asText() === "FINISHED")
      assert(pr.map(_.map(_.asBoolean())) === Seq(Seq(true)))
      assert(added === Some("q1" -> text))
      // EXECUTE with the echoed map binds ? markers positionally —
      // the ? inside the string literal is DATA, untouched
      val echo = Map(added.get._1 -> added.get._2)
      val (got, fin2, _, _) = runPrepared(server,
        "EXECUTE q1 USING 10, 3", echo)
      assert(fin2.at("/stats/state").asText() === "FINISHED")
      assert(got.map(r => (r(0).asLong(), r(1).asText()))
        === Seq((11L, "?"), (12L, "?"), (13L, "?")))
      // parameter-count mismatches refuse loudly, both directions
      val (_, few, _, _) = runPrepared(server, "EXECUTE q1 USING 10", echo)
      assert(few.at("/stats/state").asText() === "FAILED")
      assert(few.at("/error/message").asText().contains("too few parameters"))
      val (_, many, _, _) = runPrepared(server, "EXECUTE q1 USING 1, 2, 3", echo)
      assert(many.at("/stats/state").asText() === "FAILED")
      assert(many.at("/error/message").asText().contains("too many parameters"))
      // EXECUTE of a statement the client never carried refuses
      val (_, unknown, _, _) = runPrepared(server, "EXECUTE nope", Map.empty)
      assert(unknown.at("/stats/state").asText() === "FAILED")
      assert(unknown.at("/error/message").asText()
        .contains("prepared statement not found"))
      // a bare trailing semicolon must not corrupt the last argument
      // (the CLI always terminates statements with one)
      val (gotSemi, finSemi, _, _) = runPrepared(server,
        "EXECUTE q1 USING 10, 3;", echo)
      assert(finSemi.at("/stats/state").asText() === "FINISHED")
      assert(gotSemi.map(_.head.asLong()) === Seq(11L, 12L, 13L))
      // ARRAY[...] literals are ONE argument — brackets are nesting,
      // not top-level commas
      val (_, _, added2, _) = runPrepared(server,
        "PREPARE q2 FROM SELECT size(?) AS n, ? AS tag", Map.empty)
      val echo2 = Map(added2.get._1 -> added2.get._2)
      val (gotArr, finArr, _, _) = runPrepared(server,
        "EXECUTE q2 USING ARRAY[1,2,3], 'x'", echo2)
      assert(finArr.at("/stats/state").asText() === "FINISHED")
      assert(gotArr.map(r => (r(0).asInt(), r(1).asText())) === Seq((3, "x")))
      // DEALLOCATE answers its header
      val (_, fin3, _, dealloc) = runPrepared(server,
        "DEALLOCATE PREPARE q1", echo)
      assert(fin3.at("/stats/state").asText() === "FINISHED")
      assert(dealloc === Some("q1"))
    } finally server.stop()
  }

  test("X-Trino-User attribution round-trips in stats and error payloads") {
    val server = StatementHttp.start(spark)
    try {
      // the reference's Superset URI connects as user `trino`
      // (compose/superset/init_db.py:9)
      val (rows, fin, _, _, _) = runWithHeaders(server, "SELECT 1", user = Some("trino"))
      assert(rows === Seq(Seq(mapper.getNodeFactory.numberNode(1))) ||
        rows.map(_.map(_.asInt())) === Seq(Seq(1)))
      assert(fin.at("/stats/state").asText() === "FINISHED")
      assert(fin.at("/stats/user").asText() === "trino")
      val (_, fail, _, _, _) = runWithHeaders(server, "SELECT FROM nowhere WHERE",
        user = Some("trino"))
      assert(fail.at("/stats/state").asText() === "FAILED")
      assert(fail.at("/error/user").asText() === "trino")
      // no header → anonymous, never an empty/missing attribution
      val (_, anon, _, _, _) = runWithHeaders(server, "SELECT 1")
      assert(anon.at("/stats/user").asText() === "anonymous")
    } finally server.stop()
  }

  test("SET SESSION answers X-Trino-Set-Session; the echoed map applies to later statements and restores after") {
    val server = StatementHttp.start(spark)
    try {
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      // 1. SET SESSION → protocol header + boolean result page
      val (rows, fin, set, _, _) = runWithHeaders(server,
        "SET SESSION spark.sql.shuffle.partitions = '7'")
      assert(fin.at("/stats/state").asText() === "FINISHED")
      assert(rows.map(_.map(_.asBoolean())) === Seq(Seq(true)))
      assert(set === Map("spark.sql.shuffle.partitions" -> "7"))
      // 2. the client echoes the accumulated map; a dependent statement
      //    sees the override IN FLIGHT (Spark's read-only `SET key` form)
      val (got, fin2, _, _, _) = runWithHeaders(server,
        "SET spark.sql.shuffle.partitions", session = set)
      assert(fin2.at("/stats/state").asText() === "FINISHED")
      assert(got.head.map(_.asText()) === Seq("spark.sql.shuffle.partitions", "7"))
      // 3. ...and the server restored the session conf afterwards
      assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
      // 4. RESET SESSION answers the reset header
      val (_, fin3, _, reset, _) = runWithHeaders(server,
        "RESET SESSION spark.sql.shuffle.partitions")
      assert(fin3.at("/stats/state").asText() === "FINISHED")
      assert(reset === Some("spark.sql.shuffle.partitions"))
      // 5. a property with no Spark equivalent is accepted + echoed,
      //    never applied: the statement still runs
      val (_, fin4, set4, _, _) = runWithHeaders(server,
        "SET SESSION query_max_stage_count = '200'")
      assert(fin4.at("/stats/state").asText() === "FINISHED")
      assert(set4 === Map("query_max_stage_count" -> "200"))
      val (one, fin5, _, _, _) = runWithHeaders(server, "SELECT 1", session = set4)
      assert(fin5.at("/stats/state").asText() === "FINISHED")
      assert(one.map(_.map(_.asInt())) === Seq(Seq(1)))
      // 6. join_distribution_type maps to the broadcast gate and restores
      val gateBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val (gate, fin6, _, _, _) = runWithHeaders(server,
        "SET spark.sql.autoBroadcastJoinThreshold",
        session = Map("join_distribution_type" -> "PARTITIONED"))
      assert(fin6.at("/stats/state").asText() === "FINISHED")
      assert(gate.head.map(_.asText())
        === Seq("spark.sql.autoBroadcastJoinThreshold", "-1"))
      assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") === gateBefore)
    } finally server.stop()
  }

  test("time travel reaches the wire: FOR VERSION AS OF over /v1/statement") {
    val server = StatementHttp.start(spark)
    try {
      val t = "wire_tt_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      Seq(
        s"CREATE TABLE $t (id bigint, v varchar);",
        s"INSERT INTO $t VALUES (1, 'a'), (2, 'b');")
        .foreach(stmt => assert(run(server, stmt)._3.at("/stats/state").asText()
          === "FINISHED", stmt))
      Layout.snapshot(spark, t, "v1")
      assert(run(server, s"INSERT INTO $t VALUES (3, 'c');")
        ._3.at("/stats/state").asText() === "FINISHED")
      val (_, pinned, _) = run(server,
        s"SELECT count(*) AS n FROM $t FOR VERSION AS OF 'v1'")
      assert(pinned.map(_.head.asLong()) === Seq(2L))
      val (_, live, _) = run(server, s"SELECT count(*) AS n FROM $t")
      assert(live.map(_.head.asLong()) === Seq(3L))
      // branch-qualified read in TRINO spelling — the double-quoted
      // identifier requotes to backticks and resolves to the fork
      Layout.createBranch(spark, t, "etl")
      val (_, br, _) = run(server,
        s"""SELECT count(*) AS n FROM "$t@etl"""")
      assert(br.map(_.head.asLong()) === Seq(3L))
    } finally server.stop()
  }

  test("GET /v1/info answers the client handshake; timestamp(3) cells render IDENTICALLY for every client zone") {
    val server = StatementHttp.start(spark)
    try {
      // the trino-python-client/JDBC handshake: GET /v1/info, refuse
      // to proceed while `starting`
      val info = client.send(HttpRequest.newBuilder(
        URI.create(server.uri("/v1/info"))).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(info.statusCode() === 200)
      val n = mapper.readTree(info.body())
      assert(n.at("/coordinator").asBoolean())
      assert(!n.at("/starting").asBoolean())
      assert(n.at("/nodeVersion/version").asText().nonEmpty)
      // timestamp(3) is a zone-LESS type: real Trino renders it the
      // same for every client — a client-zone-shifted rendering would
      // hand two clients different data from one column
      val sql = "SELECT CAST('2026-01-01 00:00:00' AS TIMESTAMP) AS ts"
      def cell(zone: Option[String]): String = {
        def hdr(b: HttpRequest.Builder) =
          zone.fold(b)(z => b.header("X-Trino-Time-Zone", z))
        var node = mapper.readTree(client.send(hdr(HttpRequest.newBuilder(
          URI.create(server.uri("/v1/statement"))))
          .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
          HttpResponse.BodyHandlers.ofString()).body())
        while (node.hasNonNull("nextUri") && !node.has("data"))
          node = mapper.readTree(client.send(hdr(HttpRequest.newBuilder(
            URI.create(node.get("nextUri").asText()))).GET().build(),
            HttpResponse.BodyHandlers.ofString()).body())
        node.at("/data/0/0").asText()
      }
      assert(cell(None) === "2026-01-01 00:00:00.000")
      assert(cell(Some("Asia/Tokyo")) === "2026-01-01 00:00:00.000")
      // ...while an unparseable zone still refuses at registration
      // (the header is validated like Trino's, just not applied to
      // zone-less cell text)
      val bad = client.send(HttpRequest.newBuilder(
        URI.create(server.uri("/v1/statement")))
        .header("X-Trino-Time-Zone", "Not/AZone")
        .POST(HttpRequest.BodyPublishers.ofString("SELECT 1")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() === 400)
    } finally server.stop()
  }

  test("quoted USE spellings resolve or refuse — never fall through to a global schema switch") {
    val server = StatementHttp.start(spark)
    try {
      assert(run(server, "CREATE SCHEMA IF NOT EXISTS iceberg.usequoted;")
        ._3.at("/stats/state").asText() === "FINISHED")
      val dbBefore = spark.catalog.currentDatabase
      // Trino's double-quoted identifier spelling matches the handler
      val (_, fin, _, _, setSchema) = runWithHeaders(server,
        "USE \"iceberg\".\"usequoted\"")
      assert(fin.at("/stats/state").asText() === "FINISHED")
      assert(setSchema === Some("usequoted"))
      assert(spark.catalog.currentDatabase === dbBefore,
        "USE must never mutate the shared session's current database")
      // a USE the handler cannot parse REFUSES instead of reaching
      // Spark's own USE (which would switch the database globally)
      val (_, weird, _, _, _) = runWithHeaders(server, "USE `odd`.`spelling`.`x`")
      assert(weird.at("/stats/state").asText() === "FAILED")
      assert(spark.catalog.currentDatabase === dbBefore)
    } finally server.stop()
  }

  test("Superset dataset lifecycle: introspect the five seeded tables over the socket, then drive chart SQL from the introspected schema") {
    // the WHOLE flow the reference's init performs (init_db.py:28-40 →
    // fetch_metadata() → the trino dialect's information_schema selects;
    // then the table-chart SQL over the introspected columns)
    val server = StatementHttp.start(spark)
    try {
      // the dialect's get_schema_names, verbatim
      val (_, schemas, _) = run(server,
        """SELECT "schema_name" FROM "information_schema"."schemata"""")
      assert(schemas.map(_.head.asText()).contains("demo"))
      // get_table_names: BASE TABLE only, schema-bound
      val (_, tnames, _) = run(server,
        """SELECT "table_name" FROM "information_schema"."tables" """ +
          """WHERE "table_schema" = 'demo' AND "table_type" = 'BASE TABLE' """ +
          """ORDER BY "table_name"""")
      val seeded = Seq("events", "orders", "products", "transactions", "users")
      assert(seeded.toSet.subsetOf(tnames.map(_.head.asText()).toSet),
        s"all five seeded datasets introspect; got ${tnames.map(_.head.asText())}")
      // fetch_metadata() per dataset: the dialect's get_columns — sent
      // as the parameterized EXECUTE IMMEDIATE the trino client uses
      val getCols = "SELECT \"column_name\", \"data_type\", " +
        "\"column_default\", UPPER(\"is_nullable\") AS \"is_nullable\" " +
        "FROM \"information_schema\".\"columns\" " +
        "WHERE \"table_schema\" = ? AND \"table_name\" = ? " +
        "ORDER BY \"ordinal_position\" ASC"
      val introspected = seeded.map { tb =>
        val (cols, rows, fin) = run(server,
          s"EXECUTE IMMEDIATE '${getCols.replace("'", "''")}' USING 'demo', '$tb'")
        assert(fin.at("/stats/state").asText() === "FINISHED",
          s"get_columns failed for $tb: $fin")
        assert(cols === Seq("column_name", "data_type", "column_default",
          "is_nullable"))
        assert(rows.nonEmpty, s"$tb introspects at least one column")
        rows.foreach(r => assert(Set("YES", "NO").contains(r(3).asText())))
        tb -> rows.map(r => (r.head.asText(), r(1).asText()))
      }.toMap
      assert(introspected("events") === Seq(
        ("id", "bigint"), ("ts", "timestamp(3)"), ("event_type", "varchar"),
        ("payload", "varchar"), ("user_id", "bigint"), ("amount", "double")))
      // chart legs over the INTROSPECTED schema (init_db.py's table
      // chart: first five columns, raw mode + the count metric)
      val chartCols = introspected("events").take(5).map(_._1)
      val (rc, raw, _) = run(server,
        s"""SELECT ${chartCols.map(c => s""""$c"""").mkString(", ")}
           |FROM "iceberg"."demo"."events" LIMIT 100""".stripMargin)
      assert(rc === chartCols)
      assert(raw.size === 100)
      val (_, agg, _) = run(server,
        """SELECT COUNT(*) AS count FROM "iceberg"."demo"."events"""")
      assert(agg.map(_.head.asLong()) === Seq(200L))
      // catalog-qualified SHOW — the CLI spellings of the same surface
      val (sc, st, _) = run(server, "SHOW TABLES FROM iceberg.demo")
      assert(sc === Seq("Table"))
      assert(seeded.toSet.subsetOf(st.map(_.head.asText()).toSet))
      val (cc, cshow, _) = run(server, "SHOW COLUMNS FROM iceberg.demo.products")
      assert(cc === Seq("Column", "Type", "Extra", "Comment"))
      assert(cshow.map(r => r.head.asText()) ===
        Seq("product_id", "name", "category", "price", "stock", "created_at"))
      // a dataset built on a VIEW (init_db.py's saved-query layer):
      // create the view over the wire, introspect its columns AND its
      // stored definition — the dialect's get_view_definition, which
      // round 17 served as NULL (the "introspects blind" gap)
      val (_, _, vfin) = run(server,
        """CREATE OR REPLACE VIEW "demo"."big_events" AS """ +
          """SELECT "id", "amount" FROM "demo"."events" WHERE "amount" > 50""")
      assert(vfin.at("/stats/state").asText() === "FINISHED")
      val (_, vtype, _) = run(server,
        """SELECT "table_type" FROM "information_schema"."tables" """ +
          """WHERE "table_schema" = 'demo' AND "table_name" = 'big_events'""")
      assert(vtype.map(_.head.asText()) === Seq("VIEW"))
      val (_, vdef, _) = run(server,
        """SELECT "view_definition" FROM "information_schema"."views" """ +
          """WHERE "table_schema" = 'demo' AND "table_name" = 'big_events'""")
      assert(vdef.size === 1 && !vdef.head.head.isNull &&
        vdef.head.head.asText().contains("50"),
        s"get_view_definition carries the stored body, got $vdef")
      val (vcols, vrows, _) = run(server,
        s"EXECUTE IMMEDIATE '${getCols.replace("'", "''")}' USING 'demo', 'big_events'")
      assert(vcols === Seq("column_name", "data_type", "column_default",
        "is_nullable"))
      assert(vrows.map(r => (r.head.asText(), r(1).asText())) ===
        Seq(("id", "bigint"), ("amount", "double")))
      run(server, """DROP VIEW "demo"."big_events"""")
    } finally server.stop()
  }

  test("CDC and MERGE reach the wire: table_changes and MERGE INTO over /v1/statement") {
    val server = StatementHttp.start(spark)
    try {
      import spark.implicits._
      val t = "wire_cdc_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      Seq((1L, "a")).toDF("id", "v").write.saveAsTable(t)
      Layout.snapshot(spark, t, "w0")
      Seq((2L, "b")).toDF("id", "v").write.mode("append").saveAsTable(t)
      Layout.snapshot(spark, t, "w1")
      val refs = Manifests.loadRefs(Manifests.root(spark, t))
      val (s0, s1) = (refs.tags("w0"), refs.tags("w1"))
      val (cols, feed, fin) = run(server,
        s"SELECT _change_type, id, v FROM TABLE(system.table_changes(" +
          s"'default', '$t', $s0, $s1)) ORDER BY id")
      assert(fin.at("/stats/state").asText() === "FINISHED")
      assert(cols === Seq("_change_type", "id", "v"))
      assert(feed.map(r => (r.head.asText(), r(1).asLong())) ===
        Seq(("insert", 2L)))
      // MERGE INTO over the wire — the Trino statement, Trino's
      // affected-rows answer
      val (mc, mrows, mfin) = run(server,
        s"""MERGE INTO $t AS t USING (SELECT 2 AS id, 'B' AS v) AS s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
      assert(mfin.at("/stats/state").asText() === "FINISHED")
      assert(mc === Seq("rows"))
      assert(mrows.map(_.head.asLong()) === Seq(1L))
      val (_, after, _) = run(server, s"SELECT v FROM $t WHERE id = 2")
      assert(after.map(_.head.asText()) === Seq("B"))
      // Iceberg metadata tables over the wire — Trino's quoted spelling
      // "t$snapshots" requotes through the dialect shim
      val (mcols, msnaps, msfin) = run(server,
        "SELECT operation, record_count FROM \"" + t +
          "$snapshots\" ORDER BY snapshot_id")
      assert(msfin.at("/stats/state").asText() === "FINISHED")
      assert(mcols === Seq("operation", "record_count"))
      assert(msnaps.map(_.head.asText()).contains("merge"),
        "the wire MERGE's own commit is visible in $snapshots")
      // maintenance over the wire: ALTER TABLE EXECUTE optimize
      val (ocols, orows, ofin) = run(server,
        s"ALTER TABLE $t EXECUTE optimize(file_size_threshold => '1GB')")
      assert(ofin.at("/stats/state").asText() === "FINISHED")
      assert(ocols === Seq("files"))
      assert(orows.map(_.head.asInt()) === Seq(1))
      // SHOW STATS FOR over the wire — Trino's column-statistics shape
      val (scols, srows, sfin) = run(server, s"SHOW STATS FOR $t")
      assert(sfin.at("/stats/state").asText() === "FINISHED")
      assert(scols === Seq("column_name", "data_size",
        "distinct_values_count", "nulls_fraction", "row_count",
        "low_value", "high_value"))
      assert(srows.last.apply(4).asDouble() === 2.0, "summary row_count")
      spark.sql(s"DROP TABLE $t")
    } finally server.stop()
  }

  test("row-level DML, snapshot rollback, SHOW SESSION and bare ANALYZE " +
      "reach the wire") {
    val server = StatementHttp.start(spark)
    try {
      import spark.implicits._
      val t = "wire_dml_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
        .write.saveAsTable(t)
      Layout.snapshot(spark, t, "d0")
      val d0 = Manifests.loadRefs(Manifests.root(spark, t)).tags("d0")
      // DELETE / UPDATE in Trino's quoted spelling — the dialect shim
      // requotes and DmlSql routes to the Layout verbs
      val (dcols, drows, dfin) = run(server,
        s"""DELETE FROM "$t" WHERE "id" = 2""")
      assert(dfin.at("/stats/state").asText() === "FINISHED")
      assert(dcols === Seq("rows"))
      assert(drows.map(_.head.asLong()) === Seq(1L))
      val (_, urows, ufin) = run(server,
        s"""UPDATE "$t" SET "v" = 'z' WHERE "id" = 3""")
      assert(ufin.at("/stats/state").asText() === "FINISHED")
      assert(urows.map(_.head.asLong()) === Seq(1L))
      val (_, state, _) = run(server, s"SELECT id, v FROM $t ORDER BY id")
      assert(state.map(r => (r.head.asLong(), r(1).asText())) ===
        Seq((1L, "a"), (3L, "z")))
      // rollback over the wire: back to the d0 snapshot
      val (rcols, rrows, rfin) = run(server,
        s"""ALTER TABLE "$t" EXECUTE rollback_to_snapshot($d0)""")
      assert(rfin.at("/stats/state").asText() === "FINISHED")
      assert(rcols === Seq("rolled_back_to"))
      assert(rrows.map(_.head.asLong()) === Seq(d0))
      val (_, restored, _) = run(server, s"SELECT count(*) FROM $t")
      assert(restored.map(_.head.asLong()) === Seq(3L))
      // bare ANALYZE (Trino's spelling; Spark wants ANALYZE TABLE ...)
      val (_, _, afin) = run(server, s"""ANALYZE "$t"""")
      assert(afin.at("/stats/state").asText() === "FINISHED")
      assert(Lakehouse.tableStats(spark, t).isDefined,
        "ANALYZE must land catalog statistics")
      // SHOW SESSION: the per-client property list — this client's
      // echoed overrides, served property defaults otherwise
      val (srows0, sfin0, _, _, _) = runWithHeaders(server, "SHOW SESSION")
      assert(sfin0.at("/stats/state").asText() === "FINISHED")
      val names0 = srows0.map(_.head.asText())
      assert(names0.contains("join_distribution_type"))
      assert(srows0.find(_.head.asText() == "join_distribution_type")
        .get(1).asText() === "AUTOMATIC")
      val (srows1, _, _, _, _) = runWithHeaders(server, "SHOW SESSION",
        session = Map("join_distribution_type" -> "PARTITIONED",
          "spark.sql.shuffle.partitions" -> "7"))
      val byName = srows1.map(r => r.head.asText() -> r(1).asText()).toMap
      assert(byName("join_distribution_type") === "PARTITIONED")
      assert(byName("spark.sql.shuffle.partitions") === "7")
      val (srows2, _, _, _, _) = runWithHeaders(server,
        "SHOW SESSION LIKE 'join%'")
      assert(srows2.map(_.head.asText()) === Seq("join_distribution_type"))
      // ref DDL over the wire: CREATE TAG in Trino's quoted spelling,
      // then time-travel to it
      val (_, tagRows, tfin) = run(server,
        s"""ALTER TABLE "$t" CREATE TAG wire_tag""")
      assert(tfin.at("/stats/state").asText() === "FINISHED")
      assert(tagRows.map(_.head.asText()) === Seq("wire_tag"))
      val (_, tagged, _) = run(server,
        s"SELECT count(*) FROM $t FOR VERSION AS OF 'wire_tag'")
      assert(tagged.map(_.head.asLong()) === Seq(3L))
      spark.sql(s"DROP TABLE $t")
    } finally server.stop()
  }

  test("an unknown X-Trino-Catalog echo refuses at registration, never a silent accept") {
    val server = StatementHttp.start(spark)
    try {
      def post(catalog: String): Int = client.send(
        HttpRequest.newBuilder(URI.create(server.uri("/v1/statement")))
          .header("X-Trino-Catalog", catalog)
          .POST(HttpRequest.BodyPublishers.ofString("SELECT 1")).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      assert(post("iceberg") === 200)
      assert(post("spark_catalog") === 200)
      // a stranger's catalog would resolve unqualified names HERE while
      // the client believes it is elsewhere — Trino's CATALOG_NOT_FOUND
      assert(post("hive") === 400)
    } finally server.stop()
  }

  test("DELETE abandons a registered query; unknown ids 404") {
    val server = StatementHttp.start(spark)
    try {
      val post = client.send(HttpRequest.newBuilder(URI.create(server.uri("/v1/statement")))
        .POST(HttpRequest.BodyPublishers.ofString("SELECT 1")).build(),
        HttpResponse.BodyHandlers.ofString())
      val next = mapper.readTree(post.body()).get("nextUri").asText()
      val del = client.send(HttpRequest.newBuilder(URI.create(next))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode() === 204)
      val after = client.send(HttpRequest.newBuilder(URI.create(next))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(after.statusCode() === 404)
    } finally server.stop()
  }

  /** A committed table in schema `demo` (one UPDATE = one commit, plus
    * tag `v1`) — the fixture of the schema-qualified metadata spellings. */
  private def committedDemoTable(server: StatementHttp.Server): String = {
    val t = "meta_wire_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    Seq(
      "CREATE SCHEMA IF NOT EXISTS iceberg.demo",
      s"CREATE TABLE iceberg.demo.$t (id bigint, status varchar)",
      s"INSERT INTO iceberg.demo.$t VALUES (1, 'pending'), (2, 'shipped')",
      s"UPDATE iceberg.demo.$t SET status = 'done' WHERE id = 1")
      .foreach(stmt => assert(run(server, stmt)._3.at("/stats/state").asText()
        === "FINISHED", stmt))
    Layout.snapshot(spark, s"demo.$t", "v1")
    t
  }

  test("Trino's schema-qualified $snapshots spelling reads the qualified table's commits") {
    val server = StatementHttp.start(spark)
    try {
      val t = committedDemoTable(server)
      val (_, rows, fin) = run(server,
        s"""SELECT count(*) AS n, max(record_count) AS r FROM iceberg.demo."$t$$snapshots"""")
      assert(fin.at("/stats/state").asText() === "FINISHED", fin.toString)
      assert(rows.size === 1)
      assert(rows.head(0).asLong() >= 1L)
      assert(rows.head(1).asLong() === 2L)
    } finally server.stop()
  }

  test("Trino's schema-qualified $refs spelling reads the qualified table's refs") {
    val server = StatementHttp.start(spark)
    try {
      val t = committedDemoTable(server)
      val (_, rows, fin) = run(server,
        s"""SELECT name, type FROM iceberg.demo."$t$$refs" ORDER BY name""")
      assert(fin.at("/stats/state").asText() === "FINISHED", fin.toString)
      assert(rows.map(r => (r(0).asText(), r(1).asText()))
        === Seq("main" -> "branch", "v1" -> "tag"))
    } finally server.stop()
  }

  test("Trino's schema-qualified $refs spelling lists the qualified table's branches") {
    val server = StatementHttp.start(spark)
    try {
      val t = committedDemoTable(server)
      Layout.createBranch(spark, s"demo.$t", "etl")
      val (_, rows, fin) = run(server,
        s"""SELECT name, type FROM iceberg.demo."$t$$refs" ORDER BY name""")
      assert(fin.at("/stats/state").asText() === "FINISHED", fin.toString)
      assert(rows.map(r => (r(0).asText(), r(1).asText()))
        === Seq("etl" -> "branch", "main" -> "branch", "v1" -> "tag"))
    } finally server.stop()
  }
}
