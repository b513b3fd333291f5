package graft.engine

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Scoped

import graft.SparkSpec

/** Scoped session state ([[Scoped.run]]): overrides a statement or a
  * loop carries live on a cloned session and never reach the shared
  * one — neither work planned on the shared session meanwhile nor
  * another wire statement sees them — and a commit made in a clone is
  * visible to the shared session afterwards. */
class ScopedSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  /** POST one statement with `headers`, follow nextUri; (rows, final page). */
  private def wire(server: StatementHttp.Server, sql: String,
      headers: (String, String)*): (Seq[Seq[JsonNode]], JsonNode) = {
    def req(uri: String) = headers.foldLeft(HttpRequest.newBuilder(URI.create(uri))) {
      case (b, (k, v)) => b.header(k, v)
    }
    var node = mapper.readTree(client.send(req(server.uri("/v1/statement"))
      .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
      HttpResponse.BodyHandlers.ofString()).body())
    val rows = Seq.newBuilder[Seq[JsonNode]]
    while (node.hasNonNull("nextUri")) {
      node = mapper.readTree(client.send(req(node.get("nextUri").asText()).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body())
      if (node.has("data"))
        (0 until node.get("data").size()).foreach { i =>
          val row = node.at(s"/data/$i")
          rows += (0 until row.size()).map(row.get)
        }
    }
    (rows.result(), node)
  }

  private val ExchangeWidth = "hashpartitioning\\(.*, (\\d+)\\)".r

  /** (adaptive?, widths of the hash exchanges) read off a plan's text. */
  private def shape(plan: String): (Boolean, Seq[Int]) =
    (plan.contains("AdaptiveSparkPlan"),
      ExchangeWidth.findAllMatchIn(plan).map(_.group(1).toInt).toSeq)

  test("a scoped body's AQE-off, width-1 conf reaches neither the shared session nor the wire") {
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assume(width != 1)
    val server = StatementHttp.start(spark)
    try {
      Scoped.run(spark, Map("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "1"), None) { scoped =>
        assert(scoped ne spark)
        // the body itself plans with its overrides
        assert(shape(scoped.range(100).groupBy((col("id") % 3).as("k")).count()
          .queryExecution.executedPlan.treeString) === (false, Seq(1)))
        // a plain aggregate planned on the shared session meanwhile
        assert(shape(spark.range(100).groupBy((col("id") % 3).as("k")).count()
          .queryExecution.executedPlan.treeString) === (true, Seq(width)))
        // ...and one sent over the wire meanwhile
        val (rows, fin) = wire(server, "EXPLAIN SELECT n % 3 AS k, count(*) AS c " +
          "FROM UNNEST(sequence(1, 100)) AS t(n) GROUP BY n % 3")
        assert(fin.at("/stats/state").asText() === "FINISHED", fin.toString)
        assert(shape(rows.map(_.head.asText()).mkString("\n")) === (true, Seq(width)))
      }
    } finally server.stop()
  }

  test("an X-Trino-Session override applies to its statement only; the shared session reads its default meanwhile") {
    val default = spark.conf.get("spark.sql.shuffle.partitions")
    assume(default != "7")
    // one UDF reads the SHARED session's conf, the other the conf of the
    // session executing the statement — both evaluated during it
    spark.udf.register("scoped_spec_shared_parts",
      () => SparkSpec.spark.conf.get("spark.sql.shuffle.partitions"))
    spark.udf.register("scoped_spec_statement_parts",
      () => org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.sql.shuffle.partitions"))
    val server = StatementHttp.start(spark)
    try {
      val (rows, fin) = wire(server,
        "SELECT scoped_spec_shared_parts() AS shared, " +
          "scoped_spec_statement_parts() AS statement",
        "X-Trino-Session" -> "spark.sql.shuffle.partitions=7")
      assert(fin.at("/stats/state").asText() === "FINISHED", fin.toString)
      assert(rows.map(_.map(_.asText())) === Seq(Seq(default, "7")))
      assert(spark.conf.get("spark.sql.shuffle.partitions") === default)
    } finally server.stop()
  }

  test("a commit made under an X-Trino-Schema echo is visible to the shared session's next read") {
    val server = StatementHttp.start(spark)
    try {
      Seq(
        "CREATE SCHEMA IF NOT EXISTS iceberg.demo",
        "DROP TABLE IF EXISTS iceberg.demo.orders",
        "CREATE TABLE iceberg.demo.orders (order_id bigint, status varchar)",
        "INSERT INTO iceberg.demo.orders VALUES (1, 'pending'), (2, 'shipped'), (3, 'pending')")
        .foreach(stmt => assert(wire(server, stmt)._2.at("/stats/state").asText()
          === "FINISHED", stmt))
      assert(spark.catalog.currentDatabase === "default")
      def read(): Seq[(Long, String)] =
        spark.sql("SELECT order_id, status FROM demo.orders ORDER BY order_id")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(read() === Seq(1L -> "pending", 2L -> "shipped", 3L -> "pending"))
      val (_, fin) = wire(server,
        "UPDATE orders SET status = 'done' WHERE status = 'pending'",
        "X-Trino-Schema" -> "demo")
      assert(fin.at("/stats/state").asText() === "FINISHED", fin.toString)
      assert(spark.catalog.currentDatabase === "default")
      assert(read() === Seq(1L -> "done", 2L -> "shipped", 3L -> "done"))
    } finally server.stop()
  }
}
