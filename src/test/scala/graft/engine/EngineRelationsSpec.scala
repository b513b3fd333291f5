package graft.engine

import graft.SparkSpec

/** The engine's relations — `information_schema`, the `$` metadata
  * tables, time travel, `t@branch` and `table_changes` — are swapped into
  * the parsed plan of the one statement that names them. Nothing is
  * registered on the shared session, so a statement leaves the session's
  * temporary entries as it found them and concurrent statements cannot
  * read each other's relations. */
class EngineRelationsSpec extends SparkSpec {
  import spark.implicits._

  private def freshName(p: String) =
    p + java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  private def temporaryEntries(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("no spelling leaves a temporary entry on the session, inside EXPLAIN, " +
      "a CTE or a scalar subquery included") {
    val t = freshName("rel_hyg_")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.saveAsTable(t)
    Layout.snapshot(spark, t, "v1")
    Thread.sleep(30) // strictly later createdMs for the second commit
    Seq((3L, "c")).toDF("id", "v").write.mode("append").saveAsTable(t)
    Layout.snapshot(spark, t, "v2")
    Layout.createBranch(spark, t, "etl")
    val refs = Manifests.loadRefs(Manifests.root(spark, t))
    val (s1, s2) = (refs.tags("v1"), refs.tags("v2"))
    val root = Manifests.root(spark, t)
    val ms1 = Manifests.loadSnapshot(root, s1).createdMs
    val newest = Manifests.listSnapshots(root).map(_.seq).max

    def answer(sql: String): Seq[org.apache.spark.sql.Row] = {
      val before = temporaryEntries()
      val rows = Lakehouse.sql(spark, sql).collect().toSeq
      assert(temporaryEntries() === before, s"temporary entries changed by: $sql")
      rows
    }
    def count(sql: String): Long = answer(sql).head.getLong(0)

    assert(answer("SELECT schema_name FROM information_schema.schemata")
      .map(_.getString(0)).contains("default"))
    assert(count("SELECT count(*) FROM information_schema.tables " +
      s"WHERE table_schema = 'default' AND table_name = '$t'") === 1L)
    assert(count("SELECT count(*) FROM information_schema.views " +
      s"WHERE table_name = '$t'") === 0L)
    assert(answer("SELECT column_name FROM information_schema.columns " +
      s"WHERE table_schema = 'default' AND table_name = '$t' " +
      "ORDER BY ordinal_position").map(_.getString(0)) === Seq("id", "v"))

    assert(count(s"SELECT max(snapshot_id) FROM `$t$$snapshots`") === newest)
    assert(count(s"SELECT count(*) FROM `$t$$history`") >= 2L)
    assert(answer(s"SELECT name FROM `$t$$refs` ORDER BY name")
      .map(_.getString(0)) === Seq("etl", "main", "v1", "v2"))
    assert(count(s"SELECT sum(record_count) FROM `$t$$files`") === 3L)

    assert(count(s"SELECT count(*) FROM $t FOR VERSION AS OF 'v1'") === 2L)
    assert(count(s"SELECT count(*) FROM $t FOR VERSION AS OF $s2") === 3L)
    assert(count(s"SELECT count(*) FROM $t FOR TIMESTAMP AS OF '$ms1'") === 2L)
    assert(count(s"SELECT count(*) FROM `$t@etl`") === 3L)
    assert(answer(s"SELECT _change_type, id FROM TABLE(system.table_changes(" +
      s"'default', '$t', $s1, $s2))").map(r => (r.getString(0), r.getLong(1)))
      === Seq(("insert", 3L)))

    val plan = answer(s"EXPLAIN SELECT snapshot_id FROM `$t$$snapshots`")
      .head.getString(0)
    assert(plan.contains("snapshot_id") && plan.contains("LocalTableScan"), plan)
    assert(count(s"WITH pinned AS (SELECT * FROM $t FOR VERSION AS OF 'v1') " +
      "SELECT count(*) FROM pinned") === 2L)
    assert(count(s"SELECT (SELECT count(*) FROM `$t$$refs`) AS n") === 4L)
    answer(s"INSERT INTO `$t@etl` VALUES (4, 'd')")
    assert(count(s"SELECT count(*) FROM `$t@etl`") === 4L)
    assert(count(s"SELECT count(*) FROM $t") === 3L)
  }

  test("concurrent get_columns statements on one session each answer their own table") {
    val db = freshName("rel_conc_")
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"CREATE TABLE $db.left_t (a1 INT, a2 STRING) USING parquet")
    spark.sql(s"CREATE TABLE $db.right_t (b1 BIGINT, b2 DOUBLE, b3 INT) USING parquet")
    // the trino dialect's get_columns shape, as the wire hands it over
    def getColumns(table: String): Seq[String] =
      Lakehouse.sql(spark,
        s"""SELECT `column_name`, `data_type`, `column_default`,
           |  UPPER(`is_nullable`) AS `is_nullable`
           |FROM `information_schema`.`columns`
           |WHERE `table_schema` = '$db' AND `table_name` = '$table'
           |ORDER BY `ordinal_position` ASC""".stripMargin)
        .collect().map(_.getString(0)).toSeq
    val iterations = 50
    val expected = Map("left_t" -> Seq("a1", "a2"), "right_t" -> Seq("b1", "b2", "b3"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = expected.keys.toSeq.map { table =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int =
            (1 to iterations).count(_ =>
              !scala.util.Try(getColumns(table)).toOption.contains(expected(table)))
        })
      }
      val wrong = futures.map(_.get()).sum
      assert(wrong === 0,
        s"$wrong of ${2 * iterations} statements answered another table's columns")
    } finally pool.shutdown()
    spark.sql(s"DROP DATABASE $db CASCADE")
  }
}
