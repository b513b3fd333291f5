package graft.engine

import graft.SparkSpec

/** L27 — Iceberg metadata-table SQL spellings: `` `t$snapshots` `` /
  * `$history` / `$refs` / `$files` answered from the manifest store,
  * and the canonical paste workflow ($snapshots → numeric FOR VERSION
  * AS OF) composing end-to-end. */
class MetaSqlSpec extends SparkSpec {
  import spark.implicits._

  private def freshName(p: String) =
    p + java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  test("$snapshots rows paste into FOR VERSION AS OF — the documented workflow composes") {
    val t = freshName("ms_snap_")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.saveAsTable(t)
    Layout.snapshot(spark, t, "v1")
    Seq((3L, "c")).toDF("id", "v").write.mode("append").saveAsTable(t)
    Layout.snapshot(spark, t, "v2")
    val snaps = Lakehouse.sql(spark,
      s"SELECT snapshot_id, operation, record_count, tags FROM `$t$$snapshots` " +
        "ORDER BY snapshot_id")
    assert(snaps.columns.take(2).toSeq === Seq("snapshot_id", "operation"))
    val rows = snaps.collect()
    assert(rows.length >= 2)
    // the v1 tag names its commit; that commit reports the pre-append count
    val v1Row = rows.find(_.getSeq[String](3).contains("v1")).get
    assert(v1Row.getLong(2) === 2L)
    val v1Seq = v1Row.getLong(0)
    // PASTE the id into the numeric travel spelling — two statements,
    // exactly what a SQL-Lab user does
    val pinned = Lakehouse.sql(spark,
      s"SELECT id FROM $t FOR VERSION AS OF $v1Seq ORDER BY id")
      .as[Long].collect().toSeq
    assert(pinned === Seq(1L, 2L))
  }

  test("$history marks the head's ancestor chain; $refs lists branches and tags") {
    val t = freshName("ms_hist_")
    Seq((1L, "a")).toDF("id", "v").write.saveAsTable(t)
    Layout.snapshot(spark, t, "h1")
    Seq((2L, "b")).toDF("id", "v").write.mode("append").saveAsTable(t)
    Layout.snapshot(spark, t, "h2")
    val hist = Lakehouse.sql(spark,
      s"SELECT snapshot_id, is_current_ancestor FROM `$t$$history` " +
        "ORDER BY snapshot_id")
      .as[(Long, Boolean)].collect().toSeq
    assert(hist.nonEmpty && hist.last._2, "the head is its own ancestor")
    assert(hist.forall(_._2), "a linear commit chain is all-ancestors")
    Layout.createBranch(spark, t, "etl")
    val refs = Lakehouse.sql(spark,
      s"SELECT name, type FROM `$t$$refs` ORDER BY name")
      .as[(String, String)].collect().toSeq
    assert(refs.contains(("main", "branch")))
    assert(refs.contains(("etl", "branch")))
    assert(refs.contains(("h1", "tag")) && refs.contains(("h2", "tag")))
  }

  test("$refs lists the branches of a schema-qualified table") {
    val db = freshName("ms_refs_")
    spark.sql(s"CREATE DATABASE $db")
    Seq((1L, "a")).toDF("id", "v").write.saveAsTable(s"$db.orders")
    Layout.snapshot(spark, s"$db.orders", "r1")
    Layout.createBranch(spark, s"$db.orders", "etl")
    val refs = Lakehouse.sql(spark,
      s"SELECT name, type FROM $db.`orders$$refs` ORDER BY name")
      .as[(String, String)].collect().toSeq
    assert(refs === Seq(("etl", "branch"), ("main", "branch"), ("r1", "tag")))
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("$files serves the HEAD manifest; totals reconcile with $snapshots") {
    val t = freshName("ms_files_")
    Seq.tabulate(10)(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(3).write.saveAsTable(t)
    Layout.snapshot(spark, t, "f1")
    val files = Lakehouse.sql(spark,
      s"SELECT file_format, record_count FROM `$t$$files`")
      .as[(String, Long)].collect().toSeq
    assert(files.nonEmpty && files.forall(_._1 == "PARQUET"))
    assert(files.map(_._2).sum === 10L)
    val joined = Lakehouse.sql(spark,
      s"""SELECT s.record_count, (SELECT sum(record_count) FROM `$t$$files`) AS f
         |FROM `$t$$snapshots` s ORDER BY s.snapshot_id DESC LIMIT 1"""
        .stripMargin).as[(Long, Long)].collect().head
    assert(joined._1 === joined._2, "$snapshots head row ≡ $files sum")
  }

  test("$partitions rolls the head manifest up per hive-style partition") {
    val t = freshName("ms_part_")
    Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "z"))
      .toDF("id", "part", "v")
      .write.partitionBy("part").saveAsTable(t)
    Layout.snapshot(spark, t, "p1")
    val got = Lakehouse.sql(spark,
      s"SELECT partition, record_count FROM `$t$$partitions` ORDER BY partition")
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("part=a", 2L), ("part=b", 1L)))
    // totals reconcile with $snapshots
    val total = Lakehouse.sql(spark,
      s"SELECT sum(record_count) FROM `$t$$partitions`")
      .collect().head.getLong(0)
    assert(total === 3L)
  }

  test("unversioned tables and unknown suffixes refuse loudly; literals are data") {
    val t = freshName("ms_bad_")
    Seq((1L, "a")).toDF("id", "v").write.saveAsTable(t)
    val e = intercept[Exception] {
      Lakehouse.sql(spark, s"SELECT * FROM `$t$$snapshots`").collect()
    }
    assert(e.getMessage.contains("no committed snapshots"))
    val e2 = intercept[IllegalArgumentException] {
      Lakehouse.sql(spark, s"SELECT * FROM `$t$$bogus`")
    }
    assert(e2.getMessage.contains("not served"))
    val lit = "SELECT 'see `t$snapshots` here' AS s"
    assert(Lakehouse.sql(spark, lit).collect().head.getString(0) ===
      "see `t$snapshots` here")
  }

  test("$manifests reports per-commit added/existing splits; $properties " +
      "lists the catalog's table metadata") {
    val t = freshName("ms_man_")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.saveAsTable(t)
    Layout.snapshot(spark, t, "m1")
    Seq((3L, "c")).toDF("id", "v").write.mode("append").saveAsTable(t)
    Layout.snapshot(spark, t, "m2")
    val man = Lakehouse.sql(spark,
      s"""SELECT added_snapshot_id, length, added_rows_count,
         |  existing_rows_count
         |FROM `$t$$manifests` ORDER BY added_snapshot_id""".stripMargin)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(man.size === 2)
    // first commit: everything added; second: the append added 1 row,
    // the base 2 rows carried as existing
    assert(man.head._3 === 2L && man.head._4 === 0L)
    assert(man.last._3 === 1L && man.last._4 === 2L)
    assert(man.forall(_._2 > 0L), "manifest files have real sizes")
    val props = Lakehouse.sql(spark,
      s"SELECT key, value FROM `$t$$properties` ORDER BY key")
      .as[(String, String)].collect().toMap
    assert(props("provider").equalsIgnoreCase("parquet"))
    assert(props("location").nonEmpty)
  }
}
