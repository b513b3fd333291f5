package graft.engine

import graft.SparkSpec

/** L28 — SQL-surface row-level DML: `DELETE FROM` / `UPDATE ... SET`
  * land on [[Layout.deleteWhere]]/[[Layout.updateWhere]] from pure SQL
  * text (the round-17 verdict's top missing ring); copy-on-write
  * commits, standard NULL semantics, loud refusals. */
class DmlSqlSpec extends SparkSpec {
  import spark.implicits._

  private def freshName(p: String) =
    p + java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  private def rows(t: String): Seq[(Long, String, Long)] =
    spark.table(t).as[(Long, String, Long)].collect().sortBy(_._1).toSeq

  test("DELETE FROM t WHERE: only TRUE-predicate rows go; NULLs keep; " +
      "the affected count returns") {
    val t = freshName("dml_del_")
    Seq((1L, "a", 1L), (2L, "b", 2L), (3L, null: String, 3L), (4L, "a", 4L))
      .toDF("id", "v", "x").write.saveAsTable(t)
    val n = Lakehouse.sql(spark, s"DELETE FROM $t WHERE v = 'a'")
      .as[Long].collect().head
    assert(n === 2L, "two 'a' rows deleted")
    // the NULL-v row's predicate is NULL, not TRUE — it survives
    assert(rows(t) === Seq((2L, "b", 2L), (3L, null, 3L)))
  }

  test("DELETE FROM t without WHERE empties the table; a zero-match " +
      "DELETE commits nothing") {
    val t = freshName("dml_delall_")
    Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "v", "x").write.saveAsTable(t)
    val zero = Lakehouse.sql(spark, s"DELETE FROM $t WHERE id > 100")
      .as[Long].collect().head
    assert(zero === 0L)
    val n = Lakehouse.sql(spark, s"DELETE FROM $t").as[Long].collect().head
    assert(n === 2L)
    assert(spark.table(t).count() === 0L)
  }

  test("UPDATE t SET ... WHERE: assignments apply only where TRUE, " +
      "other rows byte-identical, column types preserved") {
    val t = freshName("dml_upd_")
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "v", "x").write.saveAsTable(t)
    val n = Lakehouse.sql(spark,
      s"UPDATE $t SET v = concat(v, '_u'), x = x + 1 WHERE id % 2 = 1")
      .as[Long].collect().head
    assert(n === 2L)
    assert(rows(t) === Seq((1L, "a_u", 11L), (2L, "b", 20L), (3L, "c_u", 31L)))
    // an untyped literal must not narrow the column type through the
    // copy-on-write rewrite: x stays BIGINT after SET x = 0
    Lakehouse.sql(spark, s"UPDATE $t SET x = 0 WHERE id = 2").collect()
    assert(spark.table(t).schema("x").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(rows(t) === Seq((1L, "a_u", 11L), (2L, "b", 0L), (3L, "c_u", 31L)))
  }

  test("UPDATE SET with a CASE expression parses (WHERE found CASE-aware) " +
      "and backticked wire-requoted names parse") {
    val t = freshName("dml_case_")
    Seq((1L, "lo", 1L), (2L, "hi", 9L)).toDF("id", "v", "x").write.saveAsTable(t)
    val n = Lakehouse.sql(spark,
      s"UPDATE `$t` SET `v` = CASE WHEN x > 5 THEN 'big' ELSE 'small' END " +
        "WHERE id >= 1").as[Long].collect().head
    assert(n === 2L)
    assert(rows(t) === Seq((1L, "small", 1L), (2L, "big", 9L)))
  }

  test("refusals: duplicate SET column, unknown column, subquery " +
      "predicates — all loud, nothing mutated") {
    val t = freshName("dml_ref_")
    Seq((1L, "a", 1L)).toDF("id", "v", "x").write.saveAsTable(t)
    val dup = intercept[IllegalArgumentException] {
      Lakehouse.sql(spark, s"UPDATE $t SET v = 'p', v = 'q'")
    }
    assert(dup.getMessage.contains("duplicate assignment"))
    val unk = intercept[IllegalArgumentException] {
      Lakehouse.sql(spark, s"UPDATE $t SET nope = 1")
    }
    assert(unk.getMessage.contains("unknown column"))
    val sub = intercept[IllegalArgumentException] {
      Lakehouse.sql(spark,
        s"DELETE FROM $t WHERE id IN (SELECT id FROM $t)")
    }
    assert(sub.getMessage.contains("MERGE INTO"),
      "the subquery refusal names the supported alternative")
    assert(rows(t) === Seq((1L, "a", 1L)), "refused statements mutate nothing")
  }

  test("TRUNCATE TABLE routes through the COW commit: table empties, tags " +
      "keep their bytes; view targets refuse before any work") {
    val t = freshName("dml_trunc_")
    Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "v", "x").write.saveAsTable(t)
    Layout.snapshot(spark, t, "full")
    val n = Lakehouse.sql(spark, s"TRUNCATE TABLE $t").as[Long].collect().head
    assert(n === 2L)
    assert(spark.table(t).count() === 0L)
    // the snapshot still reads its immutable files — Spark's native
    // TRUNCATE would have deleted them in place under the manifest
    assert(Lakehouse.sql(spark,
      s"SELECT count(*) FROM $t FOR VERSION AS OF 'full'")
      .collect().head.getLong(0) === 2L)
    // a VIEW target refuses before the rewrite machinery runs
    val v = freshName("dml_view_")
    Lakehouse.createView(spark, v, s"SELECT * FROM $t")
    val e1 = intercept[IllegalArgumentException] {
      Lakehouse.sql(spark, s"DELETE FROM $v WHERE 1 = 1")
    }
    assert(e1.getMessage.contains("view"))
    val e2 = intercept[IllegalArgumentException] {
      Lakehouse.sql(spark, s"TRUNCATE TABLE $v")
    }
    assert(e2.getMessage.contains("view"))
    spark.sql(s"DROP VIEW $v")
  }

  test("INSERT OVERWRITE routes through the COW commit: content replaces, " +
      "tags keep their bytes, partition specs refuse") {
    val t = freshName("dml_iow_")
    Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "v", "x").write.saveAsTable(t)
    Layout.snapshot(spark, t, "orig")
    val n = Lakehouse.sql(spark,
      s"INSERT OVERWRITE TABLE $t SELECT id + 10, upper(v), x FROM $t")
      .as[Long].collect().head
    assert(n === 2L)
    assert(rows(t) === Seq((11L, "A", 1L), (12L, "B", 2L)))
    // the tag still reads the pre-overwrite rows — native INSERT
    // OVERWRITE would have deleted its files in place
    assert(Lakehouse.sql(spark,
      s"SELECT id FROM $t FOR VERSION AS OF 'orig' ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L))
    // arity mismatch and PARTITION specs refuse loudly
    val arity = intercept[IllegalArgumentException] {
      Lakehouse.sql(spark, s"INSERT OVERWRITE $t SELECT 1")
    }
    assert(arity.getMessage.contains("columns"))
    val part = intercept[IllegalArgumentException] {
      Lakehouse.sql(spark,
        s"INSERT OVERWRITE $t PARTITION (x = 1) SELECT 1, 'a'")
    }
    assert(part.getMessage.contains("PARTITION"))
    // plain INSERT INTO passes through to Spark untouched
    Lakehouse.sql(spark, s"INSERT INTO $t VALUES (99, 'z', 9)")
    assert(spark.table(t).count() === 3L)
  }

  test("DML composes with snapshots: a tag keeps reading the pre-DML state, " +
      "and the change feed sees the COW rewrite") {
    val t = freshName("dml_tt_")
    Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L))
      .toDF("id", "v", "x").write.saveAsTable(t)
    Layout.snapshot(spark, t, "pre")
    Lakehouse.sql(spark, s"DELETE FROM $t WHERE id = 2").collect()
    Layout.snapshot(spark, t, "post")
    assert(rows(t) === Seq((1L, "a", 1L), (3L, "c", 3L)))
    val pre = Lakehouse.sql(spark,
      s"SELECT id FROM $t FOR VERSION AS OF 'pre' ORDER BY id")
      .as[Long].collect().toSeq
    assert(pre === Seq(1L, 2L, 3L), "the tag still reads all three rows")
    val refs = Manifests.loadRefs(Manifests.root(spark, t))
    val feed = Layout.changelog(spark, t, refs.tags("pre"), refs.tags("post"))
      .groupBy("_change_type").count().as[(String, Long)].collect().toMap
    // COW delete-rewrite: all 3 pre-rows delete, 2 survivors re-insert
    assert(feed === Map("delete" -> 3L, "insert" -> 2L))
  }

  test("every SQL INSERT into a versioned table is one append commit, and its " +
      "snapshot id reads the state right after it") {
    val t = freshName("dml_ins_")
    Seq((1L, "a", 1L)).toDF("id", "v", "x").write.saveAsTable(t)
    Layout.snapshot(spark, t, "base")
    def appends(): Seq[Long] = Lakehouse.sql(spark,
      s"SELECT snapshot_id FROM `$t$$snapshots` WHERE operation = 'append' " +
        "ORDER BY snapshot_id").as[Long].collect().toSeq
    var model = Seq((1L, "a", 1L))
    (1 to 3).foreach { k =>
      Lakehouse.sql(spark, s"INSERT INTO $t VALUES (${k + 1}, 'n$k', $k)")
      model = model :+ ((k + 1).toLong, s"n$k", k.toLong)
      val ids = appends()
      assert(ids.size === k, s"INSERT $k made ${ids.size} append commits in all")
      assert(Lakehouse.sql(spark, s"SELECT * FROM $t FOR VERSION AS OF ${ids.last}")
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq === model)
    }
    // a table with no committed head stays a plain Spark table
    val plain = freshName("dml_plain_")
    Seq((1L, "a", 1L)).toDF("id", "v", "x").write.saveAsTable(plain)
    Lakehouse.sql(spark, s"INSERT INTO $plain VALUES (2, 'b', 2)")
    assert(Manifests.listSnapshots(Manifests.root(spark, plain)).isEmpty)
    assert(spark.table(plain).count() === 2L)
  }
}
