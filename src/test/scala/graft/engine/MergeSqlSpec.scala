package graft.engine

import graft.SparkSpec

/** L26 — SQL-surface MERGE INTO: the Trino/Iceberg statement lands on
  * the Layout copy-on-write commit machinery; standard semantics
  * (clause order, cardinality rule) enforced. */
class MergeSqlSpec extends SparkSpec {
  import spark.implicits._

  private def freshName(p: String) =
    p + java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  private def rows(t: String): Seq[(Long, String, Long)] =
    spark.table(t).as[(Long, String, Long)].collect().sortBy(_._1).toSeq

  test("upsert: WHEN MATCHED UPDATE + WHEN NOT MATCHED INSERT") {
    val t = freshName("mg_ups_")
    val u = freshName("mg_upd_")
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "x").write.saveAsTable(t)
    Seq((2L, "B2", 99L), (3L, "c", 30L)).toDF("id", "v", "x").write.saveAsTable(u)
    val n = Lakehouse.sql(spark,
      s"""MERGE INTO $t AS t USING $u AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v, x = s.x
         |WHEN NOT MATCHED THEN INSERT (id, v, x) VALUES (s.id, s.v, s.x)"""
        .stripMargin).collect().head.getLong(0)
    assert(n === 2L, "one update + one insert")
    assert(rows(t) === Seq((1L, "a", 10L), (2L, "B2", 99L), (3L, "c", 30L)))
    // MERGE is re-runnable: same statement, same final state
    Lakehouse.sql(spark,
      s"""MERGE INTO $t AS t USING $u AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v, x = s.x
         |WHEN NOT MATCHED THEN INSERT (id, v, x) VALUES (s.id, s.v, s.x)"""
        .stripMargin).collect()
    assert(rows(t) === Seq((1L, "a", 10L), (2L, "B2", 99L), (3L, "c", 30L)))
  }

  test("WHEN MATCHED DELETE with AND condition; clause order is textual") {
    val t = freshName("mg_del_")
    val u = freshName("mg_dsrc_")
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("id", "v", "x")
      .write.saveAsTable(t)
    Seq((1L, "del", 0L), (2L, "upd", 25L)).toDF("id", "v", "x")
      .write.saveAsTable(u)
    // the DELETE clause is FIRST: a row matching its condition deletes
    // even though the later UPDATE clause would also match
    val n = Lakehouse.sql(spark,
      s"""MERGE INTO $t USING $u AS s ON ${t.split('.').last}.id = s.id
         |WHEN MATCHED AND s.v = 'del' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET x = s.x""".stripMargin)
      .collect().head.getLong(0)
    assert(n === 2L, "one delete + one update")
    assert(rows(t) === Seq((2L, "b", 25L), (3L, "c", 30L)))
  }

  test("subquery source and unqualified bare-name aliases") {
    val t = freshName("mg_sub_")
    Seq((1L, "a", 1L)).toDF("id", "v", "x").write.saveAsTable(t)
    Lakehouse.sql(spark,
      s"""MERGE INTO $t t USING (SELECT 1 AS id, 'A' AS v UNION ALL
         |                       SELECT 9 AS id, 'z' AS v) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"""
        .stripMargin).collect()
    val got = spark.table(t).as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "A", Some(1L)), (9L, "z", None)),
      "unlisted INSERT columns land NULL")
  }

  test("backticked identifiers parse: the wire's requoted MERGE spelling works") {
    val t = freshName("mg_bt_")
    val u = freshName("mg_btu_")
    Seq((1L, "a", 1L)).toDF("id", "v", "x").write.saveAsTable(t)
    Seq((1L, "A", 9L)).toDF("id", "v", "x").write.saveAsTable(u)
    // what TrinoSql.toSpark produces from Trino's "t" AS "tgt" quoting
    Lakehouse.sql(spark,
      s"""MERGE INTO `$t` AS `tgt` USING `$u` AS `src` ON tgt.id = src.id
         |WHEN MATCHED THEN UPDATE SET v = src.v, x = src.x""".stripMargin)
      .collect()
    assert(rows(t) === Seq((1L, "A", 9L)))
  }

  test("CASE WHEN inside merge expressions never splits the clause list") {
    val t = freshName("mg_case_")
    val u = freshName("mg_caseu_")
    Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "v", "x").write.saveAsTable(t)
    Seq((1L, "hi", 5L), (2L, "lo", 1L)).toDF("id", "v", "x").write.saveAsTable(u)
    // the inner WHEN/THEN/END are expression syntax, not clause bounds
    Lakehouse.sql(spark,
      s"""MERGE INTO $t AS t USING $u AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET
         |  v = CASE WHEN s.x > 3 THEN concat(s.v, '!') ELSE s.v END,
         |  x = s.x""".stripMargin).collect()
    assert(rows(t) === Seq((1L, "hi!", 5L), (2L, "lo", 1L)))
  }

  test("the standard's cardinality rule: two source matches refuse loudly") {
    val t = freshName("mg_card_")
    val u = freshName("mg_cdup_")
    Seq((1L, "a", 1L)).toDF("id", "v", "x").write.saveAsTable(t)
    Seq((1L, "x1", 1L), (1L, "x2", 2L)).toDF("id", "v", "x").write.saveAsTable(u)
    val e = intercept[IllegalArgumentException] {
      Lakehouse.sql(spark,
        s"""MERGE INTO $t AS t USING $u AS s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    }
    assert(e.getMessage.contains("cardinality"))
    assert(rows(t) === Seq((1L, "a", 1L)), "refused merge mutates nothing")
  }

  test("extra matched pairs whose clause conditions are false do not refuse " +
      "(standard: only an APPLIED update/delete by >1 rows is an error)") {
    val t = freshName("mg_app_")
    val u = freshName("mg_appu_")
    Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "v", "x").write.saveAsTable(t)
    // id=1 matches TWO source rows, but the clause condition selects
    // only the x=5 pair — valid per the standard; the row updates once
    Seq((1L, "hot", 5L), (1L, "cold", 0L), (2L, "warm", 0L))
      .toDF("id", "v", "x").write.saveAsTable(u)
    val n = Lakehouse.sql(spark,
      s"""MERGE INTO $t AS t USING $u AS s ON t.id = s.id
         |WHEN MATCHED AND s.x >= 5 THEN UPDATE SET v = s.v, x = s.x"""
        .stripMargin).as[Long].collect().head
    assert(n === 1L, "one row updated")
    assert(rows(t) === Seq((1L, "hot", 5L), (2L, "b", 2L)),
      "the applicable pair wins; no per-pair duplication of target rows")
  }

  test("insert-only MERGE skips the cardinality check and never duplicates " +
      "target rows on multi-matching sources") {
    val t = freshName("mg_insonly_")
    val u = freshName("mg_insonlyu_")
    Seq((1L, "a", 1L)).toDF("id", "v", "x").write.saveAsTable(t)
    // id=1 matches twice — with no MATCHED clause that is NOT an error
    // (round-17 advisor: the standard raises only for applied clauses)
    Seq((1L, "m1", 1L), (1L, "m2", 2L), (9L, "new", 9L))
      .toDF("id", "v", "x").write.saveAsTable(u)
    val n = Lakehouse.sql(spark,
      s"""MERGE INTO $t AS t USING $u AS s ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.v, s.x)"""
        .stripMargin).as[Long].collect().head
    assert(n === 1L, "one row inserted")
    assert(rows(t) === Seq((1L, "a", 1L), (9L, "new", 9L)))
  }

  test("duplicate assignment to one column in UPDATE SET refuses at parse") {
    val t = freshName("mg_dup_")
    val u = freshName("mg_dupu_")
    Seq((1L, "a", 1L)).toDF("id", "v", "x").write.saveAsTable(t)
    Seq((1L, "b", 2L)).toDF("id", "v", "x").write.saveAsTable(u)
    val e = intercept[IllegalArgumentException] {
      Lakehouse.sql(spark,
        s"""MERGE INTO $t AS t USING $u AS s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = 'one', v = 'two'""".stripMargin)
    }
    assert(e.getMessage.contains("duplicate assignment"))
    assert(rows(t) === Seq((1L, "a", 1L)), "refused merge mutates nothing")
  }

  test("CASE expression inside a clause AND condition parses (the clause's " +
      "THEN is found CASE-aware, round-17 verdict #3)") {
    val t = freshName("mg_ccond_")
    val u = freshName("mg_ccondu_")
    Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "v", "x").write.saveAsTable(t)
    Seq((1L, "hi", 5L), (2L, "lo", 1L)).toDF("id", "v", "x").write.saveAsTable(u)
    Lakehouse.sql(spark,
      s"""MERGE INTO $t AS t USING $u AS s ON t.id = s.id
         |WHEN MATCHED AND CASE WHEN s.x > 3 THEN true ELSE false END
         |  THEN UPDATE SET v = s.v, x = s.x""".stripMargin).collect()
    assert(rows(t) === Seq((1L, "hi", 5L), (2L, "b", 2L)),
      "only the CASE-selected pair updates")
  }

  test("fused pre-pass: a full three-clause MERGE runs few jobs and reports " +
      "exact affected counts") {
    val t = freshName("mg_jobs_")
    val u = freshName("mg_jobsu_")
    Seq.tabulate(40)(i => (i.toLong, s"v$i", i.toLong)).toDF("id", "v", "x")
      .coalesce(1).write.saveAsTable(t)
    Seq.tabulate(40)(i => ((i + 20).toLong, s"s$i", i.toLong))
      .toDF("id", "v", "x").coalesce(1).write.saveAsTable(u)
    def jobCount: Int =
      spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val before = jobCount
    val n = Lakehouse.sql(spark,
      s"""MERGE INTO $t AS t USING $u AS s ON t.id = s.id
         |WHEN MATCHED AND s.id % 2 = 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.v, s.x)"""
        .stripMargin).as[Long].collect().head
    val jobs = jobCount - before
    // matched ids 20..39: 10 even deleted, 10 odd updated; 40..59 insert
    assert(n === 40L, s"10 deleted + 10 updated + 20 inserted, got $n")
    // the plan-locked job budget (round-17 verdict #2): ONE fused
    // pre-pass aggregate (AQE stages it as ~3 jobs) + the commit write
    // (~4 AQE jobs for the union-of-joins) + the post-write schema read
    // + manifest stats + the result collect = 10 measured. Before the
    // fusion the three separate pre-passes (cardinality, u/d counts,
    // inserted.count) added ~5 more; the lock fails loudly if any
    // per-statement pre-pass creeps back in.
    assert(jobs <= 10, s"MERGE ran $jobs jobs — a pre-pass crept back in")
  }

  test("WHEN NOT MATCHED BY SOURCE completes the full-sync statement: " +
      "update + insert + delete-unmatched in one MERGE") {
    val t = freshName("mg_nbs_")
    val u = freshName("mg_nbsu_")
    Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L))
      .toDF("id", "v", "x").write.saveAsTable(t)
    Seq((2L, "B", 20L), (4L, "D", 40L)).toDF("id", "v", "x").write.saveAsTable(u)
    val n = Lakehouse.sql(spark,
      s"""MERGE INTO $t AS t USING $u AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v, x = s.x
         |WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.v, s.x)
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      .as[Long].collect().head
    // 1 updated (id=2) + 1 inserted (id=4) + 2 deleted (ids 1,3)
    assert(n === 4L, s"full-sync affects 4 rows, got $n")
    assert(rows(t) === Seq((2L, "B", 20L), (4L, "D", 40L)),
      "the target becomes exactly the source")
  }

  test("NOT MATCHED BY SOURCE with a condition updates only the selected " +
      "unmatched rows; BY TARGET aliases plain NOT MATCHED") {
    val t = freshName("mg_nbsc_")
    val u = freshName("mg_nbscu_")
    Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 9L))
      .toDF("id", "v", "x").write.saveAsTable(t)
    Seq((2L, "B", 20L), (5L, "E", 50L)).toDF("id", "v", "x").write.saveAsTable(u)
    val n = Lakehouse.sql(spark,
      s"""MERGE INTO $t AS t USING $u AS s ON t.id = s.id
         |WHEN NOT MATCHED BY TARGET THEN INSERT VALUES (s.id, s.v, s.x)
         |WHEN NOT MATCHED BY SOURCE AND t.x > 5
         |  THEN UPDATE SET v = concat(t.v, '_stale')""".stripMargin)
      .as[Long].collect().head
    // 1 inserted (id=5) + 1 updated (id=3, x=9>5); id=1 untouched
    assert(n === 2L)
    assert(rows(t) === Seq((1L, "a", 1L), (2L, "b", 2L),
      (3L, "c_stale", 9L), (5L, "E", 50L)))
  }

  test("NBS-only statement with a multi-matching source keeps each " +
      "matched target row exactly once") {
    val t = freshName("mg_nbsm_")
    val u = freshName("mg_nbsmu_")
    Seq((1L, "keep", 1L), (9L, "drop", 9L)).toDF("id", "v", "x")
      .write.saveAsTable(t)
    // id=1 matches TWICE; no MATCHED clause applies, but the left join
    // would duplicate it without the dedupe path
    Seq((1L, "m1", 1L), (1L, "m2", 2L)).toDF("id", "v", "x")
      .write.saveAsTable(u)
    val n = Lakehouse.sql(spark,
      s"""MERGE INTO $t AS t USING $u AS s ON t.id = s.id
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      .as[Long].collect().head
    assert(n === 1L, "only the unmatched row deletes")
    assert(rows(t) === Seq((1L, "keep", 1L)),
      "the multi-matched row survives exactly once")
  }

  test("merge composes with snapshots: tags keep reading the pre-merge state") {
    val t = freshName("mg_tt_")
    val u = freshName("mg_ttu_")
    Seq((1L, "old", 1L)).toDF("id", "v", "x").write.saveAsTable(t)
    Layout.snapshot(spark, t, "pre")
    Seq((1L, "new", 2L)).toDF("id", "v", "x").write.saveAsTable(u)
    Lakehouse.sql(spark,
      s"""MERGE INTO $t AS t USING $u AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v, x = s.x""".stripMargin).collect()
    assert(rows(t) === Seq((1L, "new", 2L)))
    val pre = Lakehouse.sql(spark,
      s"SELECT v FROM $t FOR VERSION AS OF 'pre'").as[String].collect().toSeq
    assert(pre === Seq("old"))
  }

  test("the source is parsed with the statement, so it sees the engine's relations") {
    val t = freshName("mg_rel_")
    Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "v", "x").write.saveAsTable(t)
    Layout.snapshot(spark, t, "orig")
    Lakehouse.sql(spark, s"UPDATE $t SET v = 'changed', x = 0").collect()
    Lakehouse.sql(spark, s"DELETE FROM $t WHERE id = 2").collect()
    // the tag's rows merge back: id 1 reverts, id 2 returns
    val n = Lakehouse.sql(spark,
      s"""MERGE INTO $t AS t USING (SELECT * FROM $t FOR VERSION AS OF 'orig') s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v, x = s.x
         |WHEN NOT MATCHED THEN INSERT (id, v, x) VALUES (s.id, s.v, s.x)"""
        .stripMargin).as[Long].collect().head
    assert(n === 2L)
    assert(rows(t) === Seq((1L, "a", 1L), (2L, "b", 2L)))
  }
}
