package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL spellings for schema-change and ref DDL the engine owns as APIs
  * — the round-18 continuation of the API-only-gap ring (time travel →
  * MERGE → DML → rollback → this):
  *
  *   - `ALTER TABLE t DROP COLUMN c` / `ALTER TABLE t RENAME COLUMN a
  *     TO b` — Spark's v1 parquet catalog refuses both natively ("only
  *     supported with v2 tables"); here they execute as ONE
  *     copy-on-write commit of the re-projected table. Iceberg does
  *     these metadata-only (its readers apply a field-id mapping);
  *     parquet files name their columns, so without that mapping layer
  *     the rewrite is the honest formulation — every reader (including
  *     plain SELECT and every EXISTING tag, which keeps its immutable
  *     pre-change files and schema) stays correct. ADD COLUMNS passes
  *     through to Spark's native evolution ([[Layout.appendEvolved]]
  *     documents the by-name resolution contract).
  *
  *   - Ref DDL, the Iceberg Spark-extension spellings:
  *     `ALTER TABLE t CREATE TAG x [AS OF VERSION s]` →
  *     [[Layout.snapshot]] / [[Layout.tagAt]];
  *     `ALTER TABLE t REPLACE TAG x AS OF VERSION s` →
  *     [[Layout.assignTag]] (the CAS-guarded pointer move);
  *     `ALTER TABLE t DROP TAG x` → [[Layout.dropTag]];
  *     `ALTER TABLE t CREATE BRANCH b [AS OF VERSION s]` →
  *     [[Layout.createBranch]] / [[Layout.createBranchAtSeq]];
  *     `ALTER TABLE t DROP BRANCH b` → [[Layout.dropBranch]].
  *     All metadata-plane (refs CAS + at most a branch-copy populate);
  *     the created refs immediately serve the read spellings
  *     (`FOR VERSION AS OF 'tag'`, `` `t@branch` ``, `$refs`), which
  *     [[Lakehouse.sql]] resolves from the refs store per statement.
  *
  *   - `RETAIN ... DAYS` clauses refuse loudly: retention is
  *     expire_snapshots' job in this engine, and silently accepting a
  *     retention promise the refs store does not record would be a lie.
  */
object AlterSql {

  private val T = "(`[^`]+`|[A-Za-z_][\\w.]*)" // table leg (wire requotes)
  private val N = "(`[^`]+`|[A-Za-z_]\\w*)"    // column/ref leg

  private val DropColRx =
    ("(?is)^ALTER\\s+TABLE\\s+" + T + "\\s+DROP\\s+COLUMN\\s+" + N +
      "\\s*;?\\s*$").r
  private val RenameColRx =
    ("(?is)^ALTER\\s+TABLE\\s+" + T + "\\s+RENAME\\s+COLUMN\\s+" + N +
      "\\s+TO\\s+" + N + "\\s*;?\\s*$").r
  private val CreateTagRx =
    ("(?is)^ALTER\\s+TABLE\\s+" + T + "\\s+CREATE\\s+TAG\\s+" + N +
      "(?:\\s+AS\\s+OF\\s+VERSION\\s+(\\d+))?\\s*;?\\s*$").r
  private val ReplaceTagRx =
    ("(?is)^ALTER\\s+TABLE\\s+" + T + "\\s+(CREATE\\s+OR\\s+)?REPLACE\\s+TAG\\s+" + N +
      "\\s+AS\\s+OF\\s+VERSION\\s+(\\d+)\\s*;?\\s*$").r
  private val DropTagRx =
    ("(?is)^ALTER\\s+TABLE\\s+" + T + "\\s+DROP\\s+TAG\\s+" + N +
      "\\s*;?\\s*$").r
  private val CreateBranchRx =
    ("(?is)^ALTER\\s+TABLE\\s+" + T + "\\s+CREATE\\s+BRANCH\\s+" + N +
      "(?:\\s+AS\\s+OF\\s+VERSION\\s+(\\d+))?\\s*;?\\s*$").r
  private val DropBranchRx =
    ("(?is)^ALTER\\s+TABLE\\s+" + T + "\\s+DROP\\s+BRANCH\\s+" + N +
      "\\s*;?\\s*$").r
  private val RetainRx =
    ("(?is)^ALTER\\s+TABLE\\s+" + T +
      "\\s+(?:CREATE|REPLACE)\\s+(?:TAG|BRANCH)\\b.*\\bRETAIN\\b.*$").r

  private def unq(s: String): String =
    if (s.startsWith("`") && s.endsWith("`")) s.substring(1, s.length - 1) else s

  /** Execute the statement if it IS one of the served ALTER verbs;
    * None otherwise (native ALTERs pass through to Spark). */
  def maybeExecute(spark: SparkSession, sql: String): Option[DataFrame] = {
    import spark.implicits._
    sql.trim match {
      case RetainRx(_) =>
        throw new IllegalArgumentException(
          "RETAIN is not supported on tag/branch DDL — retention is " +
            "ALTER TABLE ... EXECUTE expire_snapshots' job")
      case DropColRx(t, c) =>
        val (table, col) = (unq(t), unq(c))
        val cur = Layout.readCurrent(spark, table)
        require(cur.columns.contains(col),
          s"cannot drop unknown column '$col' of $table")
        require(cur.columns.length > 1,
          s"cannot drop the only column of $table")
        Layout.overwrite(spark, table, cur.drop(col),
          operation = s"drop-column:$col")
        Some(Seq(col).toDF("column"))
      case RenameColRx(t, a, b) =>
        val (table, from, to) = (unq(t), unq(a), unq(b))
        val cur = Layout.readCurrent(spark, table)
        require(cur.columns.contains(from),
          s"cannot rename unknown column '$from' of $table")
        require(!cur.columns.contains(to),
          s"column '$to' already exists in $table")
        Layout.overwrite(spark, table, cur.withColumnRenamed(from, to),
          operation = s"rename-column:$from->$to")
        Some(Seq(to).toDF("column"))
      case ReplaceTagRx(t, createOr, n, seq) =>
        // REPLACE matched before CREATE: `CREATE OR REPLACE TAG` must
        // not parse as a CREATE of a tag named "OR". Plain REPLACE on a
        // missing tag refuses (assignTag); CREATE OR REPLACE upserts.
        val (table, tag) = (unq(t), unq(n))
        if (createOr != null && !Layout.listSnapshots(spark, table).contains(tag))
          Layout.tagAt(spark, table, tag, seq.toLong)
        else Layout.assignTag(spark, table, tag, seq.toLong)
        Some(Seq(tag).toDF("ref"))
      case CreateTagRx(t, n, seqOrNull) =>
        Option(seqOrNull) match {
          case Some(seq) => Layout.tagAt(spark, unq(t), unq(n), seq.toLong)
          case None => Layout.snapshot(spark, unq(t), unq(n))
        }
        Some(Seq(unq(n)).toDF("ref"))
      case DropTagRx(t, n) =>
        Layout.dropTag(spark, unq(t), unq(n))
        Some(Seq(unq(n)).toDF("ref"))
      case CreateBranchRx(t, n, seqOrNull) =>
        Option(seqOrNull) match {
          case Some(seq) =>
            Layout.createBranchAtSeq(spark, unq(t), unq(n), seq.toLong)
          case None => Layout.createBranch(spark, unq(t), unq(n))
        }
        Some(Seq(unq(n)).toDF("ref"))
      case DropBranchRx(t, n) =>
        Layout.dropBranch(spark, unq(t), unq(n))
        Some(Seq(unq(n)).toDF("ref"))
      case _ => None
    }
  }
}
