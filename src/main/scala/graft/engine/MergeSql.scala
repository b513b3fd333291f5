package graft.engine

import scala.jdk.CollectionConverters._

import org.antlr.v4.runtime.{CharStreams, CommonTokenStream, Token}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.parser.SqlBaseLexer
import org.apache.spark.sql.catalyst.plans.logical.{DeleteAction, InsertAction, LogicalPlan,
  MergeAction, MergeIntoTable, UpdateAction}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParsedSql.{column, frame}

/** SQL-surface `MERGE INTO` — the statement a Trino/Iceberg user types
  * (Trino docs `sql/merge`; the upsert idiom the reference's lakehouse
  * tier implies) landed on the [[Layout]] commit machinery. Spark's v1
  * parquet catalog refuses MERGE natively ("MERGE INTO TABLE is not
  * supported temporarily"), so [[Lakehouse.sql]] hands Spark's parsed
  * `MergeIntoTable` here, and it EXECUTES as one declarative plan + one
  * copy-on-write commit.
  *
  * Shape (Spark's grammar; clauses act in TEXTUAL order, the first whose
  * condition holds wins, as the standard requires):
  *
  *   MERGE INTO t [AS a] USING s|(subquery) [AS b] ON <cond>
  *     [WHEN MATCHED [AND c] THEN UPDATE SET x = e, ... | DELETE] ...
  *     [WHEN NOT MATCHED [BY TARGET] [AND c] THEN INSERT [(cols)] VALUES (...)] ...
  *     [WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET ... | DELETE] ...
  *
  * `NOT MATCHED BY SOURCE` (Spark SQL's full-sync clause) acts on target
  * rows with NO source match; its conditions and values may name target
  * columns only. Its guard (no source match) is disjoint from every
  * matched clause's, so both families ride the SAME left join.
  *
  * Plan shape — Spark-first, no row-at-a-time anything:
  *
  *   - kept/updated target rows: ONE left join target⟕source on the ON
  *     condition; `__act` numbers the clause that applies to each pair
  *     (a first-match CASE WHEN), each column is `CASE WHEN __act = k
  *     THEN <clause k's value> ELSE old END`, and delete-clause rows are
  *     filtered in the same pass; with no clause acting on target rows
  *     the join is skipped entirely (an insert-only merge costs one anti
  *     join);
  *   - inserted rows: one LEFT ANTI join source⟂target;
  *   - the union commits through [[Layout.overwrite]], so MERGE
  *     composes with tags/branches/time travel like every other write.
  *
  * The SQL standard's cardinality rule is ENFORCED the way the standard
  * states it: a target row to which an UPDATE or DELETE **would be
  * applied** by more than one source row refuses loudly. Extra matched
  * pairs whose clause conditions are all false do NOT refuse — the row is
  * updated by its one applicable pair (or kept unchanged), and the kept
  * side deduplicates per target row only when the pre-pass detects
  * multi-matches (a `row_number` window — the extra shuffle is paid only
  * on statements that need it).
  *
  * Pre-pass cost: ONE aggregate over the joined pairs computes the
  * cardinality maxima AND Trino's updated/deleted affected counts
  * together (zero without clauses acting on target rows), and the
  * inserted count is observed on the committed plan itself
  * (`Dataset.observe`), so a non-deterministic source can never make the
  * reported count diverge from the committed rows.
  *
  * Why SQL MERGE is COW and not the O(batch) MOR path: the engine owns a
  * merge-on-read upsert ([[Layout.upsertMor]]), but its result is only
  * visible through manifest-aware reads; a plain `SELECT * FROM t` at the
  * SQL plane scans raw files and would see BOTH versions of every
  * upserted key. So the SQL plane keeps copy-on-write semantics (every
  * reader correct, Iceberg's COW mode), and the hot-ingest path uses
  * upsertMor at the API plane where readers are manifest-aware. */
object MergeSql {

  private val Positional = "__pos_"

  /** The statement this executor owns; `swap` puts the engine's
    * relations into the source. */
  def writes(spark: SparkSession, swap: LogicalPlan => LogicalPlan)
      : PartialFunction[LogicalPlan, DataFrame] = {
    case m: MergeIntoTable => execute(spark, new Plan(spark, m, swap))
  }

  /** Trino's `INSERT VALUES (...)` names no columns, which Spark's
    * grammar requires. In a MERGE, Spark's own lexer finds each INSERT
    * directly followed by VALUES and names its values by position,
    * `(__pos_1, ...)`, which [[Plan]] maps to the target's columns in
    * order. A statement that does not open with MERGE (or a comment)
    * comes back unchanged, unlexed. */
  private[engine] def positionalInserts(text: String): String = {
    val head = text.indexWhere(!_.isWhitespace)
    if (head < 0 || !(text.regionMatches(true, head, "MERGE", 0, 5) ||
        text.startsWith("/*", head) || text.startsWith("--", head))) return text
    // Spark lexes keywords upper-cased; per code point, so positions hold
    val upper = text.codePoints().map(Character.toUpperCase(_)).toArray
    val tokens = new CommonTokenStream(
      new SqlBaseLexer(CharStreams.fromString(new String(upper, 0, upper.length))))
    if (tokens.LT(1).getType != SqlBaseLexer.MERGE) return text
    tokens.fill()
    val ts = tokens.getTokens.asScala.filter(_.getChannel == Token.DEFAULT_CHANNEL).toIndexedSeq
    ts.indices.filter(i => ts(i).getType == SqlBaseLexer.INSERT &&
        ts.lift(i + 1).exists(_.getType == SqlBaseLexer.VALUES)).map { i =>
      // one name per value: the commas at the VALUES list's own depth
      val list = ts.drop(i + 2)
      val depths = list.scanLeft(0)((d, t) => t.getType match {
        case SqlBaseLexer.LEFT_PAREN => d + 1
        case SqlBaseLexer.RIGHT_PAREN => d - 1
        case _ => d
      }).tail
      val n = 1 + list.zip(depths).takeWhile(_._2 > 0)
        .count { case (t, d) => t.getType == SqlBaseLexer.COMMA && d == 1 }
      (text.offsetByCodePoints(0, ts(i).getStopIndex + 1),
        (1 to n).map(k => s"$Positional$k").mkString(" (", ", ", ")"))
    }.foldRight(text) { case ((at, names), s) => s.substring(0, at) + names + s.substring(at) }
  }

  /** The merged relation a statement WOULD commit — plan construction
    * only (no cardinality jobs, no write): what PlanQualitySpec locks
    * the join shapes on. */
  private[graft] def planOnly(spark: SparkSession, sql: String): DataFrame =
    spark.sessionState.sqlParser.parsePlan(positionalInserts(sql)) match {
      case m: MergeIntoTable => new Plan(spark, m, Lakehouse.withRelations(spark)).merged(dedupe = false)
      case other => throw new IllegalArgumentException(s"not a MERGE statement: ${other.nodeName}")
    }

  /** `CASE WHEN p1 THEN v1 WHEN p2 THEN v2 ... ELSE otherwise END`. */
  private def firstOf(arms: Seq[(Column, Column)], otherwise: Column): Column =
    if (arms.isEmpty) otherwise
    else arms.tail.foldLeft(when(arms.head._1, arms.head._2)) { case (c, (p, v)) => c.when(p, v) }
      .otherwise(otherwise)

  private def cond(a: MergeAction): Column = column(a.condition.getOrElse(Literal.TrueLiteral))

  /** One statement's plans over its target, read once. */
  private final class Plan(spark: SparkSession, m: MergeIntoTable,
      swap: LogicalPlan => LogicalPlan) {
    val (table, cur) = DmlSql.current(spark, m.targetTable, "MERGE")
    private val fields = cur.schema.fields.toSeq
    private val attrs = cur.queryExecution.analyzed.output.map(column)
    private val tgt = cur.withColumn("__tid", monotonically_increasing_id())
    private val src = frame(spark, swap(m.sourceTable)).withColumn("__smatch", lit(true))
    private val on = column(m.mergeCondition)
    val matched: Seq[MergeAction] = m.matchedActions
    val bySource: Seq[MergeAction] = m.notMatchedBySourceActions
    /** The clauses acting on target rows, numbered from 1 in textual
      * order: the matched ones, then the NOT MATCHED BY SOURCE ones. */
    val acting: Seq[MergeAction] = matched ++ bySource
    private val sets: Seq[Map[String, Expression]] = acting.map {
      case u: UpdateAction =>
        val set = DmlSql.assignments(u.assignments, "UPDATE SET")
        set.foreach { case (c, _) => require(fields.exists(_.name == c),
          s"UPDATE SET names unknown column '$c' of $table") }
        set.toMap
      case _: DeleteAction => Map.empty[String, Expression]
      case other => throw new IllegalArgumentException(
        s"MERGE supports UPDATE SET <column> = ... or DELETE on target rows, not ${other.sql}")
    }
    // a NOT MATCHED BY SOURCE row has no source row: its conditions and
    // values must resolve against the target alone, or refuse here
    cur.select(bySource.zip(sets.drop(matched.size)).flatMap { case (a, set) =>
      cond(a) +: set.values.map(column).toSeq }: _*)

    private def clauses(p: MergeAction => Boolean): Seq[Int] =
      acting.zipWithIndex.collect { case (a, i) if p(a) => i + 1 }
    def isAct(ks: Seq[Int]): Column = col("__act").isin(ks: _*)
    val applicable: Column = col("__act").between(1, matched.size)
    val updates: Column = isAct(clauses(_.isInstanceOf[UpdateAction]))
    val deletes: Column = isAct(clauses(_.isInstanceOf[DeleteAction]))

    /** Target⋈source with `__act`, the clause that applies to each pair
      * (0 = none): CASE WHEN is first-match, the standard's order. */
    def joined(kind: String): DataFrame = {
      val smatch = coalesce(col("__smatch"), lit(false))
      val guards = matched.map(a => smatch && cond(a)) ++ bySource.map(a => !smatch && cond(a))
      tgt.join(src, on, kind).withColumn("__act",
        firstOf(guards.zipWithIndex.map { case (g, i) => (g, lit(i + 1)) }, lit(0)))
    }

    /** The target rows the acting clauses keep or update. `dedupe` keeps
      * one row per target row (applicable pair first — non-applicable
      * pairs all project the unchanged row): the path for statements
      * where some target row has EXTRA matched pairs, which a bare left
      * join would emit once per pair. */
    def kept(dedupe: Boolean): DataFrame =
      if (acting.isEmpty) cur // no clause can change or delete a target row
      else {
        val j = joined("left")
        val one = if (!dedupe) j else j.withColumn("__rn", row_number().over(
          Window.partitionBy("__tid").orderBy(when(applicable, 0).otherwise(1))))
          .filter(col("__rn") === 1)
        one.filter(!deletes).select(fields.zip(attrs).map { case (f, old) =>
          firstOf(sets.zipWithIndex.collect { case (set, i) if set.contains(f.name) =>
            (col("__act") === i + 1, column(set(f.name)).cast(f.dataType))
          }, old).as(f.name)
        }: _*)
      }

    /** The source rows with no target match that an INSERT clause takes,
      * in the target's columns (unlisted ones NULL). */
    lazy val inserted: Option[DataFrame] =
      if (m.notMatchedActions.isEmpty) None
      else {
        val values = m.notMatchedActions.map {
          case a: InsertAction => insertValues(a)
          case other => throw new IllegalArgumentException(
            s"WHEN NOT MATCHED supports INSERT [(cols)] VALUES (...), not ${other.sql}")
        }
        val rows = src.join(tgt, on, "left_anti").withColumn("__ins", firstOf(
          m.notMatchedActions.zipWithIndex.map { case (a, i) => (cond(a), lit(i + 1)) }, lit(0)))
        Some(rows.filter(col("__ins") > 0).select(fields.map { f =>
          firstOf(values.zipWithIndex.collect { case (v, i) if v.contains(f.name) =>
            (col("__ins") === i + 1, column(v(f.name)).cast(f.dataType))
          }, lit(null).cast(f.dataType)).as(f.name)
        }: _*))
      }

    private def insertValues(a: InsertAction): Map[String, Expression] = {
      val named = DmlSql.assignments(a.assignments, "INSERT")
      if (named.exists(_._1.startsWith(Positional))) {
        require(named.length == fields.length,
          s"INSERT lists ${fields.length} columns but ${named.length} values")
        fields.map(_.name).zip(named.map(_._2)).toMap
      } else {
        named.foreach { case (c, _) => require(fields.exists(_.name == c),
          s"INSERT names unknown column '$c' of $table") }
        named.toMap
      }
    }

    def merged(dedupe: Boolean, insertCount: Option[Observation] = None): DataFrame =
      inserted.fold(kept(dedupe)) { ins =>
        kept(dedupe).unionByName(insertCount.fold(ins)(o => ins.observe(o, count(lit(1)).as("ins"))))
      }
  }

  private def execute(spark: SparkSession, p: Plan): DataFrame = {
    import spark.implicits._
    // Fused pre-pass (one aggregate, skipped without clauses acting on
    // target rows): the standard's cardinality rule, the raw multi-match
    // maximum (does the kept side need the dedupe window?) and Trino's
    // updated/deleted counts. Only NOT MATCHED BY SOURCE needs the
    // unmatched target rows, so only it pays for the left join here.
    val (updated, deleted, multiMatch) =
      if (p.acting.isEmpty) (0L, 0L, false)
      else {
        val pre = p.joined(if (p.bySource.isEmpty) "inner" else "left")
          .groupBy("__tid").agg(
            sum(when(p.applicable, 1).otherwise(0)).as("app"),
            count(col("__smatch")).as("pairs"),
            sum(when(p.updates, 1).otherwise(0)).as("u"),
            sum(when(p.deletes, 1).otherwise(0)).as("d"))
          .agg(coalesce(max("app"), lit(0L)), coalesce(max("pairs"), lit(0L)),
            coalesce(sum("u"), lit(0L)), coalesce(sum("d"), lit(0L))).head()
        val maxApplicable = pre.getLong(0)
        require(maxApplicable <= 1L,
          s"MERGE cardinality violation: an UPDATE or DELETE would be " +
            s"applied to a target row of ${p.table} by $maxApplicable " +
            "source rows — the ON condition plus clause conditions must " +
            "select at most one")
        (pre.getLong(2), pre.getLong(3), pre.getLong(1) > 1L)
      }
    val obs = Observation("merge_ins_" + java.util.UUID.randomUUID().toString.take(8))
    Layout.overwrite(spark, p.table, p.merged(multiMatch, Some(obs)), operation = "merge")
    val insertedCount = p.inserted.fold(0L)(_ => obs.get("ins").asInstanceOf[Long])
    Seq(updated + deleted + insertedCount).toDF("rows")
  }
}
