package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, InsertIntoStatement,
  LogicalPlan, SubqueryAlias, TruncatePartition, TruncateTable, UpdateTable}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.ParsedSql.{column, frame}

/** SQL-surface row-level DML — `DELETE FROM t [WHERE ...]`,
  * `UPDATE t SET c = e, ... [WHERE ...]`, `TRUNCATE TABLE t` and
  * `INSERT [OVERWRITE] t <query>`, the statements the reference's README
  * invites from "any Trino client" (its `README.md:49-66`).
  * Spark's v1 parquet catalog refuses DELETE and UPDATE natively
  * ("DELETE is only supported with v2 tables"), and runs TRUNCATE and
  * INSERT OVERWRITE in place, under the manifest. Spark's parser parses
  * each statement once in [[Lakehouse.sql]]; this executor takes the
  * target, the predicate and the assignments from that parsed plan and
  * hands them to the [[Layout]] verbs, returning Trino's affected-row
  * count.
  *
  * Semantics (SQL standard, enforced by the Layout verbs):
  *
  *   - DELETE removes rows where the predicate is TRUE; NULL keeps
  *     (three-valued logic — only TRUE deletes). No WHERE = all rows.
  *   - UPDATE applies assignments where TRUE; every other row is
  *     byte-identical. Assignments are CAST to the column's existing
  *     type, so `SET value = 0` on a DOUBLE column cannot silently
  *     narrow the table schema through the copy-on-write rewrite.
  *   - Duplicate assignments to one column refuse (the standard;
  *     last-wins would hide a typo'd statement).
  *
  * All commit through [[Layout.overwrite]] — copy-on-write, so DML
  * composes with snapshot tags / time travel / CDC like every other
  * write, and a plain `SELECT * FROM t` is correct immediately (the
  * same COW-for-the-SQL-plane discipline [[MergeSql]] documents; the
  * O(matches) MOR variants [[Layout.deleteWhereMor]]/[[Layout.upsertMor]]
  * stay at the API plane where readers are manifest-aware). A plain
  * `INSERT INTO` runs as Spark runs it and then commits one `append`
  * snapshot when the table is versioned.
  *
  * Predicates and assignments are Catalyst expressions resolved against
  * the table's current state, without subqueries: a Column filter
  * cannot carry an IN/EXISTS subquery, so one refuses loudly with the
  * MERGE alternative, never a three-layers-down analysis error. */
object DmlSql {

  /** The statements this executor owns; `swap` puts the engine's
    * relations into an INSERT's source query and target. */
  def writes(spark: SparkSession, swap: LogicalPlan => LogicalPlan)
      : PartialFunction[LogicalPlan, DataFrame] = {
    case DeleteFromTable(t, cond) =>
      val (table, cur) = current(spark, t, "DELETE")
      noSubquery(cond, "DELETE WHERE")
      rows(spark, Layout.deleteWhere(spark, table, column(cond), cur))
    case UpdateTable(t, assigns, cond) =>
      val (table, cur) = current(spark, t, "UPDATE")
      (cond.toSeq ++ assigns.map(_.value)).foreach(noSubquery(_, "UPDATE"))
      // CAST each assignment to the column's current type: updateWhere
      // rewrites the whole table from the projected plan, so an untyped
      // `SET value = 0` would otherwise retype DOUBLE→INT through the
      // copy-on-write commit
      val typed = assignments(assigns, "UPDATE SET").map { case (c, e) =>
        val f = cur.schema.find(_.name == c).getOrElse(throw new IllegalArgumentException(
          s"unknown column '$c' in UPDATE assignments"))
        c -> column(e).cast(f.dataType)
      }.toMap
      rows(spark, Layout.updateWhere(spark, table,
        column(cond.getOrElse(Literal.TrueLiteral)), typed, cur))
    // Spark's native TRUNCATE deletes the files under the table location
    // in place — on a versioned table, the latest commit's files. Here it
    // is an unconditioned COW delete: every snapshot keeps its bytes.
    case TruncateTable(t: UnresolvedTable) =>
      val table = t.multipartIdentifier
      requireTableTarget(spark, table, "TRUNCATE")
      rows(spark, Layout.deleteWhere(spark, table.mkString("."), lit(true)))
    case _: TruncatePartition => throw new IllegalArgumentException(
      "TRUNCATE TABLE with a PARTITION spec is not supported — DELETE the partition's rows")
    case i @ InsertIntoStatement(t: UnresolvedRelation, _, _, _, true, _, _) =>
      insertOverwrite(spark, i, t.multipartIdentifier, swap)
    case i: InsertIntoStatement if !i.overwrite =>
      val done = frame(spark, swap(i))
      swap(i.table) match {
        case t: UnresolvedRelation => Layout.commitAppend(spark, t.multipartIdentifier.mkString("."))
        case _ =>
      }
      done
  }

  /** `INSERT OVERWRITE [TABLE] t <query>` — the same in-place-delete
    * hazard as TRUNCATE: Spark's native path clears the files under the
    * table location before writing. Here the query's result commits
    * through [[Layout.overwrite]] (a fresh commit dir + pointer swap), so
    * every tag keeps reading its exact files. Static `PARTITION (...)`
    * specs refuse loudly — a silent full-table overwrite under a
    * partition spec would destroy data the user meant to keep. */
  private def insertOverwrite(spark: SparkSession, i: InsertIntoStatement,
      name: Seq[String], swap: LogicalPlan => LogicalPlan): DataFrame = {
    val table = name.mkString(".")
    requireTableTarget(spark, name, "INSERT OVERWRITE")
    require(i.partitionSpec.isEmpty,
      "INSERT OVERWRITE with a PARTITION spec is not supported — " +
        "DELETE the partition's rows, then INSERT INTO")
    require(i.userSpecifiedCols.isEmpty && !i.byName,
      "INSERT OVERWRITE matches its query's columns by position only")
    val target = spark.table(table).schema
    val src = frame(spark, swap(i.query))
    require(src.schema.length == target.length,
      s"INSERT OVERWRITE query yields ${src.schema.length} columns, " +
        s"$table has ${target.length}")
    // position-based with a cast to the table's types — INSERT's
    // standard column resolution
    val aligned = src.toDF(target.fieldNames.toIndexedSeq: _*)
      .select(target.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    Layout.overwrite(spark, table, aligned, operation = "insert-overwrite")
    rows(spark, spark.table(table).count())
  }

  /** The target a statement names and its current state, read once and
    * aliased as the statement wrote it (`t AS a`, or the name itself). */
  private[engine] def current(spark: SparkSession, target: LogicalPlan,
      what: String): (String, DataFrame) = {
    val (name, alias) = target match {
      case SubqueryAlias(id, r: UnresolvedRelation) => (r.multipartIdentifier, Seq(id.name))
      case r: UnresolvedRelation => (r.multipartIdentifier, r.multipartIdentifier)
      case other => throw new IllegalArgumentException(
        s"$what target must be a table name, not ${other.nodeName}")
    }
    requireTableTarget(spark, name, what)
    val table = name.mkString(".")
    (table, frame(spark,
      SubqueryAlias(alias, Layout.readCurrent(spark, table).queryExecution.analyzed)))
  }

  /** Each SET target's column name with its value; a column assigned
    * twice refuses. */
  private[engine] def assignments(assigns: Seq[Assignment],
      what: String): Seq[(String, Expression)] = {
    val named = assigns.map(a => a.key match {
      case k: UnresolvedAttribute => k.nameParts.mkString(".") -> a.value
      case k => throw new IllegalArgumentException(s"bad assignment target in $what: ${k.sql}")
    })
    named.map(_._1).diff(named.map(_._1).distinct).headOption.foreach(c =>
      throw new IllegalArgumentException(s"duplicate assignment to column '$c' in $what"))
    named
  }

  /** Refuse a DML target that is a VIEW before any work: the
    * copy-on-write commit would otherwise fail three layers down
    * (DROP TABLE on a view) after having written the rewrite. */
  private def requireTableTarget(spark: SparkSession, name: Seq[String],
      what: String): Unit = {
    val isView =
      try spark.sessionState.catalog.getTableMetadata(
        TableIdentifier(name.last, name.dropRight(1).lastOption))
        .tableType == CatalogTableType.VIEW
      catch { case scala.util.control.NonFatal(_) => false }
    require(!isView, s"$what target ${name.mkString(".")} is a view — DML needs a table")
  }

  private def noSubquery(e: Expression, what: String): Unit =
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"subqueries are not supported in $what — materialize the key set " +
        "into a table and use MERGE INTO ... WHEN MATCHED THEN DELETE/UPDATE")

  private def rows(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    Seq(n).toDF("rows")
  }
}
