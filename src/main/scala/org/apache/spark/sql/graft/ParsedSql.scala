package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Command, ExecutableDuringAnalysis,
  LogicalPlan, ParsedStatement, V2CreateTablePlan}
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSession}

/** `spark.sql` with one step between parse and analysis. The statement is
  * parsed once by the session's own parser, timed as the PARSING phase
  * the way `spark.sql` times it. A plan `writes` takes is its result;
  * any other plan is transformed by `rewrite` and runs as `spark.sql`
  * runs it (commands execute eagerly, the tracker carries on into
  * analysis and planning). */
object ParsedSql {

  def run(spark: SparkSession, text: String)(
      writes: PartialFunction[LogicalPlan, DataFrame],
      rewrite: LogicalPlan => LogicalPlan): DataFrame = {
    val session = spark.asInstanceOf[ClassicSession]
    val tracker = new QueryPlanningTracker
    session.withActive {
      val parsed = tracker.measurePhase(QueryPlanningTracker.PARSING)(
        session.sessionState.sqlParser.parsePlan(text))
      writes.applyOrElse(parsed,
        (p: LogicalPlan) => Dataset.ofRows(session, rewrite(p), tracker))
    }
  }

  /** The frame of a (parsed or analyzed) plan; a command runs here. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** A Catalyst expression as a Column, resolved where it is used. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** True only when `text` is provably a query: the session parser's
    * plan of it holds no command, no parsed statement (`INSERT`), no
    * table-creating plan and nothing that executes during analysis
    * (`CALL`). A statement the parser refuses is not provably a query. */
  def isQuery(spark: SparkSession, text: String): Boolean =
    try !spark.asInstanceOf[ClassicSession].sessionState.sqlParser.parsePlan(text)
      .exists {
        case _: Command | _: ParsedStatement | _: V2CreateTablePlan |
            _: ExecutableDuringAnalysis => true
        case _ => false
      }
    catch { case scala.util.control.NonFatal(_) => false }
}
