package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** `spark.sql` with one step between parse and analysis. The statement is
  * parsed once by the session's own parser, timed as the PARSING phase
  * the way `spark.sql` times it; `rewrite` transforms the parsed plan;
  * the result runs as `spark.sql` runs it (commands execute eagerly, the
  * tracker carries on into analysis and planning). */
object ParsedSql {

  def run(spark: SparkSession, text: String)(
      rewrite: LogicalPlan => LogicalPlan): DataFrame = {
    val session = spark.asInstanceOf[ClassicSession]
    val tracker = new QueryPlanningTracker
    session.withActive {
      val parsed = tracker.measurePhase(QueryPlanningTracker.PARSING)(
        session.sessionState.sqlParser.parsePlan(text))
      Dataset.ofRows(session, rewrite(parsed), tracker)
    }
  }
}
