package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** Per-statement session state that never touches the shared session.
  *
  * A Trino coordinator scopes a client's `SET SESSION` properties and its
  * `USE` schema to one query. Here the same scoping covers every place
  * that wants temporary session state: the wire front's
  * `X-Trino-Session` / `X-Trino-Schema` echoes, the bounded-table loops
  * that turn AQE off and pin the shuffle width, and the bloom build that
  * lifts `BloomFilterAggregate`'s size clamps. Instead of setting the
  * shared session's conf and restoring it afterwards (which every query
  * planned on the shared session in between would see), [[run]] runs the
  * body on a `cloneSession()` with the overrides set on the clone only.
  *
  * The clone shares the catalog, the cache manager and the SparkContext;
  * it has its own conf, current database and relation cache. Work the
  * body builds from the session it is handed runs on the clone; a frame
  * built earlier on the shared session must be re-rooted with [[reroot]]
  * to pick up the overrides. */
object Scoped {

  /** Run `body` with `confs` set and `schema` as the current database,
    * with the session it runs on active for the call. With nothing to
    * change it runs on `spark` itself. Otherwise it runs on a clone.
    *
    * `commits` says whether the body may commit to a table. If it may,
    * the shared session's relation cache is invalidated after a cloned
    * run, because a commit made in the clone (a DROP + CREATE at a new
    * commit directory) refreshed only the clone's cache, and the shared
    * session would otherwise keep resolving the table to the old
    * directory that `gc` deletes. A body that only reads leaves the
    * shared cache alone: a read cannot change what a table resolves to. */
  def run[T](spark: SparkSession, confs: Map[String, String],
      schema: Option[String], commits: Boolean = true)(body: SparkSession => T): T = {
    val shared = spark.asInstanceOf[ClassicSession]
    val db = schema.filter(_ != spark.catalog.currentDatabase)
    if (confs.isEmpty && db.isEmpty) shared.withActive(body(spark))
    else {
      val clone = shared.cloneSession()
      confs.foreach { case (k, v) => clone.conf.set(k, v) }
      db.foreach(clone.catalog.setCurrentDatabase)
      try clone.withActive(body(clone))
      finally if (commits) spark.sessionState.catalog.invalidateAllCachedTables()
    }
  }

  /** `df`'s analyzed plan as a frame of `spark`, so that it plans and
    * executes under that session's conf (a frame always runs on the
    * session that built it). */
  def reroot(df: DataFrame, spark: SparkSession): DataFrame =
    if (df.sparkSession eq spark) df
    else Dataset.ofRows(spark.asInstanceOf[ClassicSession],
      df.queryExecution.analyzed)
}
