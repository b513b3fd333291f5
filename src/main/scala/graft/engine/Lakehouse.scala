package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.execution.command.ExplainCommand
import org.apache.spark.sql.graft.ParsedSql

/** Catalog/DDL surface — the Spark-native stand-in for the reference's
  * Nessie-catalog + MinIO-warehouse tier (SURVEY.md §1.1, §2.1 S2-S8):
  *
  *   - `SHOW CATALOGS` readiness probe (seed.sh:49)        → listDatabases
  *   - `CREATE SCHEMA ... WITH (location=...)` (seed.sh:65) → createSchema
  *   - `CREATE TABLE` typed DDL (seed.sh:72...)             → createTable
  *   - `DROP TABLE IF EXISTS` (seed.sh:69...)               → dropTable
  *   - `INSERT INTO ... VALUES` (README.md:62)              → [[sql]]
  *   - `INSERT INTO ... SELECT` (seed.sh:75...)             → [[sql]]
  *
  * Everything routes through Spark's own SQL parser and analyzer, not a
  * private API. Catalog versioning (the reference's Nessie refs) is served
  * by the engine itself: [[Layout]] keeps tags and branches in the
  * manifest store and [[NessieHttp]] answers the Nessie REST verbs over
  * them.
  */
object Lakehouse {

  /** `SELECT 1` liveness probe (seed.sh:34, S3). */
  def ping(spark: SparkSession): Boolean =
    spark.sql("SELECT 1").collect().head.getInt(0) == 1

  /** `SHOW CATALOGS`-equivalent readiness probe (seed.sh:49, S2). */
  def listSchemas(spark: SparkSession): Seq[String] =
    spark.sql("SHOW DATABASES").collect().map(_.getString(0)).toSeq

  /** CREATE SCHEMA IF NOT EXISTS with optional explicit location
    * (seed.sh:65, S4). */
  def createSchema(spark: SparkSession, name: String, location: Option[String] = None): Unit = {
    val loc = location.map(l => s" LOCATION '$l'").getOrElse("")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $name$loc")
  }

  /** Typed CREATE TABLE ... USING parquet (seed.sh:72-112, S5/S10);
    * `columns` are (name, sparkType) pairs. */
  def createTable(spark: SparkSession, fqName: String, columns: Seq[(String, String)]): Unit = {
    val cols = columns.map { case (n, t) => s"`$n` $t" }.mkString(", ")
    spark.sql(s"CREATE TABLE IF NOT EXISTS $fqName ($cols) USING parquet")
  }

  /** External-location table registration (iceberg.properties:19, S11). */
  def registerExternal(spark: SparkSession, fqName: String, path: String): Unit =
    spark.sql(s"CREATE TABLE IF NOT EXISTS $fqName USING parquet LOCATION '$path'")

  /** DROP TABLE IF EXISTS (seed.sh:69, S6). */
  def dropTable(spark: SparkSession, fqName: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $fqName")

  /** Ad-hoc SQL entry point (README.md:49-50, §3.3) — the full statement
    * surface is whatever Spark SQL parses, plus the engine's own spellings.
    *
    * Three text routers take the statements Spark's grammar refuses or
    * that the engine owns outright: the maintenance verbs
    * `ALTER TABLE ... EXECUTE` / `CALL system.*` ([[TableFunctions]]),
    * tag and branch DDL ([[AlterSql]]) and `SHOW STATS` ([[ShowStats]]).
    *
    * Every other statement is parsed once by the session's parser, and
    * the router dispatches on the parsed plan:
    *   - `MergeIntoTable` runs in [[MergeSql]];
    *   - `UpdateTable`, `DeleteFromTable`, `TruncateTable` and
    *     `InsertIntoStatement` run in [[DmlSql]] — copy-on-write commits,
    *     and a plain INSERT into a versioned table commits `append`;
    *   - anything else runs as Spark runs it.
    *
    * The engine's relations are swapped into the parsed plan before
    * analysis — a write's source query included — each as a
    * `SubqueryAlias` over the plan its builder returns:
    *   - `information_schema.<rel>` — the live-catalog introspection
    *     relations Superset reads ([[InfoSchema]]);
    *   - `` `t$snapshots` `` and the other Iceberg metadata tables
    *     ([[MetaSql]]);
    *   - `FOR VERSION AS OF` / `FOR TIMESTAMP AS OF` and `` `t@branch` ``
    *     ([[TimeTravel]]);
    *   - `TABLE(system.table_changes(...))` ([[TableFunctions]]).
    * Spark's parser owns quoting, so a spelling inside a literal stays
    * data. Nothing is registered on the session: concurrent statements
    * share no per-statement state. The swap reaches scalar and `IN`
    * subqueries, CTE definitions, the statement under `EXPLAIN` and an
    * `INSERT`'s target (`` INSERT INTO `t@branch` `` writes the branch). */
  def sql(spark: SparkSession, text: String): DataFrame =
    TableFunctions.maybeExecute(spark, text)
      .orElse(AlterSql.maybeExecute(spark, text))
      .orElse(ShowStats.maybeExecute(spark, text))
      .getOrElse {
        val swap = withRelations(spark) _
        ParsedSql.run(spark, MergeSql.positionalInserts(text))(
          MergeSql.writes(spark, swap).orElse(DmlSql.writes(spark, swap)), swap)
      }

  /** The parsed plan with the engine's relations swapped in. */
  private[engine] def withRelations(spark: SparkSession)(plan: LogicalPlan): LogicalPlan = {
    val served = InfoSchema.served(spark)
      .orElse(MetaSql.served(spark))
      .orElse(TimeTravel.served(spark))
      .orElse(TableFunctions.served(spark))
    // EXPLAIN holds its statement as a field, INSERT its target and WITH
    // its CTE definitions beside the child: a child transform reaches none
    def swap(p: LogicalPlan): LogicalPlan = p.transformDownWithSubqueries(
      served.orElse {
        case e: ExplainCommand => e.copy(logicalPlan = swap(e.logicalPlan))
        case i: InsertIntoStatement => i.copy(table = swap(i.table))
        case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map {
          case (name, body, depth) =>
            (name, swap(body).asInstanceOf[SubqueryAlias], depth)
        })
      })
    swap(plan)
  }

  /** One engine relation: `df`'s plan under `name`, so the statement can
    * qualify its columns by the name it wrote. Each call is one
    * occurrence, with attributes of its own. */
  private[engine] def relation(name: Seq[String], df: DataFrame): LogicalPlan =
    SubqueryAlias(name, df.queryExecution.analyzed)

  /** Result delivery as CSV-with-header — the Trino-CLI `--output-format
    * CSV` shape (seed.sh:9, S12). Distributed write; callers coalesce(1)
    * if they need the single-file CLI shape. */
  def deliverCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** CREATE OR REPLACE VIEW — the saved-query layer (Superset datasets are
    * exactly this: a named SQL body resolved at read time,
    * init_db.py:73-88). Views live in the catalog like tables and
    * re-optimize with the tables under them. */
  def createView(spark: SparkSession, fqName: String, sqlBody: String): Unit =
    spark.sql(s"CREATE OR REPLACE VIEW $fqName AS $sqlBody")

  /** ANALYZE TABLE — collect table (and optionally per-column) statistics
    * into the catalog for cost-based planning: accurate sizeInBytes drives
    * broadcast decisions, rowCount + column NDVs drive CBO join reorder.
    * At 100 TB stats freshness is what keeps the 6-way snowflakes (q92
    * shape) picking the right build sides. */
  def analyze(spark: SparkSession, fqName: String, columns: Seq[String] = Nil): Unit = {
    spark.sql(s"ANALYZE TABLE $fqName COMPUTE STATISTICS")
    if (columns.nonEmpty)
      spark.sql(s"ANALYZE TABLE $fqName COMPUTE STATISTICS FOR COLUMNS ${columns.mkString(", ")}")
  }

  /** Catalog-reported statistics line of DESCRIBE EXTENDED (None until
    * [[analyze]] has run). */
  def tableStats(spark: SparkSession, fqName: String): Option[String] =
    spark.sql(s"DESCRIBE TABLE EXTENDED $fqName").collect()
      .find(_.getString(0) == "Statistics").map(_.getString(1))

  /** CACHE TABLE — pin a hot table in the columnar in-memory store;
    * subsequent scans read `InMemoryTableScan` instead of parquet. The
    * BI-dashboard accelerator (every chart over the same dataset re-scans
    * it otherwise). */
  def cacheTable(spark: SparkSession, fqName: String): Unit =
    spark.catalog.cacheTable(fqName)

  def uncacheTable(spark: SparkSession, fqName: String): Unit =
    spark.catalog.uncacheTable(fqName)

  // -------------------------------------------------- network SQL endpoint
  // Every client of the reference stack is REMOTE: the Trino CLI speaks
  // HTTP to the coordinator (seed.sh:6-9), Superset connects via
  // SQLAlchemy (init_db.py:9), the web UI over the browser (README.md:49).
  // Spark's native wire protocol is Spark Connect (gRPC + Arrow batches);
  // starting it turns this in-process engine into the same shape: a
  // server other processes/languages query over the network, with each
  // client session isolated server-side but sharing the catalog — exactly
  // the coordinator model. The service runs inside the driver JVM; on a
  // cluster deploy this is the standard Spark Connect server.

  /** Start the Spark Connect gRPC endpoint on `port`. Remote clients
    * connect with `sc://host:port` (JVM/Python/Go clients all speak it). */
  def startConnectServer(spark: SparkSession, port: Int): Unit = {
    // the service reads its binding port from the driver's SparkConf
    // (SparkContext.conf is private; SparkEnv exposes the same instance)
    org.apache.spark.SparkEnv.get.conf
      .set("spark.connect.grpc.binding.port", port.toString)
    org.apache.spark.sql.connect.service.SparkConnectService.start(spark.sparkContext)
  }

  /** Stop the Spark Connect endpoint (idempotent). */
  def stopConnectServer(): Unit =
    org.apache.spark.sql.connect.service.SparkConnectService.stop(None, None)
}
