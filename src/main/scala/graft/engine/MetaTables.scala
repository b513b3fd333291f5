package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-style metadata tables over a parquet table directory — the
  * `table$files` / `table$partitions` inspection surface the reference
  * catalog exposes (Trino `SELECT * FROM "t$files"`; Iceberg spec's
  * manifest `record_count`/`file_size_in_bytes` columns).
  *
  * Listing is a driver-side metadata operation (exactly like reading
  * Iceberg manifests), but the per-file parquet FOOTER reads — the part
  * proportional to file count — run distributed: the path list becomes a
  * Dataset and each task opens only footers (column stats + row counts),
  * never data pages. A 100 TB table with 100 k files costs 100 k footer
  * reads spread over the cluster, zero data-page I/O.
  */
object MetaTables {

  private def listFiles(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: HPath): Seq[FileStatus] =
      fs.listStatus(p).toSeq.flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(s))
    walk(root).filter(_.getPath.getName.endsWith(".parquet"))
  }

  /** `$files`: one row per data file — (file, partition, record_count,
    * file_size_bytes). `partition` is the Hive-style `k=v[/k=v...]`
    * relative path ("" for unpartitioned files). Row counts come from the
    * footer's block metadata, read in parallel tasks. */
  def filesMetadata(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rootUri = new HPath(dir).toUri
    val paths = listFiles(spark, dir).map { f =>
      val rel = rootUri.relativize(f.getPath.toUri).getPath
      val part = rel.split('/').dropRight(1).filter(_.contains('=')).mkString("/")
      (f.getPath.toString, part, f.getLen)
    }
    val slices = math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(paths).repartition(slices)
      .mapPartitions { it =>
        // Executor-local Configuration: fine for the default filesystem; a
        // multi-FS deployment would broadcast the serialized Hadoop conf.
        val conf = new Configuration()
        it.map { case (path, part, bytes) =>
          val reader = ParquetFileReader.open(
            HadoopInputFile.fromPath(new HPath(path), conf))
          val records = try reader.getRecordCount finally reader.close()
          (path, part, records, bytes)
        }
      }
      .toDF("file", "partition", "record_count", "file_size_bytes")
  }

  /** `$partitions`: per-partition rollup of [[filesMetadata]] — (partition,
    * file_count, record_count, total_bytes). The input is one row per FILE
    * (metadata-sized), so the rollup is trivially small. */
  def partitionsMetadata(spark: SparkSession, dir: String): DataFrame =
    filesMetadata(spark, dir)
      .groupBy(col("partition"))
      .agg(count(lit(1)).as("file_count"),
        sum(col("record_count")).as("record_count"),
        sum(col("file_size_bytes")).as("total_bytes"))

  /** `$snapshots`-style inspection over [[Layout]] tags: one row per
    * snapshot tag — (tag, file_count, record_count, total_bytes). A TRUE
    * manifest read: the stats were collected once at snapshot time and
    * live in the tag's manifest ([[Manifests.Snapshot]]), so this costs a
    * handful of metadata-file reads — zero footer I/O, zero listing,
    * exactly how Iceberg's `$snapshots` table answers. */
  def snapshotsMetadata(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val root = Manifests.root(spark, table)
    val refs = Manifests.loadRefs(root)
    require(refs.tags.nonEmpty, s"no snapshots for $table")
    refs.tags.toSeq.sortBy(_._1).map { case (tag, seq) =>
      val snap = Manifests.loadSnapshot(root, seq)
      (tag, snap.files.size.toLong, snap.recordCount, snap.totalBytes)
    }.toDF("tag", "file_count", "record_count", "total_bytes")
  }

  /** Per-file column BOUNDS — the min/max half of Iceberg's manifest
    * `lower_bounds`/`upper_bounds`, read from parquet footer statistics
    * (merged across row groups), distributed like [[filesMetadata]].
    * One row per (file, requested column), values rendered as strings
    * (the manifest convention — callers compare after casting). This is
    * the data-skipping substrate: a scan planner (or a human auditing
    * why files were NOT skipped — the z-order before/after view) can
    * evaluate a predicate against bounds without touching data pages.
    * Bounds are reported only when EVERY row-group chunk of the column
    * carries usable stats — one stats-less chunk could hide values
    * outside the other chunks' range, so the whole (file, column) goes
    * null ("cannot skip"), never a narrowed guess. All-null chunks
    * (stats present, no non-null values) are legitimately skippable and
    * do not widen bounds. */
  def columnBounds(spark: SparkSession, dir: String,
      columns: Seq[String]): DataFrame = {
    import spark.implicits._
    require(columns.nonEmpty, "need at least one column")
    val paths = listFiles(spark, dir).map(_.getPath.toString)
    val slices = math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism))
    val wanted = columns.toSet
    spark.createDataset(paths).repartition(slices)
      .mapPartitions { it =>
        val conf = new Configuration()
        it.flatMap { path =>
          val reader = ParquetFileReader.open(
            HadoopInputFile.fromPath(new HPath(path), conf))
          try {
            val blocks = reader.getFooter.getBlocks
            import scala.jdk.CollectionConverters._
            blocks.asScala
              .flatMap(_.getColumns.asScala)
              .filter(c => wanted.contains(c.getPath.toDotString))
              .groupBy(_.getPath.toDotString)
              .map { case (name, chunks) =>
                val stats = chunks.map(_.getStatistics)
                // any absent/empty chunk stats poison the whole column:
                // a stats-less chunk could hide out-of-range values
                val usable = !stats.exists(s => s == null || s.isEmpty)
                val nonNull = stats.filter(s => s != null && !s.isEmpty)
                  .filter(_.hasNonNullValue)
                // merge across row groups with parquet's TYPED merge —
                // a string min() would order "10" before "9" on numerics
                val (lo, hi) =
                  if (!usable || nonNull.isEmpty) (null: String, null: String)
                  else {
                    val merged = nonNull.reduce { (a, b) =>
                      val c = a.copy(); c.mergeStatistics(b); c
                    }
                    (merged.minAsString, merged.maxAsString)
                  }
                (path, name, lo, hi)
              }.toSeq
          } finally reader.close()
        }
      }
      .toDF("file", "column", "lower_bound", "upper_bound")
  }
}
