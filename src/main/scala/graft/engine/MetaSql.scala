package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Iceberg metadata-table SQL spellings — Trino's `SELECT * FROM
  * "t$snapshots"` family (`/root/reference`'s catalog is Iceberg; these
  * are the documented inspection relations a SQL-Lab user types, and
  * the `$snapshots` → `FOR VERSION AS OF <snapshot_id>` paste is the
  * canonical time-travel workflow). The quoted identifier arrives in
  * Spark dialect as `` `t$snapshots` `` (the wire plane's double quotes
  * requote through [[TrinoSql]]), optionally `[catalog.]schema.`
  * qualified or dotted inside the one pair of backticks; [[Lakehouse.sql]]
  * swaps the parsed name for a relation built driver-side from the
  * manifest store — metadata-file reads only, zero data I/O, exactly how
  * Iceberg answers these.
  *
  * Served relations (engine-shaped columns, Trino-named where the
  * concept maps 1:1):
  *
  *   - `t$snapshots` — one row per COMMIT: committed_at, snapshot_id
  *     (the seq `FOR VERSION AS OF` accepts), parent_id, operation,
  *     file_count, record_count, total_bytes, tags (live tag names
  *     pointing at the commit).
  *   - `t$history` — committed_at, snapshot_id, parent_id,
  *     is_current_ancestor (member of the head's parent chain — the
  *     rollback-visibility bit Trino's history carries).
  *   - `t$refs` — name, type ('branch' | 'tag'), snapshot_id — from
  *     [[Layout.listRefs]] (branches surface their fork seq).
  *   - `t$files` — the HEAD manifest's data files: file_path,
  *     file_format, record_count, file_size_in_bytes.
  *
  * Unversioned tables refuse loudly with the remedy (commit or
  * snapshot first); unknown `$rel` suffixes refuse with the served
  * list. */
object MetaSql {

  // the table leaf `t$rel` (the table part may itself be dotted when the
  // whole name sits in one pair of backticks)
  private val Leaf = "([A-Za-z_][A-Za-z_0-9.]*)\\$([A-Za-z_]+)".r
  private val Served = Set("snapshots", "history", "refs", "files",
    "partitions", "manifests", "properties")

  /** The parsed-plan rule [[Lakehouse.sql]] applies: each `t$rel` name
    * becomes the metadata relation it names. A two-leg qualifier leads
    * with the catalog, which names no part of the table here. */
  private[engine] def served(spark: SparkSession)
      : PartialFunction[LogicalPlan, LogicalPlan] = {
    case UnresolvedRelation(name @ (qualifier :+ Leaf(leaf, relName)), _, _) =>
      val rel = relName.toLowerCase
      if (!Served.contains(rel))
        throw new IllegalArgumentException(
          s"metadata table $$$rel is not served — available: " +
            Served.toSeq.sorted.map("$" + _).mkString(", "))
      val table = (qualifier.takeRight(1) :+ leaf).mkString(".")
      Lakehouse.relation(name, build(spark, table, rel))
  }

  private def build(spark: SparkSession, table: String, rel: String): DataFrame = {
    import spark.implicits._
    val root = Manifests.root(spark, table)
    // one refs state per answer
    lazy val refs = Manifests.loadRefs(root)
    lazy val headFiles = {
      require(refs.head >= 0,
        s"$table has no committed snapshots — commit or snapshot first")
      Manifests.loadSnapshot(root, refs.head).files
    }
    lazy val snaps = {
      val s = Manifests.listSnapshots(root)
      require(s.nonEmpty,
        s"$table has no committed snapshots — metadata tables read the " +
          "manifest store; commit or snapshot the table first")
      s
    }
    rel match {
      case "snapshots" =>
        val byseq = refs.tags.groupBy(_._2)
        snaps.sortBy(-_.seq).map { s =>
          (new java.sql.Timestamp(s.createdMs), s.seq, s.parent, s.operation,
            s.files.size.toLong, s.recordCount, s.totalBytes,
            byseq.getOrElse(s.seq, Map.empty).keys.toSeq.sorted)
        }.toDF("committed_at", "snapshot_id", "parent_id", "operation",
          "file_count", "record_count", "total_bytes", "tags")
      case "history" =>
        val head = refs.head
        val parentOf = snaps.map(s => s.seq -> s.parent).toMap
        val ancestors = Iterator.iterate(head)(s => parentOf.getOrElse(s, -1L))
          .takeWhile(_ >= 0).toSet
        snaps.sortBy(-_.seq).map { s =>
          (new java.sql.Timestamp(s.createdMs), s.seq, s.parent,
            ancestors.contains(s.seq))
        }.toDF("made_current_at", "snapshot_id", "parent_id",
          "is_current_ancestor")
      case "refs" =>
        Layout.listRefs(spark, table)
          .withColumnRenamed("ref_name", "name")
          .withColumnRenamed("ref_type", "type")
          .withColumnRenamed("snapshot_seq", "snapshot_id")
      case "files" =>
        headFiles.map(f => (f.path, "PARQUET", f.records, f.bytes))
          .toDF("file_path", "file_format", "record_count",
            "file_size_in_bytes")
      case "manifests" =>
        // one manifest file per commit in this engine; added/existing
        // splits computed against the parent's file set — driver-side
        // metadata, the same set-diffs the changelog runs
        val bySeq = snaps.map(s => s.seq -> s).toMap
        snaps.sortBy(-_.seq).map { s =>
          val parentPaths = bySeq.get(s.parent)
            .map(_.files.map(_.path).toSet).getOrElse(Set.empty[String])
          val (existing, added) =
            s.files.partition(f => parentPaths.contains(f.path))
          val mpath = root.resolve(refs.snapName(s.seq)).toString
          val mlen =
            try java.nio.file.Files.size(java.nio.file.Paths.get(mpath))
            catch { case scala.util.control.NonFatal(_) => -1L }
          (mpath, mlen, s.seq, added.size.toLong, added.map(_.records).sum,
            existing.size.toLong, existing.map(_.records).sum)
        }.toDF("path", "length", "added_snapshot_id",
          "added_data_files_count", "added_rows_count",
          "existing_data_files_count", "existing_rows_count")
      case "properties" =>
        // catalog-recorded table properties plus the engine-shaped
        // basics (provider, location) — Trino's $properties shape
        val leaf = table.split('.').last
        val db = table.split('.').dropRight(1).lastOption
        val meta =
          try Some(spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(leaf, db)))
          catch { case scala.util.control.NonFatal(_) => None }
        val base = Seq(
          "provider" -> meta.flatMap(_.provider).getOrElse("parquet"),
          "location" -> meta.map(_.location.toString).getOrElse(""))
        val props = meta.map(_.properties.toSeq).getOrElse(Nil)
          .filterNot { case (k, _) => k.startsWith("transient_") }
        (base ++ props).sortBy(_._1).toDF("key", "value")
      case "partitions" =>
        // per-partition rollup of the HEAD manifest — the partition is
        // the hive-style `k=v` path segments ("" for unpartitioned
        // files), same convention as [[MetaTables.filesMetadata]]
        val segRx = "[^/]+=[^/]*".r
        headFiles.groupBy(f => segRx.findAllIn(f.path).mkString("/"))
          .toSeq.sortBy(_._1)
          .map { case (part, fs) =>
            (part, fs.size.toLong, fs.map(_.records).sum, fs.map(_.bytes).sum)
          }
          .toDF("partition", "file_count", "record_count", "total_bytes")
    }
  }
}
