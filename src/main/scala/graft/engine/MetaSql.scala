package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iceberg metadata-table SQL spellings — Trino's `SELECT * FROM
  * "t$snapshots"` family (`/root/reference`'s catalog is Iceberg; these
  * are the documented inspection relations a SQL-Lab user types, and
  * the `$snapshots` → `FOR VERSION AS OF <snapshot_id>` paste is the
  * canonical time-travel workflow). The quoted identifier arrives in
  * Spark dialect as `` `t$snapshots` `` (the wire plane's double quotes
  * requote through [[TrinoSql]]); the rewrite substitutes a temp view
  * built driver-side from the manifest store — metadata-file reads
  * only, zero data I/O, exactly how Iceberg answers these.
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
  * list. Occurrences inside single-quoted literals are data. */
object MetaSql {

  // an optional `[catalog.]schema.` qualifier (bare or backticked legs —
  // Trino's `iceberg.demo."t$snapshots"` arrives as demo.`t$snapshots`)
  // belongs to the table name and to the replaced span
  private val Rx = ("((?:(?:`[A-Za-z_]\\w*`|\\b[A-Za-z_]\\w*)\\s*\\.\\s*){0,2})" +
    "`([A-Za-z_][A-Za-z_0-9.]*)\\$([A-Za-z_]+)`").r
  private val Served = Set("snapshots", "history", "refs", "files",
    "partitions", "manifests", "properties")

  private def insideLiteral(s: String, pos: Int): Boolean = {
    var i = 0
    var in = false
    while (i < pos && i < s.length) {
      if (s.charAt(i) == '\'') {
        if (in && i + 1 < s.length && s.charAt(i + 1) == '\'') i += 1
        else in = !in
      }
      i += 1
    }
    in
  }

  def rewrite(spark: SparkSession, sql: String): String = {
    if (sql.indexOf('$') < 0) return sql
    val out = new StringBuilder
    var last = 0
    Rx.findAllMatchIn(sql).foreach { m =>
      if (m.start >= last && !insideLiteral(sql, m.start)) {
        // a two-leg qualifier leads with the catalog, which names no
        // part of the table here
        val schema = m.group(1).split('.').map(_.trim.stripPrefix("`")
          .stripSuffix("`")).filter(_.nonEmpty).takeRight(1)
        val (table, rel) =
          ((schema :+ m.group(2)).mkString("."), m.group(3).toLowerCase)
        if (!Served.contains(rel))
          throw new IllegalArgumentException(
            s"metadata table $$$rel is not served — available: " +
              Served.toSeq.sorted.map("$" + _).mkString(", "))
        // stem + exact-name hash: sanitization alone maps distinct
        // tables (`a.b` vs `a_b`) to one view name (the TimeTravel
        // viewName lesson)
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(table.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .take(6).map(b => f"$b%02x").mkString
        val view = "__meta_" + rel + "_" +
          table.replaceAll("[^A-Za-z0-9_]", "_") + "_" + h
        build(spark, table, rel).createOrReplaceTempView(view)
        out ++= sql.substring(last, m.start)
        out ++= view
        last = m.end
      }
    }
    out ++= sql.substring(last)
    out.toString
  }

  private def build(spark: SparkSession, table: String, rel: String): DataFrame = {
    import spark.implicits._
    val root = Manifests.root(spark, table)
    lazy val snaps = {
      val s = Manifests.listSnapshots(root)
      require(s.nonEmpty,
        s"$table has no committed snapshots — metadata tables read the " +
          "manifest store; commit or snapshot the table first")
      s
    }
    rel match {
      case "snapshots" =>
        val byseq = Manifests.loadRefs(root).tags.groupBy(_._2)
        snaps.sortBy(-_.seq).map { s =>
          (new java.sql.Timestamp(s.createdMs), s.seq, s.parent, s.operation,
            s.files.size.toLong, s.recordCount, s.totalBytes,
            byseq.getOrElse(s.seq, Map.empty).keys.toSeq.sorted)
        }.toDF("committed_at", "snapshot_id", "parent_id", "operation",
          "file_count", "record_count", "total_bytes", "tags")
      case "history" =>
        val head = Manifests.loadRefs(root).head
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
        val refs = Manifests.loadRefs(root)
        require(refs.head >= 0,
          s"$table has no committed snapshots — commit or snapshot first")
        Manifests.loadSnapshot(root, refs.head).files
          .map(f => (f.path, "PARQUET", f.records, f.bytes))
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
          val mpath = root.resolve(
            Manifests.loadRefs(root).snapName(s.seq)).toString
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
        val refs = Manifests.loadRefs(root)
        require(refs.head >= 0,
          s"$table has no committed snapshots — commit or snapshot first")
        val segRx = "[^/]+=[^/]*".r
        Manifests.loadSnapshot(root, refs.head).files
          .groupBy(f => segRx.findAllIn(f.path).mkString("/"))
          .toSeq.sortBy(_._1)
          .map { case (part, fs) =>
            (part, fs.size.toLong, fs.map(_.records).sum, fs.map(_.bytes).sum)
          }
          .toDF("partition", "file_count", "record_count", "total_bytes")
    }
  }
}
