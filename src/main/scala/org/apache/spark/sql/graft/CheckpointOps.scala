package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** Checkpointing that KEEPS a hash partitioning visible to the planner
  * (r19 optimization round).
  *
  * `Dataset.localCheckpoint` in Spark 4.x re-wraps the checkpointed RDD
  * in a [[LogicalRDD]] with `UnknownPartitioning` (probed empirically —
  * `graft.tools.PartProbe`; AQE's coalesced shuffle read loses the hash
  * partitioning before the checkpoint captures it). Consequence: an
  * iterative operator that stores its working set partitioned by the
  * iteration key still pays a full exchange EVERY round, because the
  * planner cannot see that the stored blocks already satisfy the
  * aggregation's clustered distribution.
  *
  * [[repartitionCheckpoint]] hash-partitions `df` by `keys` into exactly
  * `spark.sql.shuffle.partitions` buckets, checkpoints the blocks, and
  * re-wraps the checkpointed RDD in a LogicalRDD that asserts
  * `HashPartitioning(keys, N)`. The width is explicit because the
  * assertion promises more than "all rows of one key live in one
  * partition": it promises key k lives in partition `hash(k) mod N`, and
  * the planner co-partitions a join's other side on exactly that. An
  * AQE-coalesced read (what a width-less repartition gets) merges
  * adjacent buckets and breaks the mod-N layout, so a sort-merge join
  * against an independently exchanged side would miss matches. The
  * repartition happens INSIDE the helper so the invariant cannot be
  * broken by a caller passing differently-partitioned data. */
object CheckpointOps {

  /** `df.repartition(keys).localCheckpoint()` with the hash partitioning
    * preserved in the checkpoint's plan node, so downstream aggregations
    * and joins clustered on (a superset of) `keys` need no new Exchange. */
  def repartitionCheckpoint(df: DataFrame, keys: String*): DataFrame = {
    require(keys.nonEmpty, "need at least one partitioning key")
    val width = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ck = df.repartition(width, keys.map(col): _*).localCheckpoint()
    val cds = ck.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    val session: ClassicSession = cds.sparkSession
    val attrs = cds.queryExecution.analyzed.output
    val partCols = keys.map(k => attrs.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(
        s"repartitionCheckpoint: no column '$k' in ${attrs.map(_.name)}")))
    val rdd = cds.queryExecution.toRdd
    require(rdd.getNumPartitions == width,
      s"repartitionCheckpoint: ${rdd.getNumPartitions} stored partitions, expected $width")
    val plan = new LogicalRDD(attrs, rdd, HashPartitioning(partCols, width),
      Nil, false, None)(session, None, None)
    Dataset.ofRows(session, plan)
  }
}
