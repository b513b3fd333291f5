package graft.ext

import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graft.{CheckpointOps, Scoped}

import graft.SparkSpec

class CheckpointOpsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("a checkpoint's asserted hash layout holds in a sort-merge join against an independently exchanged side") {
    // AQE on, broadcast off, and coalescing free to merge the checkpoint's
    // buckets into fewer, larger partitions
    Scoped.run(spark, Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32k"), None) { s =>
      val ck = CheckpointOps.repartitionCheckpoint(
        s.range(0, 20000).select((col("id") % 2000).as("k"), col("id").as("v")), "k")
      val other = s.range(0, 2000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = ck.join(other, "k")
      val row = joined.agg(sum(col("v")), sum(col("w"))).head()
      assert(row.getLong(0) === (0L until 20000L).sum)
      assert(row.getLong(1) === (0L until 20000L).map(i => (i % 2000) * 2).sum)
      // the checkpoint side was read in place: the only exchanges are the
      // other side's and the final aggregate's
      val exchanges = collect(joined.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.size === 1)
      assert(exchanges.head.outputPartitioning.numPartitions === 32)
    }
  }
}
