package graft.ext

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec

class FanoutSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("id", LongType)))

  test("a leaf whose partition probe fails is spread, never taken as already wide") {
    val failing = new RDD[Row](spark.sparkContext, Nil) {
      override def compute(split: Partition, ctx: TaskContext): Iterator[Row] =
        Iterator.empty
      override protected def getPartitions: Array[Partition] =
        throw new IllegalStateException("split planning failed")
    }
    val df = spark.createDataFrame(failing, schema)
    val spread = Fanout.spread(df)
    assert(spread.queryExecution.logical.collectFirst {
      case r: Repartition => r.numPartitions
    } === Some(spark.sparkContext.defaultParallelism))
  }

  test("a single-split leaf is spread; a leaf as wide as the session is left alone") {
    val target = spark.sparkContext.defaultParallelism
    val narrow = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L), Row(2L)), 1), schema)
    assert(Fanout.spread(narrow) ne narrow)
    val wide = spark.createDataFrame(
      spark.sparkContext.parallelize((1L to 100L).map(Row(_)), target), schema)
    assert(Fanout.spread(wide) eq wide)
  }
}
