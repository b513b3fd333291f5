package graft.ext

import org.apache.spark.sql.DataFrame

/** Scale-adaptive map-side fan-out for CPU-DENSE per-row stages (r18
  * optimization round).
  *
  * The driver's test tables ship as ONE parquet file with ONE row group
  * per table, so a scan yields a single input partition no matter what
  * `spark.sql.files.maxPartitionBytes` says (splits below row-group
  * granularity produce empty tasks, not parallelism). A CPU-dense stage
  * fused onto such a scan — an n-gram explode hashing a million md5s, a
  * bigram LM build — runs on ONE core of the session's 32.
  *
  * `spread` redistributes rows across the session's default parallelism
  * IFF the plan's current parallelism is lower — the guide's §2.5 move
  * ("one huge unsplittable file: repartition immediately after the
  * read") made conditional so it is the IDENTITY at production scale: a
  * 100 TB table scans as thousands of splits, the condition never fires,
  * and no extra exchange appears. The cost when it fires is one exchange
  * of the spread rows.
  *
  * WHERE IT PAYS — only stages whose measured task time is multi-second:
  * spreading a memo-cheap encode (the tokenizer serve paths, ~0.5 s of
  * CPU) was measured to COST 6x the single task's CPU in fixed per-task
  * overhead for zero wall win, and is deliberately not done.
  */
object Fanout {

  /** Spread `df` across the session's default parallelism before a
    * CPU-dense per-row stage, iff its current plan parallelism is below
    * that. Row-content-deterministic: round-robin repartition sorts rows
    * within input partitions first (SPARK-23207), so the partitioning is
    * a pure function of the data — and every consumer downstream of it
    * in this engine aggregates with order-independent arithmetic
    * (integers, per-row-rounded DECIMAL sums).
    *
    * CONTRACT: `df` must be scan-shaped (no exchange between the scan
    * and this call — true of every call site). The parallelism probe
    * reads the LEAF scans' split counts from the un-adapted physical
    * plan, never `df.rdd`: under AQE, touching `.rdd` finalizes the
    * adaptive plan and eagerly executes any upstream shuffle stages —
    * a silent double execution (ADVICE r18). Leaf split planning is
    * driver-side only; no job runs. A leaf whose probe fails counts as
    * width 0: an unknown width must fail safe toward the spread,
    * never pass as "already wide" and leave the stage on one core. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val leafParts = df.queryExecution.sparkPlan.collectLeaves()
      .map(l => scala.util.Try(l.execute().getNumPartitions).getOrElse(0))
    val cur = if (leafParts.isEmpty) target else leafParts.max
    if (cur < target) df.repartition(target) else df
  }
}
