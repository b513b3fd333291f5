package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintStream}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.GraftSession
import graft.engine.{Lakehouse, Manifests, StatementHttp, TrinoSql}
import graft.queries.Registry

/** Engine side of the benchmark: one JVM per run, driven by `run.py`.
  *
  * `serve` starts the Trino wire front ([[StatementHttp]]) over a fresh
  * warehouse and then answers control commands, one per stdin line:
  *
  *   - `mark` resets the heap-peak and GC baselines (start of a measured
  *     phase) and answers the JVM's CPU time; `cpu` answers it alone;
  *   - `direct <TAB> sql` times [[TrinoSql.toSpark]] and [[Lakehouse.sql]]
  *     on one statement text, in process (the dialect and router layers);
  *   - `snapshots <TAB> table` lists the table's commits through
  *     [[Manifests.listSnapshots]];
  *   - `stats` drains the listener bus and answers the recorded spans and
  *     JVM figures;
  *   - `quit` stops the server and the session.
  *
  * `ext` runs registry entries in process (no wire): one untimed pass
  * whose results land as parquet for the client's oracle check, then
  * timed passes into the noop sink.
  *
  * Every answer is one stdout line prefixed `@@ `; Spark logs go to
  * stderr. Spans are recorded only with tracing on, and kept in memory
  * until `stats` (or the end of an `ext` run) writes them out. */
object Launcher {

  private val mapper = new ObjectMapper()
  private val out: PrintStream = System.out

  private def reply(n: ObjectNode): Unit = out.synchronized {
    out.println("@@ " + mapper.writeValueAsString(n))
    out.flush()
  }

  private val SentinelGroup = "perfbench-sentinel"
  private val SentinelAlias = "perfbench_sentinel"

  private final case class Qe(func: String, start: Long, end: Long,
      analysisMs: Long, optimizationMs: Long, planningMs: Long)

  /** Job/stage/task figures from the scheduler and Catalyst phase times
    * from each query execution, with wall-clock bounds so the client can
    * attribute them to its own statement windows. */
  final class Recorder extends SparkListener with QueryExecutionListener {
    private final class Job(val id: Int, val start: Long, val group: String) {
      var end = -1L
      var stages = 0
      var tasks = 0L
      var cpuNs = 0L
      var shuffleWrite = 0L
      var spill = 0L
    }
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    private val stageJob = mutable.HashMap[Int, Int]()
    private val qes = mutable.ArrayBuffer[Qe]()
    @volatile private var sentinelJobs = 0
    @volatile private var sentinelQes = 0

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = new Job(e.jobId, e.time, group)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time
        if (j.group == SentinelGroup) sentinelJobs += 1
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
        j.stages += 1
        j.tasks += si.numTasks
        val m = si.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe)

    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe)

    private def record(func: String, qe: QueryExecution): Unit = {
      if (qe.logical.toString.contains(SentinelAlias)) { sentinelQes += 1; return }
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val starts = ph.values.map(_.startTimeMs)
      val ends = ph.values.map(_.endTimeMs)
      if (starts.nonEmpty) synchronized {
        qes += Qe(func, starts.min, ends.max, ms("analysis"), ms("optimization"),
          ms("planning"))
      }
    }

    /** Run a tagged job and wait until both listener paths have seen it:
      * every event posted before it has then been delivered. */
    def drain(spark: SparkSession): Unit = {
      val (j0, q0) = (sentinelJobs, sentinelQes)
      spark.sparkContext.setJobGroup(SentinelGroup, "drain", false)
      try spark.range(1).alias(SentinelAlias).collect()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while ((sentinelJobs == j0 || sentinelQes == q0) &&
          System.currentTimeMillis() < deadline) Thread.sleep(2)
    }

    def dump(into: ObjectNode): Unit = synchronized {
      val js = into.putArray("jobs")
      jobs.values.filter(_.group != SentinelGroup).foreach { j =>
        js.addArray().add(j.id).add(j.start).add(j.end).add(j.group)
          .add(j.stages).add(j.tasks).add(j.cpuNs).add(j.shuffleWrite).add(j.spill)
      }
      val qs = into.putArray("qes")
      qes.foreach { q =>
        qs.addArray().add(q.func).add(q.start).add(q.end).add(q.analysisMs)
          .add(q.optimizationMs).add(q.planningMs)
      }
    }
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  /** CPU time of this JVM, all threads (JIT and GC included). */
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private final class JvmMarks {
    private var gc0 = gcMs
    def mark(): Unit = { heapPools.foreach(_.resetPeakUsage()); gc0 = gcMs }
    def put(n: ObjectNode): Unit = {
      n.put("gc_ms", gcMs - gc0)
      n.put("heap_used_peak_mb", heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    }
  }

  private def session(warehouse: String, cores: Int): SparkSession = {
    val s = GraftSession.builder("perfbench", s"local[$cores]", cores.toString)
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", Paths.get(warehouse).getParent.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the bounded-table windows warn once per task; graft.Bench silences
    // the same logger, since writing the flood costs measurable time
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }

  private def attach(spark: SparkSession, trace: Boolean): Option[Recorder] =
    if (!trace) None
    else {
      val r = new Recorder
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
      Some(r)
    }

  def main(args: Array[String]): Unit = args.toList match {
    case "serve" :: warehouse :: cores :: trace :: Nil =>
      serve(warehouse, cores.toInt, trace == "1")
    case "ext" :: warehouse :: cores :: trace :: dataDir :: outDir :: timed ::
        names :: Nil =>
      ext(warehouse, cores.toInt, trace == "1", dataDir, outDir, timed.toInt,
        names.split(',').toSeq)
    case _ =>
      System.err.println("usage: Launcher serve <warehouse> <cores> <trace> | " +
        "ext <warehouse> <cores> <trace> <dataDir> <outDir> <timed> <names>")
      sys.exit(2)
  }

  private def serve(warehouse: String, cores: Int, trace: Boolean): Unit = {
    val spark = session(warehouse, cores)
    val rec = attach(spark, trace)
    val jvm = new JvmMarks
    val server = StatementHttp.start(spark)
    try {
      reply(mapper.createObjectNode().put("port", server.port))
      val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
      var line = in.readLine()
      while (line != null && line != "quit") {
        val n = mapper.createObjectNode()
        line.split("\t", 2).toList match {
          case "mark" :: Nil =>
            jvm.mark()
            n.put("cpu_ns", cpuNs)
          case "cpu" :: Nil => n.put("cpu_ns", cpuNs)
          case "direct" :: sql :: Nil => direct(spark, sql, n)
          case "snapshots" :: table :: Nil =>
            val snaps = Manifests.listSnapshots(Manifests.root(spark, table))
            n.put("count", snaps.size)
            n.put("head_files", snaps.lastOption.map(_.files.size).getOrElse(0))
          case "stats" :: Nil =>
            rec.foreach { r => r.drain(spark); r.dump(n) }
            jvm.put(n)
          case _ => n.put("error", s"unknown command: $line")
        }
        reply(n)
        line = in.readLine()
      }
    } finally {
      server.stop()
      spark.stop()
    }
  }

  /** The dialect and router layers timed on one statement text, in
    * process. Write statements execute here exactly as they would over
    * the wire, so the client applies them to its model as usual. */
  private def direct(spark: SparkSession, sql: String, n: ObjectNode): Unit = {
    val reps = 25
    val us = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      TrinoSql.toSpark(sql)
      (System.nanoTime() - t0) / 1000.0
    }.sorted
    val mapped = TrinoSql.toSpark(sql)
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val df = Lakehouse.sql(spark, mapped)
    val t1 = System.nanoTime()
    df.collect()
    val t2 = System.nanoTime()
    n.put("to_spark_us", us(reps / 2))
    n.put("sql_ms", (t1 - t0) / 1e6)
    n.put("collect_ms", (t2 - t1) / 1e6)
    n.put("start", start)
    n.put("end", System.currentTimeMillis())
  }

  private def ext(warehouse: String, cores: Int, trace: Boolean, dataDir: String,
      outDir: String, timed: Int, names: Seq[String]): Unit = {
    val spark = session(warehouse, cores)
    try {
      val rec = attach(spark, trace)
      val jvm = new JvmMarks
      val qs = names.map(Registry.byName)
      val oracles = mapper.createObjectNode()
      qs.foreach(q => q.oracle.foreach(o => oracles.put(q.name, o)))
      Files.write(Paths.get(outDir, "oracles.json"),
        mapper.writeValueAsBytes(oracles))
      qs.foreach(q => q.setup.foreach(_(spark, dataDir)))
      // the checked pass: results land for the client's oracle comparison
      qs.foreach(q => q.run(spark, dataDir).write.mode("overwrite")
        .parquet(Paths.get(outDir, q.name).toString))
      def noop(q: graft.queries.GQuery): Unit =
        q.run(spark, dataDir).write.format("noop").mode("overwrite").save()
      jvm.mark()
      val n = mapper.createObjectNode()
      n.put("timed_start", System.currentTimeMillis())
      val cpu0 = cpuNs
      val ops = n.putArray("ops")
      (1 to timed).foreach { _ =>
        qs.foreach { q =>
          spark.sparkContext.setJobGroup(q.name, q.name, false)
          val t0 = System.nanoTime()
          try noop(q) finally spark.sparkContext.clearJobGroup()
          ops.addArray().add(q.name).add((System.nanoTime() - t0) / 1e6)
        }
      }
      n.put("timed_end", System.currentTimeMillis())
      n.put("cpu_ns", cpuNs - cpu0)
      rec.foreach { r => r.drain(spark); r.dump(n) }
      jvm.put(n)
      reply(n)
      // stay up until told, so the client can read this JVM's peak RSS
      val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
      while (Option(in.readLine()).exists(_ != "quit")) {}
    } finally spark.stop()
  }
}
