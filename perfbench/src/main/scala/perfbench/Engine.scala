package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine side of one benchmark run: a fresh SparkSession on
  * `local[cores]` that drives one workload through the engine's public
  * functions and writes what it observed to `out` as JSON. The
  * orchestrator (`run.py`) turns those observations into metrics.
  *
  * Arguments are `key=value` pairs: workload, data, work, out, cores,
  * seconds, seed, trace (0/1), and for ingest_push ctl (the directory the
  * orchestrator and the engine exchange control files through).
  */
object Engine {
  val dashboard: Seq[String] = Seq(
    "q_scan_filter", "q_bucket_avg", "q_bucket_sum", "q_tag_filter", "q_downsample_lts",
    "q_topk", "q_rate", "q_session", "q_distinct_daily", "q_distinct_approx",
    "q_percentiles_approx", "q_log_level_hist", "q_rollup", "q_pivot_daily",
    "q_sql_bucket_avg", "q_sql_downsample", "q_sql_rate", "q_sql_tag_filter",
    "q_sql_distinct_approx", "q_sql_percentiles_approx")

  /** Dashboard queries the Kmv and Quantile routes should serve from a
    * prepared artifact rather than from the raw events scan.
    */
  val routeEligible: Set[String] = Set("q_distinct_approx", "q_sql_distinct_approx",
    "q_percentiles_approx", "q_sql_percentiles_approx")

  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val workload = a("workload")
    val cores = a("cores").toInt
    val work = a("work")
    val obs = mutable.LinkedHashMap[String, Any]()
    val spark = session(cores, work)
    obs("session_s") = sinceStartS()
    val probe = new Probe(spark.sparkContext, a("trace") == "1")
    spark.sparkContext.addSparkListener(probe)
    obs("jvm_flags") = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    var failed = false
    try {
      workload match {
        case "ingest_push" => IngestRun(spark, probe, a, obs).run()
        case "dashboard_read" => QueryRun(spark, probe, a, obs).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case NonFatal(e) =>
        failed = true
        obs("fatal") = e.toString
        e.printStackTrace()
    } finally {
      probe.settle()
      obs("spans") = probe.allSpans
      Json.write(a("out"), obs)
      try spark.stop() catch { case NonFatal(_) => () }
    }
    System.exit(if (failed) 1 else 0)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the FileContext checkpoint manager shells out for renames; the
      // FileSystem-based one stays in-process
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Seconds since the JVM started: the process-start end of `setup_s`. */
  def sinceStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def storageUsedMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0

  /** Task-level totals over the measured window. */
  def sparkTotals(probe: Probe): Map[String, Double] = {
    import Probe._
    Map(
      "task_run_s" -> probe.total(RunNs) / 1e9,
      "task_cpu_s" -> probe.total(CpuNs) / 1e9,
      "gc_s" -> probe.total(GcNs) / 1e9,
      "shuffle_read_mb" -> probe.total(ShuffleRead) / 1048576.0,
      "shuffle_write_mb" -> probe.total(ShuffleWrite) / 1048576.0,
      "spill_mb" -> probe.total(Spill) / 1048576.0,
      "tasks" -> probe.total(Tasks).toDouble,
      "peak_exec_mem_mb" -> probe.peakExecMem / 1048576.0)
  }

  /** Leaf file paths the optimized plan reads. */
  def leafPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectLeaves().flatMap {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      case _ => Nil
    }
}

/** One timed execution: build the DataFrame, plan it, then force it. The
  * default force consumes every output row on the executors (no driver
  * collect, no count-only pruning); the routed poll collects its answer.
  */
final case class Exec(query: String, op: String, round: Int, startMs: Double,
    buildMs: Double, planMs: Double, execMs: Double, routed: Option[Boolean],
    error: Option[String], jobs: Long = 0, eagerJobs: Long = 0, stages: Long = 0,
    tasks: Long = 0) {
  /** This execution with its job, stage and task counts, once the
    * listener has seen its jobs ([[Probe.settle]]).
    */
  def counted(probe: Probe): Exec = {
    val c = probe.opCounts(op)
    copy(jobs = c(0), eagerJobs = c(1), stages = c(2), tasks = c(3))
  }
}

object Exec {
  /** Time `build` through the three phases, tracing each as a child span
    * of the execution. Exceptions are returned as a failed execution and
    * never as a timing.
    */
  def timed(probe: Probe, query: String, round: Int, layer: String,
      build: () => DataFrame, routedMarker: Option[String],
      force: DataFrame => Unit = _.foreach(_ => ())): Exec = {
    val op = s"$query#$round#${probe.newId()}"
    val Seq(sid, b, p, x) = Seq.fill(4)(probe.newId())
    val t0 = Probe.nowMs()
    var df: DataFrame = null
    var t1, t2, t3 = t0
    try {
      df = probe.tagged(op, "build", b)(build())
      t1 = Probe.nowMs()
      probe.tagged(op, "plan", p)(df.queryExecution.executedPlan)
      t2 = Probe.nowMs()
      probe.tagged(op, "exec", x)(force(df))
      t3 = Probe.nowMs()
    } catch {
      case NonFatal(e) =>
        return Exec(query, op, round, t0, 0, 0, 0, None, Some(e.toString.take(500)))
    }
    probe.span(Span(sid, 0, query, layer, t0, t3))
    probe.span(Span(b, sid, "build", "query", t0, t1))
    probe.span(Span(p, sid, "plan", "plans", t1, t2))
    probe.span(Span(x, sid, "exec", "query", t2, t3))
    val routed = routedMarker.map(m => Engine.leafPaths(df).exists(_.contains(m)))
    Exec(query, op, round, t0, t1 - t0, t2 - t1, t3 - t2, routed, None)
  }
}
