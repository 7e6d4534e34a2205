package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.{IntraQueryCache, SparkEntry}

/** The dashboard_read workload: a closed loop with one client.
  *
  * Setup: one warm-up execution of every query on the empty artifact root,
  * so each query builds the artifacts it reads, with the output written to
  * `work/results/<query>` for the orchestrator's oracle check. Measured:
  * rounds of all queries in a seeded order until `seconds` have passed and
  * at least `rounds` (default 3) have run, so each query has several
  * samples. Traced runs then time the `SparkEntry.prepareTimed` steps these
  * queries read, on a second empty artifact root in a fresh session.
  */
final case class QueryRun(spark: SparkSession, probe: Probe, a: Map[String, String],
    obs: mutable.Map[String, Any]) {

  private val names = Engine.dashboard

  private val dir = a("data")
  private val work = a("work")
  // the single-core scaling run warms up without writing results
  private val writeResults = a.getOrElse("check", "1") == "1"
  private val artifactRoot = s"${sys.props("java.io.tmpdir")}/graft-index"

  def run(): Unit = {
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
    val warmupErrors = mutable.LinkedHashMap[String, String]()
    val warmupMs = mutable.LinkedHashMap[String, Double]()
    for (n <- names) {
      val t0 = System.nanoTime()
      try {
        val df = fns(n)(spark, dir)
        if (writeResults) df.coalesce(1).write.mode("overwrite").parquet(s"$work/results/$n")
        else df.foreach(_ => ())
      }
      catch { case NonFatal(e) => warmupErrors(n) = e.toString.take(500) }
      warmupMs(n) = (System.nanoTime() - t0) / 1e6
      IntraQueryCache.releaseBoundary()
    }
    obs("warmup_errors") = warmupErrors
    obs("warmup_ms") = warmupMs
    obs("oracle_sql") = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    obs("setup_s") = Engine.sinceStartS()

    val rnd = new scala.util.Random(a("seed").toLong)
    val execs = mutable.ArrayBuffer[Exec]()
    var storagePeak = Engine.storageUsedMb(spark)
    val gc0 = Engine.gcMs()
    Engine.resetHeapPeaks()
    probe.windowStartMs = System.currentTimeMillis()
    val start = System.nanoTime()
    def elapsedS = (System.nanoTime() - start) / 1e9
    val seconds = a("seconds").toDouble
    val minRounds = a.getOrElse("rounds", "3").toInt
    var round = 0
    while (round < minRounds || elapsedS < seconds) {
      for (n <- rnd.shuffle(names)) {
        val marker = if (Engine.routeEligible(n)) Some(artifactRoot) else None
        execs += Exec.timed(probe, n, round, "query", () => fns(n)(spark, dir), marker)
        storagePeak = storagePeak max Engine.storageUsedMb(spark)
      }
      round += 1
    }
    probe.windowEndMs = System.currentTimeMillis()
    obs("measured_s") = elapsedS
    probe.settle()
    obs("rounds") = round
    obs("executions") = execs.toSeq.map(_.counted(probe))
    obs("spark") = Engine.sparkTotals(probe)
    obs("jvm_gc_s") = (Engine.gcMs() - gc0) / 1000.0
    obs("heap_used_peak_mb") = Engine.heapPeakMb()
    obs("cache_storage_mb_peak") = storagePeak
    obs("peak_rss_mb") = Engine.vmHwmMb()
    if (a("trace") == "1") {
      // the build cost of each artifact these queries read, on a second
      // empty artifact root, in a session that has registered no views
      sys.props("java.io.tmpdir") = s"$work/tmp-prepare"
      val fresh = spark.newSession()
      obs("prepare_ms") = QueryRun.prepareSteps.map { case (step, build) =>
        val t0 = System.nanoTime()
        build(fresh, dir)
        step -> (System.nanoTime() - t0) / 1e6
      }.toMap
    }
  }
}

object QueryRun {
  /** The `SparkEntry.prepareTimed` steps that build what the dashboard
    * queries read.
    */
  val prepareSteps: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "tag_index" -> ((s, d) => graft.operators.TagIndex.ensure(s, d)),
    "kmv_route" -> ((s, d) => graft.plans.KmvRoute.ensureArtifacts(s, d)),
    "quantile_route" -> ((s, d) => graft.plans.QuantileRoute.ensureArtifacts(s, d)),
    "sql_views" -> ((s, d) => graft.SqlFrontDoor.registerViews(s, d)))
}
