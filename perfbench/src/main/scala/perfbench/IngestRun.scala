package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.DecimalType
import graft.plans.LtsRoute
import graft.sources.{HttpIngest, Wire}
import graft.streaming.Ingest

/** The ingest_push workload's engine: `HttpIngest` spools POSTed Batch
  * envelopes, `Wire` parses the spool for three streams (raw_metrics,
  * raw_logs and the lts_rollup), and one reader thread polls a minute-bucket
  * query over raw_metrics that `LtsRoute` serves from the rollup.
  *
  * Control files in `ctl`: the engine writes `ready.json` (port, setup)
  * once every stream has finished its first trigger; the orchestrator
  * writes `expected.json` (the metric rows it saw accepted) when its load
  * generator has finished. The engine then polls until that many rows are
  * visible, drains and stops the streams and checks the rollup.
  */
final case class IngestRun(spark: SparkSession, probe: Probe, a: Map[String, String],
    obs: mutable.Map[String, Any]) {

  private val work = a("work")
  private val ctl = a("ctl")
  private val spool = s"$work/spool"
  private val rawMetrics = s"$work/raw_metrics"
  private val rawLogs = s"$work/raw_logs"
  private val lts = s"$work/lts_rollup"

  // (host, bucket ms) -> last count seen, and each change with its poll end
  private val lastCount = mutable.HashMap[(String, Long), Long]()
  private val transitions = mutable.ArrayBuffer[(String, Long, Long, Double)]()
  private val polls = mutable.ArrayBuffer[Exec]()
  @volatile private var stopPolling = false
  @volatile private var visibleRows = 0L
  @volatile private var measuring = true

  def run(): Unit = {
    val streamProbe = new StreamProbe
    spark.streams.addListener(streamProbe)
    val server = HttpIngest.start(spool)
    val url = s"http://127.0.0.1:${server.port}/v1/submit-batch"
    val warm = warmupEnvelope()
    require(HttpIngest.post(url, warm._1) == 204, "warm-up envelope was not accepted")
    val lines = spark.readStream.text(spool)
    val streams: Seq[(String, StreamingQuery)] = Seq(
      "raw_metrics" -> Ingest.streamToTable(Wire.metrics(lines), rawMetrics,
        s"$work/ck/raw_metrics", Seq("name", "host")),
      "raw_logs" -> Ingest.streamToTable(Wire.logs(lines), rawLogs,
        s"$work/ck/raw_logs", Seq("service", "host")),
      "lts_rollup" -> Ingest.streamLtsRollupTo(Wire.metrics(lines), lts,
        s"$work/ck/lts_rollup", Seq("host", "name")))
    try {
      awaitFirstTriggers(streamProbe, streams)
      LtsRoute.register(spark, rawMetrics, lts)
      LtsRoute.enable(spark)
      obs("setup_s") = Engine.sinceStartS()
      obs("warmup") = Map("time" -> warm._2, "metrics" -> warm._3, "logs" -> warm._4)
      val gc0 = Engine.gcMs()
      Engine.resetHeapPeaks()
      probe.windowStartMs = System.currentTimeMillis()
      val t0 = Probe.nowMs()
      // published by rename: the orchestrator polls for the file
      Json.write(s"$ctl/ready.tmp", Map("port" -> server.port))
      Files.move(Paths.get(s"$ctl/ready.tmp"), Paths.get(s"$ctl/ready.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val poller = new Thread(() => pollLoop(), "routed-poller")
      poller.start()

      val expected = awaitExpected() + warm._3
      measuring = false
      probe.windowEndMs = System.currentTimeMillis()
      val t1 = Probe.nowMs()
      obs("measured_s") = (t1 - t0) / 1000.0
      obs("jvm_gc_s") = (Engine.gcMs() - gc0) / 1000.0
      obs("heap_used_peak_mb") = Engine.heapPeakMb()
      // keep polling until the rollup shows every accepted row (drain)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (visibleRows < expected && System.nanoTime() < deadline) Thread.sleep(20)
      stopPolling = true
      poller.join()
      obs("drained") = visibleRows >= expected
      streams.foreach(_._2.processAllAvailable())
      obs("peak_rss_mb") = Engine.vmHwmMb()
      obs("window_ms") = Seq(t0, t1)
      obs("streams") = streams.map { case (name, q) =>
        name -> streamProbe.progress.getOrElse(q.runId, mutable.ArrayBuffer.empty).toSeq
      }.toMap
      streams.foreach(_._2.stop())
      streams.foreach { case (_, q) => q.exception.foreach(e => throw e) }
    } finally {
      streams.foreach(s => try s._2.stop() catch { case NonFatal(_) => () })
      server.stop()
    }
    probe.settle()
    obs("spark") = Engine.sparkTotals(probe)
    obs("polls") = polls.toSeq.map(_.counted(probe))
    obs("transitions") = transitions.toSeq.map { case (h, b, n, t) => Seq(h, b, n, t) }
    checkRollup()
    obs("tables") = Map("raw_metrics" -> tableStats(rawMetrics),
      "raw_logs" -> tableStats(rawLogs))
    obs("spool") = {
      val fs = Option(new File(spool).listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith("batch-"))
      Map("files" -> fs.length, "bytes" -> fs.map(_.length).sum)
    }
    if (a("trace") == "1") parseSpool()
  }

  /** One host's envelope posted before the streams start, so each first
    * trigger has rows and creates its table: (body, stamp, metrics, logs).
    */
  private def warmupEnvelope(): (String, String, Int, Int) = {
    val t = java.time.Instant.now().truncatedTo(java.time.temporal.ChronoUnit.MICROS).toString
    val ms = (0 until 4).map(i =>
      s"""{"t":"$t","m":"gauge","h":"warmup","n":"warm.m$i","v":$i.5,"g":{}}""")
    val ls = (0 until 2).map(i =>
      s"""{"t":"$t","h":"warmup","s":"warm","l":"info","d":"warm-up $i","g":{}}""")
    (s"""{"m":[${ms.mkString(",")}],"l":[${ls.mkString(",")}]}""", t, ms.size, ls.size)
  }

  private def awaitFirstTriggers(sp: StreamProbe, streams: Seq[(String, StreamingQuery)]): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    def done = streams.forall { case (_, q) =>
      sp.progress.get(q.runId).exists(_.exists(_.inputRows > 0))
    }
    while (!done) {
      streams.foreach { case (n, q) =>
        q.exception.foreach(e => throw new IllegalStateException(s"stream $n failed", e))
      }
      require(System.nanoTime() < deadline, "streams did not finish their first trigger")
      Thread.sleep(10)
    }
  }

  private def awaitExpected(): Long = {
    val f = Paths.get(s"$ctl/expected.json")
    val deadline = System.nanoTime() + 170L * 1000000000L
    while (!Files.exists(f)) {
      require(System.nanoTime() < deadline, "no expected.json from the orchestrator")
      Thread.sleep(20)
    }
    Thread.sleep(20)
    "\"metric_rows\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(Files.readString(f))
      .map(_.group(1).toLong).getOrElse(sys.error("malformed expected.json"))
  }

  /** The routed dashboard query the poller runs. */
  private def routedQuery() =
    spark.read.parquet(rawMetrics)
      .groupBy(date_trunc("minute", col("time")).as("bucket"), col("host"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).as("sum_value"),
        count(lit(1)).as("n"))

  private def pollLoop(): Unit = {
    var i = 0
    while (!stopPolling) {
      val due = System.nanoTime() + IngestRun.pollPeriodNs
      var rows: Array[org.apache.spark.sql.Row] = Array.empty
      // the poll's answer is read on the driver, as a dashboard reads it
      val e = Exec.timed(probe, "routed_poll", i, "plans", () => routedQuery(),
        Some(lts), df => rows = df.collect())
      val end = Probe.nowMs()
      if (measuring) polls += e
      if (e.error.isEmpty) {
        var total = 0L
        rows.foreach { r =>
          val key = (r.getString(1), r.getTimestamp(0).getTime)
          val n = r.getLong(3)
          total += n
          if (!lastCount.get(key).contains(n)) {
            lastCount(key) = n
            transitions += ((key._1, key._2, n, end))
          }
        }
        visibleRows = total
      }
      i += 1
      val wait = (due - System.nanoTime()) / 1000000L
      if (wait > 0 && !stopPolling) Thread.sleep(wait)
    }
  }

  /** The stored rollup must equal `Ingest.ltsRollup` recomputed from the
    * raw table. The route is dropped first, or the recompute would itself
    * be served from the rollup.
    */
  private def checkRollup(): Unit = {
    LtsRoute.deregister(spark, rawMetrics)
    val want = Ingest.ltsRollup(spark.read.parquet(rawMetrics), Seq("host", "name"))
    val got = spark.read.parquet(lts).select("bucket", "host", "name", "sum_value", "n")
    obs("rollup_rows") = got.count()
    obs("rollup_mismatch") = want.exceptAll(got).count() + got.exceptAll(want).count()
  }

  private def tableStats(path: String): Map[String, Any] = {
    val files = Files.walk(Paths.get(path)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(_.toFile).toSeq
    Map("files" -> files.size, "bytes" -> files.map(_.length).sum,
      "rows" -> spark.read.parquet(path).count())
  }

  /** Traced runs only: `Wire.metrics` and `Wire.logs` forced over the
    * whole spool as one batch frame.
    */
  private def parseSpool(): Unit = {
    val lines = spark.read.text(spool)
    val t0 = System.nanoTime()
    val m = Wire.metrics(lines).count()
    val l = Wire.logs(lines).count()
    obs("wire") = Map("rows" -> (m + l), "seconds" -> (System.nanoTime() - t0) / 1e9)
  }
}

object IngestRun {
  /** Polls start at most once a second, as a refreshing dashboard's do. */
  val pollPeriodNs: Long = 1000000000L
}
