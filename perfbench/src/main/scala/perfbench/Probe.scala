package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. `parent` links a child span (a plan phase, a
  * trigger part, a Spark job) to the span it ran inside; `layer` is the
  * engine module the time is charged to.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startMs: Double, endMs: Double)

/** Everything the benchmark learns from inside the engine process, read
  * only through Spark's public listener APIs.
  *
  * Each execution tags its thread with two local properties: the
  * operation id and its phase (build, plan, exec). Jobs inherit the
  * properties, so the listener can count jobs, stages and tasks per
  * operation and tell jobs started while a DataFrame was being built.
  */
final class Probe(sc: SparkContext, traced: Boolean) extends SparkListener {
  import Probe._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  def newId(): Long = nextId.getAndIncrement()
  def span(s: Span): Unit = if (traced) spans.add(s)
  def allSpans: Seq[Span] = spans.asScala.toSeq

  // operation id -> [jobs, eager jobs, stages, tasks]
  private val perOp = TrieMap.empty[String, Array[Long]]
  private val jobOp = TrieMap.empty[Int, (String, Long, Double)]

  // task totals over the measured window: tasks that finished inside it
  @volatile var windowStartMs = Long.MaxValue
  @volatile var windowEndMs = Long.MaxValue
  private val totals = new Array[Long](Totals)
  @volatile var peakExecMem = 0L
  private val events = new java.util.concurrent.atomic.AtomicLong()

  /** Wait until the asynchronous listener bus has delivered what is
    * pending: no new event for 200 ms, or 10 s at most.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var seen = -1L
    while (seen != events.get() && System.nanoTime() < deadline) {
      seen = events.get()
      Thread.sleep(200)
    }
  }

  def opCounts(op: String): Array[Long] =
    perOp.getOrElse(op, Array(0L, 0L, 0L, 0L)).clone()

  def total(k: Int): Long = totals.synchronized(totals(k))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty(OpKey))).getOrElse("")
    val spanId = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
    val phase = p.flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("")
    jobOp.put(e.jobId, (op, spanId, nowMs()))
    if (op.nonEmpty) {
      val c = perOp.getOrElseUpdate(op, Array(0L, 0L, 0L, 0L))
      c.synchronized {
        c(0) += 1
        if (phase == "build") c(1) += 1
        c(2) += e.stageInfos.size
        c(3) += e.stageInfos.map(_.numTasks.toLong).sum
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    jobOp.remove(e.jobId).foreach { case (op, parent, start) =>
      if (op.nonEmpty && parent != 0L)
        span(Span(newId(), parent, s"job-${e.jobId}", "operators", start, nowMs()))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    val finished = e.taskInfo.finishTime
    if (m == null || finished < windowStartMs || finished > windowEndMs) return
    totals.synchronized {
      totals(RunNs) += m.executorRunTime * 1000000L
      totals(CpuNs) += m.executorCpuTime
      totals(GcNs) += m.jvmGCTime * 1000000L
      totals(ShuffleRead) += m.shuffleReadMetrics.totalBytesRead
      totals(ShuffleWrite) += m.shuffleWriteMetrics.bytesWritten
      totals(Spill) += m.memoryBytesSpilled + m.diskBytesSpilled
      totals(Tasks) += 1
    }
    if (m.peakExecutionMemory > peakExecMem) peakExecMem = m.peakExecutionMemory
  }

  /** Run `f` with this thread's jobs attributed to `op` in `phase`. */
  def tagged[T](op: String, phase: String, spanId: Long)(f: => T): T = {
    sc.setLocalProperty(OpKey, op)
    sc.setLocalProperty(PhaseKey, phase)
    sc.setLocalProperty(SpanKey, spanId.toString)
    try f finally {
      sc.setLocalProperty(OpKey, null)
      sc.setLocalProperty(PhaseKey, null)
      sc.setLocalProperty(SpanKey, null)
    }
  }
}

object Probe {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  val SpanKey = "perfbench.span"
  val RunNs = 0; val CpuNs = 1; val GcNs = 2; val ShuffleRead = 3
  val ShuffleWrite = 4; val Spill = 5; val Tasks = 6; val Totals = 7

  // epoch milliseconds with nanoTime resolution: comparable with the
  // wall-clock stamps the load generator process writes
  private val epochBaseNs = System.currentTimeMillis() * 1000000.0 - System.nanoTime()
  def nowMs(): Double = (System.nanoTime() + epochBaseNs) / 1e6
}

/** Stream progress, keyed by the stream's run id. */
final class StreamProbe extends StreamingQueryListener {
  val progress = TrieMap.empty[java.util.UUID, mutable.ArrayBuffer[StreamingQueryProgressLite]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + d.getOrElse("triggerExecution", 0L)
    val lite = StreamingQueryProgressLite(p.batchId, end, d, p.numInputRows,
      p.processedRowsPerSecond,
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum)
    val buf = progress.getOrElseUpdate(p.runId, mutable.ArrayBuffer.empty)
    buf.synchronized(buf += lite)
  }
}

final case class StreamingQueryProgressLite(batchId: Long, endMs: Double,
    durationMs: Map[String, Long], inputRows: Long, processedRowsPerSec: Double,
    stateRows: Long, stateMemBytes: Long)
