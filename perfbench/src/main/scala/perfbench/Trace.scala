package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans and counters of the traced run, kept in memory and written out
  * when the run ends. A span is (operation id, layer name, start, end) in
  * epoch nanoseconds; the layers nest by time, and perfbench/report.py
  * rebuilds the tree and the self times from that.
  *
  * Spans come from three sources: the client's own calls into each layer
  * ([[span]]), Catalyst's recorded planning phases, and Spark's job and
  * stage times as the [[Listener]] sees them. Spark and Catalyst stamp
  * milliseconds from the wall clock; [[now]] uses the same clock, at
  * nanosecond resolution, so all three line up. */
final class Trace(val enabled: Boolean) {
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + epochOffset

  val spans = new ArrayBuffer[(String, String, Long, Long)]
  /** Client-thread time spent in tracing work: the measure of its cost. */
  private var costNs = 0L
  def costS: Double = costNs / 1e9

  def reset(): Unit = { spans.clear(); costNs = 0L }

  def span[T](op: String, layer: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = now()
      try f finally spans += ((op, layer, t0, now()))
    }

  /** Run tracing work on the client thread, charging its time to the
    * tracing cost. */
  def overhead[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally costNs += System.nanoTime() - t0
  }

  /** Catalyst's planning phases of one query, as child spans. */
  def phases(op: String, qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    overhead {
      val names = Map("parsing" -> "catalyst.parse", "analysis" -> "catalyst.analyze",
        "optimization" -> "catalyst.optimize", "planning" -> "catalyst.physical")
      qe.tracker.phases.foreach { case (phase, s) =>
        names.get(phase).foreach { layer =>
          spans += ((op, layer, s.startTimeMs * 1000000L, s.endTimeMs * 1000000L))
        }
      }
    }
}

/** Spark job, stage and task accounting for the traced run. Jobs are
  * attributed to operations through the job group the client sets per
  * operation. */
final class Listener extends SparkListener {
  private val jobOp = new ConcurrentHashMap[Int, String]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val taskDur = new ConcurrentHashMap[(Int, Int), ArrayBuffer[Long]]
  private val spanBuf = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long, Long)]

  val jobs, stages, tasks, failedTasks = new AtomicInteger
  val runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    jobOp.put(e.jobId, op)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = jobStart.get(e.jobId)
    if (t0 != null)
      spanBuf.add((jobOp.getOrDefault(e.jobId, "-"), "spark.job", t0 * 1000000L, e.time * 1000000L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stages.incrementAndGet()
    val op = jobOp.getOrDefault(stageJob.getOrDefault(info.stageId, -1), "-")
    for (s <- info.submissionTime; c <- info.completionTime)
      spanBuf.add((op, "spark.stage", s * 1000000L, c * 1000000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) failedTasks.incrementAndGet()
    val durs = taskDur.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new ArrayBuffer[Long])
    durs.synchronized(durs += e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Mean over stages of two or more tasks of max / median task duration. */
  def taskSkew: Double = {
    val ratios = taskDur.values.asScala.toSeq.flatMap { d =>
      val s = d.synchronized(d.sorted)
      val med = s(s.size / 2)
      if (s.size >= 2 && med > 0) Some(s.last.toDouble / med) else None
    }
    if (ratios.isEmpty) 0.0 else ratios.sum / ratios.size
  }

  /** Hands the buffered job and stage spans to the trace. */
  def drainTo(t: Trace): Unit = {
    var s = spanBuf.poll()
    while (s != null) { t.spans += s; s = spanBuf.poll() }
  }
}

/** Micro-batch accounting of the streaming operators. */
final class StreamListener extends StreamingQueryListener {
  val batches, inputRows, commitMs, batchMs = new AtomicLong
  private val stateRows = new ConcurrentHashMap[java.util.UUID, java.lang.Long]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.incrementAndGet()
    inputRows.addAndGet(p.numInputRows)
    Option(p.durationMs.get("triggerExecution")).foreach(d => batchMs.addAndGet(d.longValue))
    commitMs.addAndGet(p.stateOperators.map(_.commitTimeMs).sum)
    // rows held in state after the query's latest batch
    stateRows.put(p.id, p.stateOperators.map(_.numRowsTotal).sum)
  }

  def stateRowsTotal: Long = stateRows.values.asScala.map(_.longValue).sum
}
