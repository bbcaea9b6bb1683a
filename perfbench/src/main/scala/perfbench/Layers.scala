package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters and spans from Spark's public listener interfaces.
  *
  * The benchmark tags every job it wants counted with the local property
  * [[Layers.PhaseKey]] = "timed" and [[Layers.TraceKey]] = the query or
  * stream's trace id; Spark copies local properties onto each job, and a
  * streaming query's thread inherits them from the thread that starts it.
  * Untagged jobs (set-up, warm-up, the output check) are ignored.
  */
final class Layers(tracer: Tracer) extends SparkListener
  with QueryExecutionListener {

  private final class StageAcc(val trace: String, val jobSpan: Long) {
    val runMs = mutable.ArrayBuffer.empty[Long]
  }
  private val jobTrace = new ConcurrentHashMap[Int, (String, Long, Double)]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()
  private val totals = new ConcurrentHashMap[String, Double]()
  // run-time-weighted max/median task time, summed over multi-task stages
  @volatile private var skewWeighted = 0.0
  @volatile private var skewWeight = 0.0
  @volatile private var window: (Double, Double) = (Double.MaxValue, Double.MaxValue)

  private def add(k: String, v: Double): Unit = totals.merge(k, v, _ + _)

  /** Counts only phase-tagged work; plan phases are attributed by time. */
  def openWindow(from: Double): Unit = window = (from, Double.MaxValue)
  def closeWindow(to: Double): Unit = window = (window._1, to)

  def total(k: String): Double = totals.getOrDefault(k, 0.0)
  def taskSkew: Double = if (skewWeight > 0) skewWeighted / skewWeight else 1.0

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.exists(p => p.getProperty(Layers.PhaseKey) == "timed")) {
      val trace = props.map(_.getProperty(Layers.TraceKey, "")).getOrElse("") +
        props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .map("/" + _).getOrElse("")
      val id = tracer.nextId()
      jobTrace.put(e.jobId, (trace, id, e.time.toDouble))
      e.stageInfos.foreach(si => stages.put(si.stageId, new StageAcc(trace, id)))
      add("scheduler.jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobTrace.remove(e.jobId)).foreach { case (trace, id, t0) =>
      tracer.add(Span(id, 0L, trace, "scheduler", s"job ${e.jobId}", t0, e.time.toDouble))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stages.remove(si.stageId)).foreach { acc =>
      if (si.submissionTime.isDefined && si.completionTime.isDefined)
        tracer.add(Span(tracer.nextId(), acc.jobSpan, acc.trace, "executor",
          s"stage ${si.stageId}", si.submissionTime.get.toDouble,
          si.completionTime.get.toDouble))
      // skipped stages (shuffle output reused) never submit and run no task
      if (si.submissionTime.isDefined) add("scheduler.stages", 1)
      val runs = acc.runMs.synchronized(acc.runMs.sorted.toSeq)
      if (runs.size >= 2) {
        val median = math.max(1L, runs(runs.size / 2)).toDouble
        val weight = runs.sum.toDouble
        synchronized {
          skewWeighted += runs.last / median * weight
          skewWeight += weight
        }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = stages.get(e.stageId)
    val m = e.taskMetrics
    if (acc != null && m != null) {
      val info = e.taskInfo
      acc.runMs.synchronized(acc.runMs += m.executorRunTime)
      add("scheduler.tasks", 1)
      add("scheduler.delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime))
      add("executor.run_ms", m.executorRunTime)
      add("executor.cpu_ms", m.executorCpuTime / 1e6)
      add("executor.gc_ms", m.jvmGCTime)
      add("exchange.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("exchange.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("exchange.spill_mb",
        (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      add("tables.input_mb", m.inputMetrics.bytesRead / 1048576.0)
      add("tables.records_read", m.inputMetrics.recordsRead)
    }
  }

  // QueryExecutionListener: analysis + optimization + planning per action
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    planPhases(qe)

  private def planPhases(qe: QueryExecution): Unit = {
    val (from, to) = window
    val phases = qe.tracker.phases.filter { case (_, p) =>
      p.startTimeMs >= from && p.startTimeMs <= to }
    phases.values.foreach(p => add("driver.plan_ms", p.durationMs))
  }
}

object Layers {
  val PhaseKey = "perfbench.phase"
  val TraceKey = "perfbench.trace"
}

/** Trigger-level record of the session's streaming queries, from their
  * progress events. Each trigger becomes a span whose phases are laid out
  * in the order the micro-batch loop runs them. */
final class Triggers(tracer: Tracer) extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    progress.add(p)
    if (tracer.enabled) {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val total = d.getOrElse("triggerExecution", 0.0)
      val trace = s"${Option(p.name).getOrElse("stream")}/${p.batchId}"
      val id = tracer.nextId()
      tracer.add(Span(id, 0L, trace, "streaming", "trigger", start, start + total))
      // set-up phases run from the trigger's start, the batch and its
      // commit end it; what falls between stays the trigger's own time
      var t = start
      Seq("latestOffset" -> "sources", "walCommit" -> "streaming",
          "getBatch" -> "sources", "queryPlanning" -> "driver").foreach {
        case (phase, layer) =>
          val ms = d.getOrElse(phase, 0.0)
          tracer.add(Span(tracer.nextId(), id, trace, layer, phase, t, t + ms))
          t += ms
      }
      t = start + total
      Seq("commitOffsets" -> "streaming", "addBatch" -> "sink").foreach {
        case (phase, layer) =>
          val ms = d.getOrElse(phase, 0.0)
          tracer.add(Span(tracer.nextId(), id, trace, layer, phase, t - ms, t))
          t -= ms
      }
    }
  }
}
