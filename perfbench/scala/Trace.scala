package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** One interval of a traced run; times are seconds since the tracer's epoch. */
final case class Span(id: Long, parent: Long, name: String, layer: String, t0: Double, t1: Double)

/** In-memory spans and per-layer counters for a traced run.
  *
  * Harness spans (workload → job/query → phase) are opened with [[span]],
  * which sets the [[Tracer.SpanKey]] local property for the duration of the
  * call, so every Spark job the call launches — on this thread or on a
  * thread it starts — names the phase that caused it. Spark job and stage
  * spans are recorded from listener events under that phase. A job that
  * carries no span property is counted as unattributed, never guessed; a
  * job under [[Tracer.Off]] belongs to an untraced job of the same run and
  * is ignored.
  */
class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val epochMs = System.currentTimeMillis()
  private val epochNs = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val phaseLayer = mutable.Map.empty[Long, String]
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Double)] // job -> (span, phase, start)
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val batchSeconds = mutable.ArrayBuffer.empty[Double]

  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { batchSeconds += e.progress.batchDuration / 1e3 }
  }

  def now(): Double = (System.nanoTime() - epochNs) / 1e9
  private def fromMs(ms: Long): Double = (ms - epochMs) / 1e3

  /** Runs `body` inside a new span; jobs it launches are attributed to it. */
  def span[T](name: String, layer: String, parent: Long)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    synchronized { phaseLayer(id) = layer }
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = now()
    try body(id)
    finally {
      val t1 = now()
      sc.setLocalProperty(SpanKey, prev)
      synchronized { spans += Span(id, parent, name, layer, t0, t1) }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
    prop match {
      case Some(Off) => ()
      case None => counts("exec.unattributed_jobs") += 1
      case Some(p) =>
        val phase = p.toLong
        jobSpan(e.jobId) = (ids.incrementAndGet(), phase, fromMs(e.time))
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, phase, t0) =>
      val t1 = fromMs(e.time)
      spans += Span(id, phase, s"job ${e.jobId}", "spark.job", t0, t1)
      counts("exec.jobs") += 1
      counts("exec.s") += t1 - t0
      if (phaseLayer.get(phase).contains(BuildLayer)) {
        counts("sparkentry.build_jobs") += 1
        counts("sparkentry.build_job_s") += t1 - t0
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageJob.get(info.stageId).flatMap(jobSpan.get).foreach { case (jobId, _, _) =>
      for (s <- info.submissionTime; c <- info.completionTime)
        spans += Span(ids.incrementAndGet(), jobId, s"stage ${info.stageId}",
          "spark.stage", fromMs(s), fromMs(c))
      counts("exec.stages") += 1
      stageTasks.remove(info.stageId).filter(_.size >= 2).foreach { ts =>
        val sorted = ts.sorted
        val median = sorted(sorted.size / 2)
        if (median > 0) counts("exec.task_skew") = math.max(counts("exec.task_skew"), sorted.last / median)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.get(e.stageId).exists(jobSpan.contains)) {
      counts("exec.tasks") += 1
      if (!e.taskInfo.successful) counts("exec.task_failures") += 1
      val m = e.taskMetrics
      if (m != null) {
        val run = m.executorRunTime / 1e3
        counts("exec.task_run_s") += run
        counts("exec.task_cpu_s") += m.executorCpuTime / 1e9
        counts("exec.gc_s") += m.jvmGCTime / 1e3
        counts("exec.sched_delay_s") += math.max(0.0, (e.taskInfo.duration -
          m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime) / 1e3)
        counts("exec.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        counts("exec.shuffle_write_records") += m.shuffleWriteMetrics.recordsWritten
        counts("exec.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        counts("exec.shuffle_fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
        counts("exec.spill_bytes") += m.diskBytesSpilled
        counts("exec.peak_exec_mem_bytes") =
          math.max(counts("exec.peak_exec_mem_bytes"), m.peakExecutionMemory.toDouble)
        counts("tables.input_bytes") += m.inputMetrics.bytesRead
        counts("tables.input_rows") += m.inputMetrics.recordsRead
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += run
      }
    }
  }

  /** Spans and counters, after the listener bus has delivered every event. */
  def snapshot(): Map[String, Any] = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    synchronized {
      Map(
        "spans" -> spans.sortBy(_.t0).map(s => Seq(s.id, s.parent, s.name, s.layer, s.t0, s.t1)),
        "counters" -> counts.toMap,
        "stream_batch_s" -> batchSeconds.toSeq)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Span property value of an untraced job in a traced run. */
  val Off = "off"
  /** Layer of a phase that builds a DataFrame; its jobs are build jobs. */
  val BuildLayer = "sparkentry"
}
