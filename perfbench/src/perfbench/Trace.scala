package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span the benchmark opened around one call into a layer. */
final class Span(val id: Long, val name: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  def durMs: Long = endMs - startMs
}

/** One completed stage, attributed to the span of the job that ran it.
  * `kind` classifies the SQL execution that ran it (see [[Tracer.kindOf]]). */
final case class StageRec(
    span: Long, kind: String, startMs: Long, endMs: Long, tasks: Int,
    runMs: Long, cpuNs: Long, gcMs: Long, recordsWritten: Long,
    bytesWritten: Long, shuffleWriteBytes: Long, spillBytes: Long)

final case class JobRec(span: Long, startMs: Long, var endMs: Long)

/** In-memory tracer. The benchmark opens a span around each call it
  * wraps and stores the span id in a Spark local property of the calling
  * thread, so the jobs that call submits carry it; listener events are
  * then attributed to the span. Nothing is written until the run ends.
  * With tracing off, [[span]] only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer.SpanKey

  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong(0)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val jobs: mutable.Map[Int, JobRec] = mutable.Map.empty
  val stages: mutable.ArrayBuffer[StageRec] = mutable.ArrayBuffer.empty
  /** (startMs, endMs, planning ms) of each finished query execution. */
  val plans: mutable.ArrayBuffer[(Long, Long, Long)] = mutable.ArrayBuffer.empty
  val progress: mutable.ArrayBuffer[StreamingQueryProgress] = mutable.ArrayBuffer.empty
  @volatile private var lastEventMs = System.currentTimeMillis()

  private val stageSpan = mutable.Map.empty[Int, Long]
  private val stageKind = mutable.Map.empty[Int, String]
  private val execKind = mutable.Map.empty[String, String]

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = JobRec(span, e.time, -1L)
      val kind = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(execKind.get).getOrElse("other")
      e.stageIds.foreach { id => stageSpan(id) = span; stageKind(id) = kind }
      lastEventMs = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
      lastEventMs = System.currentTimeMillis()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        execKind(x.executionId.toString) = Tracer.kindOf(x.physicalPlanDescription)
      }
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages += StageRec(
        stageSpan.getOrElse(i.stageId, -1L), stageKind.getOrElse(i.stageId, "other"),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
      lastEventMs = System.currentTimeMillis()
    }
  }

  private object PlanListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        plans += ((ph.map(_.startTimeMs).min, ph.map(_.endTimeMs).max, ph.map(_.durationMs).sum))
      lastEventMs = System.currentTimeMillis()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private object ProgressListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress; lastEventMs = System.currentTimeMillis() }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(JobListener)
    spark.listenerManager.register(PlanListener)
    spark.streams.addListener(ProgressListener)
  }

  /** Run `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(ids.incrementAndGet(), name, System.currentTimeMillis())
      synchronized { spans += s }
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally { s.endMs = System.currentTimeMillis(); sc.setLocalProperty(SpanKey, prev) }
    }

  /** Forget everything recorded so far (the warm-up's events). */
  def reset(): Unit = { quiesce(); synchronized { spans.clear(); jobs.clear(); stages.clear(); plans.clear(); progress.clear() } }

  /** Wait until the listener bus has delivered the events of finished
    * work: every started job ended and no event for a short while. */
  def quiesce(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 10000
    def busy = synchronized(jobs.values.exists(_.endMs < 0)) ||
      System.currentTimeMillis() - lastEventMs < 300
    while (busy && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def spansNamed(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toList)
  def jobsOf(s: Span): Seq[JobRec] = synchronized(jobs.values.filter(_.span == s.id).toList)
  def stagesOf(s: Span): Seq[StageRec] = synchronized(stages.filter(_.span == s.id).toList)
  def planMsOf(s: Span): Long = synchronized(
    plans.filter { case (a, b, _) => a >= s.startMs && b <= s.endMs }.map(_._3).sum)

  /** Self time: the span's duration minus the part its jobs cover. */
  def selfMs(s: Span): Long = {
    val iv = jobsOf(s).map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    s.durMs - covered
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** What a sink's SQL execution does, from its physical plan: the good
    * rows' parquet write, the dead letters' JSON write, or the JDBC insert
    * (the row-isolated sink's mapPartitions). Streaming jobs all carry the
    * query's start call site, so the plan is what tells them apart. */
  def kindOf(plan: String): String =
    if (plan.contains("InsertIntoHadoopFsRelationCommand"))
      if (plan.contains("Parquet")) "good_write" else "dead_write"
    else if (plan.contains("MapPartitions")) "insert"
    else "other"
}

/** GC and JIT time of this JVM, read before and after a measured region. */
object JvmClock {
  import java.lang.management.ManagementFactory
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
