package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-layer attribution for the traced run. The harness marks each call
  * into a layer with the `perfbench.span` local property; every Spark job
  * submitted inside the call inherits it, and this listener files the job,
  * its call site and its tasks' metrics under that span. Nothing in the
  * library is instrumented.
  *
  * Events arrive on Spark's listener thread; read the results only after
  * `SparkContext.stop()`, which drains the listener bus.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    jobs(e.jobId) = new JobRec(span, site, exec.getOrElse(s"job${e.jobId}"), e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId) if m != null) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.wallMs += e.taskInfo.duration
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Jobs filed under `span`, in submission order. */
  def jobsOf(span: String): Seq[JobRec] = synchronized {
    jobs.values.filter(_.span == span).toSeq
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** One Spark job. `execution` groups the jobs of one SQL execution
    * (adaptive execution submits each query stage as its own job). */
  final class JobRec(val span: String, val callSite: String, val execution: String, val start: Long) {
    var end: Long = start
    var tasks = 0L
    var runMs = 0L
    var wallMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
  }

  /** A timed call into one layer: wall-clock bounds in epoch ms (the
    * listener's clock), the precise duration in seconds, and the CPU
    * seconds the benchmark JVM spent meanwhile. */
  final case class Span(id: String, startMs: Long, endMs: Long, seconds: Double, cpuSeconds: Double)

  /** Runs `body` as span `id`. */
  def span[T](sc: SparkContext, id: String)(body: => T): (T, Span) = {
    sc.setLocalProperty(SpanKey, id)
    val ms = System.currentTimeMillis()
    val c0 = Main.cpuSeconds()
    val t0 = System.nanoTime()
    try {
      val out = body
      val seconds = (System.nanoTime() - t0) / 1e9
      (out, Span(id, ms, System.currentTimeMillis(), seconds, Main.cpuSeconds() - c0))
    } finally sc.setLocalProperty(SpanKey, null)
  }

  /** Seconds of `s` covered by none of `jobs` — the span's driver-side
    * self time. */
  def selfSeconds(s: Span, jobs: Seq[JobRec]): Double = {
    val iv = jobs.map(j => (math.max(j.start, s.startMs), math.min(j.end, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.seconds - covered / 1000.0)
  }
}
