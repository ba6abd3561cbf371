package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into each layer. A span
  * sets the Spark job group of the calling thread to its own id, so the
  * listener below can attribute every job, stage and task to the span
  * that caused it. Nothing is written until the run ends.
  */
final case class Span(id: Int, name: String, parent: Int, req: String,
                      startNs: Long, var endNs: Long = -1L) {
  def ms: Double = (endNs - startNs) / 1e6
}

final class Tracer(sc: SparkContext, val enabled: Boolean) {

  private val ids = new AtomicInteger(0)
  private val all = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }

  def span[T](name: String, req: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.get.headOption
      val rq = if (req.nonEmpty) req else parent.map(_.req).getOrElse("")
      val s = Span(ids.incrementAndGet(), name, parent.map(_.id).getOrElse(0), rq, System.nanoTime())
      all.synchronized(all += s)
      stack.set(s :: stack.get)
      sc.setJobGroup(s"span-${s.id}", name)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack.set(stack.get.tail)
        parent match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = all.synchronized(all.toList)

  /** Self time: the span's duration minus what its children cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var cur = (0L, -1L)
    kids.foreach { case (a, b) =>
      if (a > cur._2) { if (cur._2 > cur._1) covered += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur._2 > cur._1) covered += cur._2 - cur._1
    s.ms - covered / 1e6
  }

  /** Median duration (ms) of the spans named `name`. */
  def medianMs(name: String): Double = Stats.median(spans.filter(_.name == name).map(_.ms))
  def totalMs(name: String): Double = spans.filter(_.name == name).map(_.ms).sum
}

/** Spark's own counters, per job group and in total, plus the job
  * intervals that give driver-only time (wall time with no job running).
  */
final class SparkCounters extends SparkListener {

  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var schedDelayMs = 0L
    def toMap: Map[String, Double] = Map(
      "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "executor_run_s" -> runMs / 1e3, "executor_cpu_s" -> cpuNs / 1e9,
      "gc_s" -> gcMs / 1e3, "shuffle_write_mb" -> shuffleWrite / 1048576.0,
      "shuffle_read_mb" -> shuffleRead / 1048576.0, "spill_mb" -> spill / 1048576.0,
      "scheduler_delay_s" -> schedDelayMs / 1e3)
  }

  val total = new Acc
  val byGroup = mutable.Map[String, Acc]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  /** (start, end) wall-clock millis of finished jobs. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = e.time
    total.jobs += 1
    val a = acc(g); a.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total.stages += 1
    acc(stageGroup.getOrElse(e.stageInfo.stageId, "none")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val delay = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      Seq(total, acc(stageGroup.getOrElse(e.stageId, "none"))).foreach { a =>
        a.tasks += 1
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.schedDelayMs += delay
      }
    }
  }

  /** Jobs that started inside [fromMs, toMs). */
  def jobsIn(fromMs: Long, toMs: Long): Int = synchronized {
    jobIntervals.count { case (s, _) => s >= fromMs && s < toMs } +
      jobStart.values.count(s => s >= fromMs && s < toMs)
  }

  /** Milliseconds of [fromMs, toMs) during which no job was running. */
  def driverOnlyMs(fromMs: Long, toMs: Long): Long = synchronized {
    val iv = jobIntervals.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L; var cur = (0L, -1L)
    iv.foreach { case (a, b) =>
      if (a > cur._2) { if (cur._2 > cur._1) busy += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur._2 > cur._1) busy += cur._2 - cur._1
    (toMs - fromMs) - busy
  }
}

/** Counts whole-stage codegen fallbacks (a generated class that fails to
  * compile, or exceeds the method-size limit, runs interpreted) by
  * listening to the codegen loggers, and reads Spark's codegen
  * compile-time histogram.
  */
object Codegen {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val failures = new AtomicInteger(0)
  @volatile private var installed = false

  def install(): Unit = synchronized {
    if (!installed) {
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      val app = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit = {
          val msg = String.valueOf(e.getMessage.getFormattedMessage)
          if (msg.contains("Whole-stage codegen disabled") || msg.contains("Failed to compile") ||
              msg.contains("Found too long generated codes")) failures.incrementAndGet()
        }
      }
      app.start()
      cfg.addAppender(app)
      Seq("org.apache.spark.sql.execution.WholeStageCodegenExec",
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator").foreach { n =>
        val lc = new LoggerConfig(n, Level.INFO, false)
        lc.addAppender(app, Level.INFO, null)
        cfg.addLogger(n, lc)
      }
      ctx.updateLoggers()
      installed = true
    }
  }

  def failureCount: Int = failures.get

  /** Approximate total compile time so far (count x mean of Spark's
    * sampled histogram).
    */
  def compileMs: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
