package perfbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one workload run produced. `e2e` and `layers` are keyed by the
  * metric names in [[Main.E2E]] and [[Main.Layers]].
  */
final case class Outcome(attempted: Long, failed: Long, problems: Seq[String],
                         e2e: Map[String, Double], layers: Map[String, Double])

/** Shared state of one run: the session, the work directory and the
  * run record (conditions, input sizes, series) written at the end.
  */
final class Ctx(val seed: Long, val seconds: Int,
                val trace: Boolean, val work: Path, val cores: Int) {
  var spark: SparkSession = _
  val record = mutable.LinkedHashMap[String, Any]()
  private var dirs = 0

  /** A fresh directory under the work dir. */
  def fresh(tag: String): String = synchronized {
    dirs += 1
    val p = work.resolve(f"$tag-$dirs%04d")
    Files.createDirectories(p)
    p.toString
  }

  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    spark = s
    s
  }

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** `setup_s`: the workload's set-up timed `1 + warm` times, each on a
    * new SparkSession; the first (cold JVM) is recorded, the median of
    * the warm ones is reported. `setup` gets the fresh session and
    * returns a teardown for every repetition but the last.
    */
  def setupSeries(warm: Int)(setup: SparkSession => (() => Unit)): Double = {
    val times = (0 to warm).map { i =>
      if (i > 0) stopSession()
      val t0 = System.nanoTime()
      val teardown = setup(newSession())
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < warm) teardown()
      dt
    }
    record("setup_series_s") = times
    Stats.median(times.tail)
  }

  /** Clear Spark state between timed units, as the engine's own bench
    * does: stop streams, drop catalog tables, uncache, unpersist.
    */
  def resetEngineState(): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.streams.resetTerminated()
    spark.catalog.listTables().collect().foreach { t =>
      try spark.sql(s"DROP TABLE IF EXISTS `${t.name}`") catch { case _: Throwable => () }
    }
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private val live = mutable.ArrayBuffer[Map[String, Double]]()

  /** A `live_mb` sample, taken between timed units: a full GC, then the
    * heap in use (the live set), metaspace in use (classes, generated
    * ones included) and NIO buffers, in MB. The reported figure is the
    * largest sample of the run. Unlike resident memory it does not
    * depend on how much of the fixed heap the collector touched. The
    * JIT's code cache is recorded but left out: it follows compiler
    * timing, not the program.
    */
  def liveSample(): Unit = {
    System.gc()
    val mb = (b: Long) => b / 1048576.0
    val pool = (name: String) => ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains(name)).map(_.getUsage.getUsed).sum
    val heap = mb(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    val meta = mb(pool("Metaspace"))
    val buffers = mb(ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .map(_.getMemoryUsed).sum)
    live += Map("live_mb" -> (heap + meta + buffers), "heap_mb" -> heap, "metaspace_mb" -> meta,
      "buffers_mb" -> buffers, "code_cache_mb" -> mb(pool("CodeHeap")))
    record("live_mb_samples") = live.toList
  }

  def liveMb: Double = if (live.isEmpty) Double.NaN else live.map(_("live_mb")).max

  def pinnedMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}

object Main {

  /** End-to-end metrics: name -> unit. Every workload reports each. */
  val E2E: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "docs_per_s" -> "1/s", "latency_p50_ms" -> "ms",
    "live_mb" -> "MB", "recall" -> "ratio")

  /** Per-layer metrics: name -> unit. A layer a workload does not use
    * reports 0.
    */
  val Layers: Seq[(String, String)] = Seq(
    "sources.extract_ms_per_doc" -> "ms", "sources.write_s" -> "s",
    "sources.files_written" -> "count", "sources.files_per_search" -> "count",
    "classify.attrs_ms_per_doc" -> "ms", "classify.invalid_share" -> "ratio",
    "text.chunk_ms_per_doc" -> "ms", "text.chunks_per_doc" -> "count",
    "embed.ms_per_chunk" -> "ms",
    "vector.ivf_build_s" -> "s", "vector.knn_ms_per_search" -> "ms",
    "vector.rows_scanned_per_search" -> "count",
    "serve.overhead_ms_per_search" -> "ms", "serve.jobs_per_search" -> "count",
    "serve.driver_only_ms_per_search" -> "ms",
    "dedup.exact_s" -> "s", "dedup.minhash_s" -> "s", "dedup.components_s" -> "s",
    "dedup.keeper_s" -> "s", "dedup.verified_pairs" -> "count", "dedup.clusters" -> "count",
    "streaming.batches" -> "count", "streaming.planning_ms" -> "ms",
    "streaming.get_batch_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.jobs_per_batch" -> "count",
    "streaming.registry_files_end" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.driver_only_s" -> "s",
    "spark.scheduler_delay_s" -> "s", "spark.codegen_compile_ms" -> "ms",
    "spark.codegen_failures" -> "count", "spark.pinned_mb_end" -> "MB",
    "bench.trace_overhead_pct" -> "%")

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "ingest_build" -> IngestBuild.run,
    "search_closed" -> SearchClosed.run)

  private def readFile(p: String): String =
    try { val s = Source.fromFile(p); try s.mkString finally s.close() }
    catch { case _: Throwable => "" }

  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  private def cpuJiffies(): (Long, Long) =
    readFile("/proc/stat").linesIterator.find(_.startsWith("cpu ")) match {
      case Some(l) =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      case None => (0L, 0L)
    }

  private def loadavg(): String = readFile("/proc/loadavg").trim

  private def vmHwmMb(): Double =
    readFile("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case p: Product => json(p.productElementNames.zip(p.productIterator).toMap)
    case x => json(x.toString)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val work = Paths.get(opts("work"))
    Files.createDirectories(work)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val ctx = new Ctx(opts("seed").toLong, opts("seconds").toInt,
      opts("trace") == "1", work, cores)
    val (steal0, total0) = cpuJiffies()
    val rec = ctx.record
    rec("workload") = workload
    rec("seed") = ctx.seed
    rec("seconds") = ctx.seconds
    rec("trace") = ctx.trace
    rec("nproc") = Runtime.getRuntime.availableProcessors
    rec("spark_master") = s"local[$cores]"
    rec("loadavg_start") = loadavg()
    rec("jvm_args") = ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq
      .map(_.toString).filter(a => a.startsWith("-X") || a.startsWith("-XX"))
    rec("jdk") = System.getProperty("java.version")
    rec("spark") = org.apache.spark.SPARK_VERSION
    Codegen.install()
    val out = run(ctx)
    val (steal1, total1) = cpuJiffies()
    rec("loadavg_end") = loadavg()
    rec("cpu_steal_share") =
      if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
    rec("process_cpu_s") = processCpuS()
    rec("vm_hwm_mb") = vmHwmMb()
    rec("jvm_uptime_s") = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    rec("attempted") = out.attempted
    rec("failed") = out.failed
    rec("failed_pct") = if (out.attempted > 0) 100.0 * out.failed / out.attempted else 100.0
    rec("problems") = out.problems.take(20)
    val e2e = E2E.map { case (n, u) =>
      n -> Map("value" -> (if (n == "live_mb") ctx.liveMb else out.e2e(n)), "unit" -> u)
    }
    val layers = Layers.map { case (n, u) =>
      n -> Map("value" -> out.layers.getOrElse(n, 0.0), "unit" -> u)
    }
    rec("metrics") = mutable.LinkedHashMap((if (ctx.trace) layers else e2e): _*)
    val recordJson = json(rec)
    Files.write(work.resolve("record.json"), recordJson.getBytes("UTF-8"))
    println("PERFBENCH_RECORD " + recordJson)
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (out.failed == 0 && out.problems.isEmpty),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> rec("metrics"))
    println("PERFBENCH_RESULT " + json(result))
    System.out.flush()
    // The search service's request pool is never shut down by its
    // stop(), so the JVM would not exit on its own.
    try ctx.stopSession() catch { case _: Throwable => () }
    sys.exit(0)
  }

  // ---- helpers shared by the workloads -----------------------------------

  /** Collection time of every collector since the JVM started, in s. */
  def gcPauseS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  def timeS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Materialize every column of `df` without collecting it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def countFiles(dir: String, suffix: String = ".parquet"): Int = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0
    else {
      val s = Files.walk(p)
      try s.filter(f => f.getFileName.toString.endsWith(suffix) ||
        (suffix == "*" && Files.isRegularFile(f))).count().toInt
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }

  /** Spark counters of a traced section, as `spark.*` per-layer metrics. */
  def sparkLayer(ctx: Ctx, c: SparkCounters, fromMs: Long, toMs: Long,
                 codegen0: (Int, Double)): Map[String, Double] =
    c.total.toMap.map { case (k, v) => s"spark.$k" -> v } ++ Map(
      "spark.driver_only_s" -> c.driverOnlyMs(fromMs, toMs) / 1e3,
      "spark.codegen_compile_ms" -> (Codegen.compileMs - codegen0._2),
      "spark.codegen_failures" -> (Codegen.failureCount - codegen0._1).toDouble,
      "spark.pinned_mb_end" -> ctx.pinnedMb)

  /** The spans for the record: every span (times in ms from the first
    * span's start), and per span name the count, median, total self time
    * and Spark counters.
    */
  def spanRecord(t: Tracer, c: SparkCounters): Map[String, Any] = {
    val t0 = t.spans.map(_.startNs).minOption.getOrElse(0L)
    Map(
      "spans" -> t.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "req" -> s.req, "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_ms" -> t.selfMs(s))),
      "by_name" -> spanSummary(t, c))
  }

  private def spanSummary(t: Tracer, c: SparkCounters): Seq[Map[String, Any]] =
    t.spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val groups = ss.map(s => s"span-${s.id}").toSet
      val accs = c.synchronized(c.byGroup.filter { case (g, _) => groups.contains(g) }.values.toSeq)
      Map[String, Any]("name" -> name, "n" -> ss.size,
        "median_ms" -> Stats.median(ss.map(_.ms)),
        "self_ms_total" -> ss.map(t.selfMs).sum,
        "spark" -> accs.map(_.toMap).foldLeft(Map.empty[String, Double]) { (m, a) =>
          a.foldLeft(m) { case (mm, (k, v)) => mm.updated(k, mm.getOrElse(k, 0.0) + v) }
        })
    }
}
