package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{StreamingIngest, StreamingNearDup}

/** The streaming near-duplicate pipeline: corpus PDFs in a drop
  * directory -> `StreamingIngest.pdfStream` (fixed maxFilesPerTrigger) ->
  * `StreamingNearDup.nearDupStream` (keep-first, bucketed registry,
  * screen on) drained by processAllAvailable. The traced `ingest_build`
  * run uses it to measure the `streaming` layer and checks its output.
  */
object StreamLayers {

  val FilesPerTrigger = 40
  val MinJaccard = 0.8
  /** 3-shingle Jaccard about 1.0, 0.94, 0.84 above the 0.8 threshold,
    * 0.75 and 0.64 below it.
    */
  val Rates = Seq(0.0, 0.01, 0.03, 0.05, 0.08)

  /** Write the corpus as PDFs whose modification times follow corpus
    * order, so the file source hands them out in that order.
    */
  def dropDir(dir: Path, prefix: String, c: Gen.Corpus): Unit = {
    Files.createDirectories(dir)
    val t0 = 1600000000000L
    c.docs.zipWithIndex.foreach { case (d, i) =>
      val f = dir.resolve(f"$prefix$i%06d.pdf")
      Files.write(f, d.pdf)
      Files.setLastModifiedTime(f, FileTime.fromMillis(t0 + i * 1000L))
    }
  }

  final case class Run(rows: Seq[(Long, Long, Double)], batchMs: Seq[Double],
                       progress: Seq[Map[String, Double]], startS: Double)

  def start(spark: SparkSession, ctx: Ctx, dir: String,
            sink: mutable.ArrayBuffer[(Long, Long, Double)]): StreamingQuery = {
    val docs = StreamingIngest.pdfStream(spark, dir, FilesPerTrigger)
    StreamingNearDup.nearDupStream(docs,
      regexp_extract(col("file_name"), "(\\d+)\\.pdf$", 1).cast("long"), col("text"),
      registryDir = ctx.fresh("registry"), checkpointDir = Some(ctx.fresh("checkpoint")),
      minJaccard = MinJaccard, registerDups = false) { (batch: DataFrame) =>
      val got = batch.select(col("id"), coalesce(col("dup_of"), lit(-1L)),
        coalesce(col("jaccard"), lit(0.0))).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      sink.synchronized(sink ++= got)
    }
  }

  def drain(spark: SparkSession, ctx: Ctx, dir: String): Run = {
    val sink = mutable.ArrayBuffer[(Long, Long, Double)]()
    val t0 = System.nanoTime()
    val q = start(spark, ctx, dir, sink)
    val startS = (System.nanoTime() - t0) / 1e9
    q.processAllAvailable()
    q.stop()
    val prog = q.recentProgress.filter(_.numInputRows > 0).toSeq
    Run(sink.synchronized(sink.toList), prog.map(_.durationMs.get("triggerExecution").toDouble),
      prog.map(_.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap), startS)
  }

  /** `streaming.*` per-layer metrics from one drain of `dir` on a fresh
    * registry; `counters` must be listening.
    */
  def layers(ctx: Ctx, dir: String, counters: SparkCounters): (Map[String, Double], Run) = {
    val run = drain(ctx.spark, ctx, dir)
    Thread.sleep(50) // let the listener bus deliver the last batch's jobs
    val registry = ctx.work.toFile.listFiles().filter(_.getName.startsWith("registry"))
      .maxBy(_.getName).toString
    val p = (k: String) => Stats.median(run.progress.map(_.getOrElse(k, 0.0)))
    ctx.resetEngineState()
    (Map(
      "streaming.batches" -> run.batchMs.size.toDouble,
      "streaming.planning_ms" -> p("queryPlanning"),
      "streaming.get_batch_ms" -> p("getBatch"),
      "streaming.add_batch_ms" -> p("addBatch"),
      "streaming.wal_commit_ms" -> p("walCommit"),
      "streaming.jobs_per_batch" -> counters.total.jobs.toDouble / math.max(1, run.batchMs.size),
      "streaming.registry_files_end" -> Main.countFiles(registry, "*").toDouble), run)
  }

  /** Output check of one drain: every `dup_of` is an earlier, kept
    * document whose exact Jaccard with the duplicate clears the
    * threshold, and every document of the corpus gets a verdict.
    */
  def check(c: Gen.Corpus, run: Run): Seq[String] = {
    val shingles = c.texts.map(t => Checks.shingles(t))
    val missing = c.texts.size - run.rows.map(_._1).distinct.size
    Checks.streamVerdicts(run.rows, _.toInt, id => shingles(id.toInt), MinJaccard) ++
      (if (missing != 0) Seq(s"$missing documents without a verdict") else Nil)
  }

  def corpus(seed: Long, docs: Int): Gen.Corpus =
    Gen.corpus(new Random(seed), docs, 80, 250, dupShare = 0.35, Rates,
      near = 0.4, nearWindow = FilesPerTrigger / 2)
}
