package perfbench

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.api.Ingest
import graft.embed.{DeterministicEmbedder, Embedder}
import graft.sources.BinaryDocs
import graft.text.ChunkPacker
import graft.vector.Ann

import Main.{noop, timeS}

/** `ingest_build`: seeded case PDFs -> scanPdfDir -> document attributes
  * -> chunk table embedded at 1536 dims -> parquet sink -> IVF build and
  * save. Every batch reads its own input directory and writes fresh
  * outputs; warm-up batches have the same shape as timed ones.
  */
object IngestBuild {

  val Dim = 1536
  /** 100 documents per batch: a batch costs about 13 s of fixed,
    * mostly single-threaded driver time (the embedder's failing codegen
    * compile, below) plus about 15 ms per document on 4 cores, so the
    * per-document layers are a visible share of a batch. The ~1000 of
    * the design would leave room for one timed batch per run only.
    */
  val DocsPerBatch = 100
  /** One untimed batch of the same shape as the timed ones. Its cost
    * (30-35 s) is the JVM and Janino warming up on the first compile;
    * later batches stay level (13-14 s at 25 docs over 9 batches).
    */
  val WarmBatches = 1
  val MinWords = 300
  val MaxWords = 4000

  /** One timed batch per 10 s of `--seconds`, rounded: two at the 15 s
    * that BENCHMARK.json sets, which keeps a run at 65-85 s.
    */
  def timedBatches(seconds: Int): Int = math.max(1, math.round(seconds / 10.0).toInt)

  /** Embeds nothing: lets the trace time chunking plus the join-back
    * without the embedding column.
    */
  private object NoEmbedder extends Embedder {
    def dim: Int = 1
    def embed(text: Column): Column = array(lit(0.0f))
  }

  private def level(fileName: Column): Column =
    regexp_extract(fileName, "_L(\\d)\\.pdf$", 1).cast("int")

  final case class Batch(dir: String, docs: Seq[Gen.CaseDoc])

  def run(ctx: Ctx): Outcome = {
    val r = new Random(ctx.seed)
    // a traced run needs only one untraced batch to compare the traced
    // one with; the rest of its time goes to the traced passes
    val nTimed = if (ctx.trace) 1 else timedBatches(ctx.seconds)
    val nTraced = if (ctx.trace) 1 else 0
    val inputs = ctx.work.resolve("inputs")
    val t0 = System.nanoTime()
    val batches = (0 until WarmBatches + nTimed).map { b =>
      val dir = inputs.resolve(f"batch$b%02d")
      Files.createDirectories(dir)
      val levels = r.shuffle((0 until DocsPerBatch).map(_ % 4 + 1))
      val docs = Gen.shapes(r, DocsPerBatch, MinWords, MaxWords).zip(levels).zipWithIndex.map {
        case ((shape, lvl), i) =>
          Gen.caseDoc(r, f"case_s${ctx.seed}_b$b%02d_$i%04d_L$lvl.pdf", shape)
      }
      docs.foreach(d => Files.write(dir.resolve(d.name), d.pdf))
      Batch(dir.toString, docs)
    }
    ctx.record("inputs_s") = (System.nanoTime() - t0) / 1e9
    val all = batches.drop(WarmBatches).flatMap(_.docs)
    ctx.record("inputs") = Map(
      "docs_per_batch" -> DocsPerBatch, "warm_batches" -> WarmBatches,
      "timed_batches" -> nTimed,
      "words_median" -> Stats.median(all.map(_.nWords.toDouble)),
      "words_max" -> all.map(_.nWords).max,
      "header_share" -> all.count(_.hasHeader).toDouble / all.size,
      "pdf_bytes_per_batch" -> Stats.median(batches.drop(WarmBatches).map(_.docs.map(_.pdf.length.toDouble).sum)),
      "dim" -> Dim)

    val setup = ctx.setupSeries(11) { _ => () => () }
    val spark = ctx.spark
    val emb = DeterministicEmbedder(Dim)

    def pipeline(b: Batch, out: String, ivf: String): Unit = {
      val docs = BinaryDocs.scanPdfDir(spark, b.dir).toDF()
      val attrs = Ingest.namedDocumentAttributes(docs, col("file_name"), col("text"),
        level(col("file_name")))
      Ingest.write(Ingest.chunkTableOf(spark, attrs, emb), out)
      Ann.saveIvf(Ann.buildIvf(spark.read.parquet(out)), ivf)
    }

    var attempted = 0L
    var failed = 0L
    val problems = Seq.newBuilder[String]
    var decisionsRight = 0L
    def check(b: Batch, out: String, ivf: String): Unit = {
      val expected = b.docs.map(d => d.name -> ChunkPacker.chunkText(d.text).size).toMap
      val rows = spark.read.parquet(out).groupBy("file_name")
        .agg(count(lit(1)), collect_set(col("file_id")), min(size(col("embedding"))),
          max(size(col("embedding"))), first(col("case_decision")))
        .collect()
      val got = rows.map(r => Checks.IngestedDoc(r.getString(0),
        r.getSeq[String](2).toSet, r.getLong(1), r.getInt(3), r.getInt(4))).toSeq
      val decisions = rows.map(r => r.getString(0) -> r.getString(5)).toMap
      decisionsRight += b.docs.count(d => decisions.get(d.name).contains(d.label))
      val cents = Ann.loadIvf(spark, ivf).centroids
      val sample = spark.read.parquet(s"$ivf/assigned")
        .orderBy(col("chunk_id")).limit(24)
        .select(col("embedding"), col("cluster_id")).collect()
        .map(r => (r.getSeq[Float](0).toArray, r.getInt(1))).toSeq
      val docErrs = Checks.ingestDocs(got, expected, Dim)
      val ivfErrs = Checks.ivfAssignment(sample, cents)
      attempted += b.docs.size
      failed += (if (ivfErrs.nonEmpty) b.docs.size else docErrs.size)
      problems ++= (docErrs ++ ivfErrs).take(5)
    }

    val checkS = Seq.newBuilder[Double]
    val gcS = Seq.newBuilder[Double]
    def unit(b: Batch, checkIt: Boolean): Double = {
      val (out, ivf) = (ctx.fresh("table"), ctx.fresh("ivf"))
      // A batch builds a live set of 2-3 GB while it plans the embedding
      // projection. Without a collection first, what the last unit left
      // behind can fill the heap and cost one batch a multi-second pause.
      System.gc()
      val gc0 = Main.gcPauseS()
      val (_, dt) = try timeS(pipeline(b, out, ivf)) catch {
        case e: Throwable =>
          attempted += b.docs.size; failed += b.docs.size
          problems += s"batch failed: $e"
          (null, Double.NaN)
      }
      gcS += Main.gcPauseS() - gc0
      if (checkIt && !dt.isNaN) checkS += timeS(check(b, out, ivf))._2
      ctx.resetEngineState()
      Main.deleteTree(out); Main.deleteTree(ivf)
      if (checkIt) ctx.liveSample()
      dt
    }

    val warm = batches.take(WarmBatches).map(unit(_, checkIt = false))
    val timed = batches.drop(WarmBatches).map(unit(_, checkIt = true)).filterNot(_.isNaN)
    ctx.record("warm_batch_s") = warm
    ctx.record("timed_batch_s") = timed
    ctx.record("batch_gc_s") = gcS.result()
    ctx.record("check_s") = checkS.result()
    val e2e = Map(
      "setup_s" -> setup,
      "docs_per_s" -> DocsPerBatch / Stats.median(timed),
      "latency_p50_ms" -> Stats.median(timed) * 1e3,
      "recall" -> decisionsRight.toDouble / math.max(1L, attempted))

    val tr =
      if (!ctx.trace) Outcome(0L, 0L, Nil, Map.empty, Map.empty)
      else traced(ctx, batches.drop(WarmBatches).take(nTraced), emb, Stats.median(timed))
    Outcome(attempted + tr.attempted, failed + tr.failed, problems.result() ++ tr.problems,
      e2e, tr.layers)
  }

  /** Traced batches: each layer's output is materialized on its own, in
    * its own span, so its time and Spark counters are attributed to it.
    */
  private def traced(ctx: Ctx, batches: Seq[Batch], emb: Embedder,
                     untracedBatchS: Double): Outcome = {
    val spark = ctx.spark
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(spark.sparkContext, enabled = true)
    val codegen0 = (Codegen.failureCount, Codegen.compileMs)
    val from = System.currentTimeMillis()
    val per = batches.zipWithIndex.map { case (b, i) =>
      val (out, ivf) = (ctx.fresh("table"), ctx.fresh("ivf"))
      val m = tracer.span("batch", req = s"batch$i") {
        val docs = tracer.span("sources.scan") {
          val d = BinaryDocs.scanPdfDir(spark, b.dir).toDF().cache(); noop(d); d
        }
        val attrs = tracer.span("classify.attrs") {
          val a = Ingest.namedDocumentAttributes(docs, col("file_name"), col("text"),
            level(col("file_name"))).cache()
          noop(a); a
        }
        val invalid = attrs.where(col("case_decision") === graft.classify.DecisionRules.Invalid).count()
        val nChunks = tracer.span("text.chunk") {
          val c = Ingest.chunkTableOf(spark, attrs, NoEmbedder).cache(); noop(c); c.count()
        }
        val table = tracer.span("embed") {
          val t = Ingest.chunkTableOf(spark, attrs, emb).cache(); noop(t); t
        }
        tracer.span("sources.write")(Ingest.write(table, out))
        tracer.span("vector.ivf_build")(Ann.saveIvf(Ann.buildIvf(spark.read.parquet(out)), ivf))
        (invalid, nChunks, Main.countFiles(out))
      }
      ctx.resetEngineState()
      Main.deleteTree(out); Main.deleteTree(ivf)
      m
    }
    val to = System.currentTimeMillis()
    spark.sparkContext.removeSparkListener(counters)
    val n = batches.size * DocsPerBatch.toDouble
    val chunks = per.map(_._2).sum.toDouble
    val ms = (name: String) => tracer.totalMs(name)
    ctx.record("spans") = Main.spanRecord(tracer, counters)
    val ingestLayers = Map(
      "sources.extract_ms_per_doc" -> ms("sources.scan") / n,
      "sources.write_s" -> tracer.medianMs("sources.write") / 1e3,
      "sources.files_written" -> Stats.median(per.map(_._3.toDouble)),
      "classify.attrs_ms_per_doc" -> ms("classify.attrs") / n,
      "classify.invalid_share" -> per.map(_._1).sum / n,
      "text.chunk_ms_per_doc" -> ms("text.chunk") / n,
      "text.chunks_per_doc" -> chunks / n,
      "embed.ms_per_chunk" -> math.max(0.0, ms("embed") - ms("text.chunk")) / chunks,
      "vector.ivf_build_s" -> tracer.medianMs("vector.ivf_build") / 1e3,
      "bench.trace_overhead_pct" -> (tracer.medianMs("batch") / 1e3 / untracedBatchS - 1.0) * 100.0
    ) ++ Main.sparkLayer(ctx, counters, from, to, codegen0)
    val ds = dedupAndStreamLayers(ctx)
    ds.copy(layers = ingestLayers ++ ds.layers)
  }

  /** The dedup and streaming layers have no workload of their own in
    * BENCHMARK.json (a third workload does not fit the run-time budget),
    * so the traced ingest run measures them: one untimed warm-up, then
    * one traced pass of the batch and streaming near-duplicate pipelines
    * over smaller corpora of the same kind. Both traced passes are
    * checked; the pass counts as one operation and the stream as one per
    * document.
    */
  private def dedupAndStreamLayers(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dedupCorpus = DedupLayers.corpus(ctx.seed, 600)
    val path = DedupLayers.write(ctx, dedupCorpus)
    DedupLayers.pipeline(spark, spark.read.parquet(path), new Tracer(spark.sparkContext, enabled = false))
    ctx.resetEngineState()
    val (dedup, res) = DedupLayers.layers(ctx, path)
    val dedupErrs = DedupLayers.check(dedupCorpus, res)

    val warm = ctx.work.resolve("drop-warm")
    val drop = ctx.work.resolve("drop")
    val streamCorpus = StreamLayers.corpus(ctx.seed, 2 * StreamLayers.FilesPerTrigger)
    StreamLayers.dropDir(warm, "w", StreamLayers.corpus(ctx.seed ^ 0x5eedL, StreamLayers.FilesPerTrigger))
    StreamLayers.dropDir(drop, "d", streamCorpus)
    StreamLayers.drain(spark, ctx, warm.toString)
    ctx.resetEngineState()
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val (streaming, run) = StreamLayers.layers(ctx, drop.toString, counters)
    spark.sparkContext.removeSparkListener(counters)
    val streamErrs = StreamLayers.check(streamCorpus, run)
    Outcome(1L + streamCorpus.texts.size, (if (dedupErrs.nonEmpty) 1L else 0L) +
      math.min(streamErrs.size.toLong, streamCorpus.texts.size),
      (dedupErrs.take(5) ++ streamErrs.take(5)).map(e => s"traced dedup/stream: $e"),
      Map.empty, dedup ++ streaming)
  }
}
