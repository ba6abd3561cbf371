package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Ingest, Pipelines}
import graft.dedup.Dedup
import graft.embed.DeterministicEmbedder
import graft.operators.Splits
import graft.sources.{BinaryDocs, Tables}
import graft.text.TextAnalysis
import graft.vector.{BlockMatrix, Knn}

/** Scale-critical plan shapes, asserted so they cannot regress
  * silently: the operators' 100 TB claims live or die on these
  * (filter pushdown reaching the scan, top-k planning as
  * TakeOrderedAndProject, similarity joins staying on equi-join
  * machinery rather than degenerating to nested loops).
  */
class PlanShapeSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): String = {
    df.collect() // finalize AQE so the inspected plan is the real one
    df.queryExecution.executedPlan.toString
  }

  test("filtered KNN: level filter is pushed to the parquet scan; top-k never sorts in full") {
    val df = Knn.topK(Pipelines.scoredAtLevel(spark, dir, level = 3), 100, col("vec_id"))
    val plan = executed(df)
    // court_level aliases the parquet `label` column — the pushed
    // filter must reach the scan under the physical name
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(label,3\\).*"),
      s"expected label pushdown in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject (bounded top-k), not a global sort:\n$plan")
  }

  test("flagship plan has no cartesian product; every nested-loop join is a 1-row broadcast") {
    val plan = executed(Pipelines.similarCases(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"cartesian product in flagship:\n$plan")
    // 1-row frames (query vector, win-stats aggregates) legitimately
    // attach as broadcast cross joins; a corpus-sized NLJ would build
    // the streamed side instead
    val nljs = "BroadcastNestedLoopJoin \\w+".r.findAllIn(plan).toSeq
    assert(nljs.forall(_.endsWith("BuildRight")),
      s"nested-loop join building the streamed side: $nljs\n$plan")
  }

  test("SQL-route flagship plans the same scale shape as the Column route") {
    graft.ext.GraftFunctions.register(spark)
    val plan = executed(SparkEntry.queries("flagship_sql")(spark, dir))
    // same invariants as the DataFrame flagship: bounded top-k, no
    // cartesian, nested loops only as 1-row broadcasts — SQL text must
    // not cost the user the plan the Column API gets
    assert(plan.contains("TakeOrderedAndProject"),
      s"SQL flagship lost the bounded top-k:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in SQL flagship:\n$plan")
    val nljs = "BroadcastNestedLoopJoin \\w+".r.findAllIn(plan).toSeq
    assert(nljs.forall(_.endsWith("BuildRight")),
      s"nested-loop join building the streamed side: $nljs\n$plan")
  }

  test("ingest chunks each document in place: one source scan, no join, no broadcast") {
    // the final plan only: an adaptive plan also prints its initial plan
    def finalPlan(df: DataFrame) = executed(df).split("== Initial Plan ==")(0)
    def assertInPlace(plan: String, scan: String): Unit = {
      assert(s"FileScan $scan".r.findAllIn(plan).length == 1,
        s"source scanned more than once:\n$plan")
      assert(!plan.contains("Join") && !plan.contains("BroadcastExchange"),
        s"chunks joined back to their documents:\n$plan")
    }
    val emb = DeterministicEmbedder(dim = 16)
    assertInPlace(finalPlan(Ingest.chunkTable(spark, Tables.documents(spark, dir),
      col("doc_id"), col("text"), pmod(col("doc_id"), lit(10)), emb)), "parquet")

    val pdfs = java.nio.file.Files.createTempDirectory("graft-plan-pdfs")
    (1 to 3).foreach(i => java.nio.file.Files.write(pdfs.resolve(s"d$i.pdf"),
      Array.fill[Byte](300 * i)(i.toByte)))
    val docs = BinaryDocs.scanPdfDir(spark, pdfs.toString).toDF()
    val attrs = Ingest.namedDocumentAttributes(docs, col("file_name"), col("text"), lit(1))
    assertInPlace(finalPlan(Ingest.chunkTableOf(spark, attrs, emb)), "binaryFile")
  }

  test("block-matrix tiles meet through an equi-join, never a nested loop") {
    val emb = Tables.embeddings(spark, dir).where(col("vec_id") < 100)
    val plan = executed(BlockMatrix.cosineTopK(emb, col("vec_id"), col("embedding"),
      k = 3, numBlocks = 4))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"block pairing degenerated to a nested loop:\n$plan")
  }

  test("prefix-filtered jaccard join runs on hash-join machinery only") {
    val docs = Tables.documents(spark, dir).limit(100)
    val plan = executed(
      Dedup.ngramJaccardPairsPrefix(docs, col("doc_id"), col("text"), minJaccard = 0.8))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"similarity join degenerated to an all-pairs stage:\n$plan")
  }

  test("hash split is a pure projection: zero exchanges, zero aggregates") {
    val df = Splits.assignByHash(Tables.documents(spark, dir), col("doc_id"))
      .select("doc_id", "split")
    val plan = executed(df)
    assert(!plan.contains("Exchange") && !plan.contains("HashAggregate"),
      s"hash split should stream at scan speed:\n$plan")
  }

  test("bm25 top-k: one broadcast stats row, ranked via TakeOrderedAndProject") {
    val df = TextAnalysis.bm25(Tables.documents(spark, dir), col("doc_id"),
        col("text"), Seq("hash", "join"))
      .orderBy(col("score").desc, col("id").asc).limit(10)
    val plan = executed(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"bm25 ranking must not global-sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in bm25:\n$plan")
    // the stats row attaches as a 1-row broadcast, never a shuffle join
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-stats join must broadcast, not shuffle:\n$plan")
  }

  test("ivfKnnJoin candidates flow through a cluster equi-join, never a cross product") {
    val corpus = Tables.embeddings(spark, dir)
    val emb = corpus.select(col("vec_id").as("id"), col("embedding"))
    val idx = graft.vector.Ann.buildIvf(corpus, nlist = 4)
    val plan = executed(graft.vector.Ann.ivfKnnJoin(
      emb.where(col("id") < 10), idx, k = 3, nprobe = 2))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"IVF candidate generation degenerated to a cross product:\n$plan")
  }

  test("aggregation is two-phase (map-side partial before the exchange)") {
    // the pre-AQE physical plan shows both phases in one tree (the
    // adaptive form elides finished query-stage subtrees)
    val plan = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag").agg(sum("l_quantity").as("s"))
      .queryExecution.sparkPlan.toString
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs >= 2, s"expected partial+final HashAggregate pair:\n$plan")
  }

  test("curation column passes are shuffle-free narrow maps over the scan") {
    // scrub, repetition, and quantization must stay single-stage:
    // a shuffle in a per-row column op would be pure overhead at 100 TB
    val scrub = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.scrub(col("text")))
    val rep = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.repetitionStats(col("text")))
    val quant = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        graft.vector.Quantize.int8(col("embedding").cast("array<float>")))
    Seq("scrub" -> scrub, "repetition" -> rep, "quantize" -> quant)
      .foreach { case (name, df) =>
        val plan = executed(df)
        assert(!plan.contains("Exchange"),
          s"$name introduced a shuffle:\n$plan")
      }
  }

  test("contamination screen: probe side broadcasts, corpus side never exchanges pre-join") {
    val df = TextAnalysis.contaminationHits(
      Tables.documents(spark, dir), col("doc_id"), col("text"),
      probeIds = Seq(0L, 1L, 2L))
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"probe set must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join defeats the broadcast design:\n$plan")
  }

  test("sliding-window chunking and the C4 passes are shuffle-free narrow maps") {
    val chunks = TextAnalysis.slidingChunks(Tables.documents(spark, dir),
      col("doc_id"), col("text"), window = 64, stride = 48)
    val c4 = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.c4Keep(col("text")).as("keep"),
        TextAnalysis.c4SentenceCount(col("text")).as("ns"))
    Seq("slidingChunks" -> chunks, "c4" -> c4).foreach { case (name, df) =>
      val plan = executed(df)
      assert(!plan.contains("Exchange"), s"$name introduced a shuffle:\n$plan")
    }
  }

  test("substring-dedup apply joins span ARRAYS back per doc — corpus tokens never explode through a shuffle") {
    val df = TextAnalysis.substringDedupApply(Tables.documents(spark, dir),
      col("doc_id"), col("text"), n = 5)
    val plan = executed(df)
    // the detect side must shuffle (gram window + doc window); the
    // apply side must NOT re-explode the corpus. Every Generate in the
    // plan (AQE prints final + initial, so counting is unreliable) must
    // be the detect side's gram explode — recognizable by the
    // array_join(slice(...)) gram constructor in its generator; a
    // token-level explode on the apply side would carry a bare split
    val genLines = plan.split("\n").filter(_.contains("Generate "))
    assert(genLines.nonEmpty && genLines.forall(_.contains("array_join(slice(")),
      s"apply side exploded corpus tokens:\n${genLines.mkString("\n")}")
    assert(!plan.contains("CartesianProduct"), s"span join degenerated:\n$plan")
  }

  test("spans/winnow occurrence counts are two-phase aggregates, never per-key windows") {
    // the r10 shape shuffled every corpus token to its gram's partition
    // via count().over(Window.partitionBy(gram|fp)) — no partial
    // aggregation, one straggler task per boilerplate gram. The count
    // must plan as HashAggregate(partial_count) + equi-join; the only
    // windows left are the per-DOC gaps-and-islands fold
    val spans = executed(graft.dedup.Spans.duplicatedSpans(
      Tables.documents(spark, dir), col("doc_id"), col("text"), minTokens = 8))
    assert(spans.contains("partial_count"),
      s"gram occurrence count must map-side combine:\n$spans")
    assert(!spans.contains("windowspecdefinition(gram"),
      s"per-gram window count is the straggler shape:\n$spans")
    val winnow = executed(graft.dedup.Winnow.winnowPairs(
      Tables.documents(spark, dir), col("doc_id"), col("text"),
      k = 5, w = 4, minScore = 0.5))
    assert(winnow.contains("partial_count"),
      s"fingerprint df-cut must map-side combine:\n$winnow")
    assert(!winnow.contains("windowspecdefinition(fp"),
      s"per-fingerprint window count is the straggler shape:\n$winnow")
    // the clip's winner election deliberately does NOT checkpoint (its
    // two consumers share the exchange via ReusedExchange — the eager-
    // checkpoint variant measured 5x slower), so its partial-aggregated
    // count IS visible in the final plan and assertable, same as the
    // find half above
    val clip = executed(graft.dedup.Spans.clipSpans(
      Tables.documents(spark, dir), col("doc_id"), col("text"), minTokens = 8))
    assert(clip.contains("partial_count"),
      s"winner election must map-side combine:\n$clip")
    assert(!clip.contains("windowspecdefinition(gram"),
      s"per-gram window in the clip path:\n$clip")
    assert(!clip.contains("CartesianProduct"),
      s"clip interval join degenerated:\n$clip")
  }

  test("MMR pool builds via TakeOrderedAndProject; the greedy loop sees one bounded group") {
    val pool = Tables.embeddings(spark, dir)
      .crossJoin(broadcast(Pipelines.queryVector(spark, dir)))
      .select(lit(0L).as("query_id"), col("vec_id").as("doc_id"),
        col("embedding").as("emb"),
        round(graft.vector.Distance.cosine(col("embedding"), col("q_emb")), 4)
          .as("qsim"))
      .orderBy(col("qsim").desc, col("doc_id")).limit(20)
    val plan = executed(graft.search.Mmr.rerank(pool, k = 5, lambda = 0.7))
    assert(plan.contains("TakeOrderedAndProject"),
      s"pool must bound via a top-k heap, not a global sort:\n$plan")
  }

  test("semantic-dedup pairing meets on a cluster equi-join, never a corpus broadcast") {
    val idx = graft.dedup.SemDedup.assignClusters(
      Tables.embeddings(spark, dir).where(col("vec_id") < 100),
      col("vec_id"), col("embedding"), nlist = 4)
    val plan = executed(graft.dedup.SemDedup.semanticPairs(idx, minCosine = 0.35))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"within-cluster pairing degenerated to an all-pairs stage:\n$plan")
  }

  test("domain cap rank-limits map-side (WindowGroupLimit before the exchange)") {
    // a mega-domain must cost its cap, not its size, in shuffle volume
    val df = graft.text.Curation.domainCap(
      Tables.documents(spark, dir).select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("q")),
      col("source"), col("doc_id"), col("q"), maxDocs = 10)
    val plan = executed(df)
    val preShuffle = plan.substring(plan.indexOf("Exchange"))
    assert(preShuffle.contains("WindowGroupLimit"),
      s"expected a map-side WindowGroupLimit below the exchange:\n$plan")
  }

  test("cluster-balanced sampling rank-limits map-side despite an 8-value partition key") {
    // an 8-value cluster key would funnel the corpus through 8 window
    // tasks — UNLESS the rank<=n filter pushes a WindowGroupLimit
    // below the exchange, making each map task emit <= n rows per
    // cluster first. Pin that: it is the op's whole scale story
    val emb = Tables.embeddings(spark, dir)
    val anchors = emb.where(col("vec_id") < 8)
      .select(col("vec_id").cast("int"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)
    val assigned = emb.select(col("vec_id"),
      graft.stats.Drift.embeddingBucket(col("embedding"), anchors)
        .cast("long").as("cluster"))
    val plan = executed(graft.operators.Sampling.sampleNPerGroup(
      assigned, col("cluster"), col("vec_id"), nPer = 10))
    val preShuffle = plan.substring(plan.indexOf("Exchange"))
    assert(preShuffle.contains("WindowGroupLimit"),
      s"expected a map-side WindowGroupLimit below the exchange:\n$plan")
  }

  test("CDC chunking is a shuffle-free narrow map + generator") {
    val plan = executed(graft.text.Cdc.cdcChunks(
      Tables.documents(spark, dir), col("doc_id"), col("text")))
    assert(!plan.contains("Exchange"),
      s"content-defined chunking introduced a shuffle:\n$plan")
    assert(plan.contains("Generate"), s"expected one generator:\n$plan")
  }

  test("LSH triplet candidates meet on the band equi-join, never a nested loop") {
    val emb = Tables.embeddings(spark, dir).where(col("vec_id") < 200)
    val plan = executed(graft.ml.Triplets.mineLsh(emb, col("vec_id"),
      col("embedding"), col("label"), dim = 64, bands = 8, bits = 8))
    assert(!plan.contains("CartesianProduct"),
      s"LSH candidate generation degenerated to a cross product:\n$plan")
  }

  test("HLL registers aggregate in two phases (map-side partial before the exchange)") {
    val toks = Tables.documents(spark, dir)
      .select(col("lang").as("grp"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("key"))
      .where(col("key") =!= "")
    val plan = executed(
      graft.operators.Sketches.hllRegisters(toks, col("grp"), col("key")))
    val firstAgg = plan.indexOf("HashAggregate")
    val exchange = plan.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0,
      s"expected aggregate + exchange in:\n$plan")
    assert(plan.indexOf("HashAggregate", exchange) >= 0 &&
      plan.lastIndexOf("HashAggregate") > exchange,
      s"expected a partial aggregate below the exchange:\n$plan")
  }
}
