package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.{Enrich, Pipelines}
import graft.classify.{Cascades, CaseMetadata, Conclusion}
import graft.dedup.{Components, Dedup, EmbeddingDedup, SemDedup}
import graft.operators.{GapFill, PageRank, Skew, Splits}
import graft.oracle.Sql
import graft.search.{Hybrid, Mmr}
import graft.sources.{BinaryDocs, PdfFixture, Tables}
import graft.stats.WinStats
import graft.text.{Bpe, ChunkPacker, TextAnalysis}
import graft.vector.{Ann, BlockMatrix, Distance, EmbStats, GroupedTopK, Knn, Quantize, VectorKernels}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry pairs a Spark query (lazily built DataFrame over the
  * harness parquet tables) with equivalent DuckDB SQL; the driver
  * hash-compares both at sf0.01. Continuous float outputs are rounded
  * (4dp) on both sides and every ordering carries a unique-id
  * tie-break, so results are deterministic under any partitioning.
  */
object SparkEntry {

  private case class Q(name: String,
                       fn: (SparkSession, String) => DataFrame,
                       oracle: Option[String])

  /** Run a streaming gate body under a small shuffle-partition count:
    * every stateful operator materializes one state store PER shuffle
    * partition PER micro-batch, so a MemoryStream replay pays 32×
    * fixed store/commit/checkpoint cost for row volumes one partition
    * could hold — pure harness overhead at gate scale (a production
    * stream sizes partitions to ITS volume). 8 keeps the operators
    * genuinely parallel while cutting the fixed cost; results are
    * partition-count-independent (the hash gate would catch anything
    * else). The conf is restored before the returned batch frame is
    * executed.
    */
  private def withStreamShuffle[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "8")
    try body finally s.conf.set(key, prev)
  }

  /** Oracle for `pipeline_training_data_v2`: the composed quality →
    * decontam-clip → self-clip → fingerprint-dedup → split pipeline,
    * with the clip stages embedded as nested-WITH CTEs built by the
    * same Spans SQL builders the standalone clip gates use.
    */
  private lazy val pipelineTrainingV2Sql: String = {
    val kept =
      s"""SELECT doc_id, text FROM documents
         |WHERE doc_id >= 10 AND ${TextAnalysis.qualityScoreSql("text")} >= 0.5
         |  AND ${TextAnalysis.nTokensWsSql("text")} BETWEEN 5 AND 2000""".stripMargin
    val c1 = graft.dedup.Spans.clipAgainstSql(
      s"($kept) qk", "doc_id", "text", "TRUE",
      "documents", "text", "doc_id < 10", minTokens = 8)
    val c2 = graft.dedup.Spans.clipSpansSql(
      "(SELECT doc_id, clean_text AS text FROM c1) c1t",
      "doc_id", "text", minTokens = 8)
    val fpExpr = TextAnalysis.fingerprintSql(TextAnalysis.scrubSql("ctext"))
    s"""WITH c1 AS ($c1),
       |c2 AS ($c2),
       |fp AS (
       |  SELECT c1.doc_id, c1.n_removed AS n_removed_bench,
       |    cc.n_removed AS n_removed_self,
       |    $fpExpr AS f
       |  FROM c1 JOIN (SELECT doc_id AS cdoc, clean_text AS ctext, n_removed
       |                FROM c2) cc
       |    ON c1.doc_id = cc.cdoc)
       |SELECT k.doc_id, ${Splits.assignByHashSql("k.doc_id")} AS split,
       |  k.n_removed_bench, k.n_removed_self
       |FROM fp k
       |JOIN (SELECT f, min(doc_id) AS kdoc FROM fp GROUP BY 1) g
       |  ON k.f = g.f AND k.doc_id = g.kdoc
       |ORDER BY k.doc_id""".stripMargin
  }

  /** Oracle for the `serving_restart` composed gate: the three serve
    * answers (brute-force KNN, BM25 join, MaxSim) over the raw tables,
    * union-aligned on (route, qid, id, score, rank).
    */
  private lazy val servingRestartSql: String = {
    val knn =
      s"""SELECT left_id, right_id, score, CAST(rn AS INTEGER) AS rank FROM (
         | SELECT l.vec_id AS left_id, r.vec_id AS right_id,
         |  ${Sql.l2("l.embedding", "r.embedding")} AS score,
         |  row_number() OVER (PARTITION BY l.vec_id
         |    ORDER BY ${Sql.l2("l.embedding", "r.embedding")}, r.vec_id) AS rn
         | FROM (SELECT * FROM embeddings WHERE vec_id < 3) l, embeddings r)
         |WHERE rn <= 3""".stripMargin
    val bm = TextAnalysis.bm25JoinSql("documents", "doc_id", "text",
      Seq((1L, "hash"), (1L, "join"), (2L, "vector"), (2L, "scan")), k = 5)
    val msim = graft.search.MaxSim.maxSimSql(nQueries = 2, k = 5)
    s"""SELECT 'knn' AS route, left_id AS qid, right_id AS id, score, rank
       |FROM ($knn)
       |UNION ALL
       |SELECT 'bm25' AS route, query_id AS qid, id, score, rank
       |FROM ($bm)
       |UNION ALL
       |SELECT 'maxsim' AS route, query_id AS qid, doc_id AS id, score, rank
       |FROM ($msim)
       |ORDER BY route, qid, rank""".stripMargin
  }

  /** Oracle for `q_psi_emb_drift`: nearest-anchor assignment (anchors =
    * the first 8 corpus vectors) replayed per side, then the PSI fold.
    */
  private lazy val psiEmbDriftOracle: String = {
    def side(parity: Int): String = graft.stats.Drift.embeddingBucketSql(
      s"SELECT vec_id AS oid, embedding AS e FROM embeddings WHERE vec_id % 2 = $parity",
      anchorsSql)
    graft.stats.Drift.psiByGroupSql(side(0), side(1), "metric") +
      " ORDER BY metric"
  }

  /** Oracle for `streaming_maxsim_maintained`: the exact MaxSim answer
    * per phase — 'a' over the half corpus the maintenance stream had
    * ingested before the refresh, 'b' over the full corpus after it.
    */
  private lazy val maxsimMaintainedOracle: String = {
    val a = graft.search.MaxSim.maxSimSql(nQueries = 2, k = 5,
      docWhere = "vec_id < 250")
    val b = graft.search.MaxSim.maxSimSql(nQueries = 2, k = 5)
    s"SELECT 'a' AS phase, * FROM ($a)\n" +
      s"UNION ALL\nSELECT 'b' AS phase, * FROM ($b)\n" +
      "ORDER BY phase, query_id, rank"
  }

  /** The shared anchor set of the embedding-cluster gates (the first 8
    * corpus vectors, id-sorted) — one definition so q_psi_emb_drift,
    * streaming_psi_emb_drift, and q_sample_cluster_balanced replay the
    * SAME assignment their oracles do.
    */
  private def anchorVecs(emb: DataFrame): Seq[(Int, Seq[Float])] =
    emb.where(col("vec_id") < 8)
      .select(col("vec_id").cast("int"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq
      .sortBy(_._1)

  /** [[anchorVecs]]' SQL twin: the `(cid, cemb)` anchor subquery. */
  private val anchorsSql =
    "SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 8"

  /** Oracle for `q_sample_cluster_balanced`: the shared
    * [[graft.stats.Drift.assignSql]] assignment contract, then the
    * house sha256 per-group rank.
    */
  private lazy val clusterBalancedOracle: String = {
    val assign = graft.stats.Drift.assignSql(
      "SELECT vec_id AS oid, embedding AS e FROM embeddings", anchorsSql)
    "WITH assign AS (\n" +
      s"SELECT oid AS vec_id, cid AS cluster FROM ($assign))\n" +
      "SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM (\n" +
      "  SELECT vec_id, cluster, row_number() OVER (PARTITION BY cluster\n" +
      s"    ORDER BY ${graft.operators.Sampling.hashKeySql("vec_id", "graft")}," +
      " vec_id) AS rn\n" +
      "  FROM assign) WHERE rn <= 10 ORDER BY cluster, vec_id"
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Pipelines.similarCases(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- //
  // Vector query path (reference V1–V6, A1–A3)                       //
  // ---------------------------------------------------------------- //

  private val vectorSpecs: Seq[Q] = Seq(
    // V1–V3: filtered KNN, top-100 candidate pool
    // (/root/reference/extract_and_search_v2.py:134-140)
    Q("v1_knn_filtered",
      (s, dir) => Knn.topK(Pipelines.scoredAtLevel(s, dir, level = 3), 100, col("vec_id")),
      Some(s"""SELECT * FROM (${Sql.scoredAtLevel(3)})
              |ORDER BY score, vec_id LIMIT 100""".stripMargin)),

    // V4: best hit per document (extract_and_search_v2.py:143-156)
    Q("v4_group_dedup",
      (s, dir) => Knn.bestPerGroup(Pipelines.scoredAtLevel(s, dir, level = 3),
          col("file_id"), col("vec_id"))
        .select("file_id", "vec_id", "case_decision", "score")
        .orderBy("file_id"),
      Some(s"${Sql.dedupAtLevel(3)} ORDER BY file_id")),

    // V5: final ascending top-5 (extract_and_search_v2.py:159)
    Q("v5_top5_similar",
      (s, dir) => Knn.topK(
          Knn.bestPerGroup(Pipelines.scoredAtLevel(s, dir, level = 3),
            col("file_id"), col("vec_id")), 5, col("file_id"))
        .select("file_id", "vec_id", "case_decision", "score"),
      Some(Sql.top5AtLevel(3))),

    // A1–A3: appellant win statistics over the top-5
    // (extract_and_search_v2.py:162-168)
    Q("a_win_stats",
      (s, dir) => WinStats.over(
        Knn.topK(
          Knn.bestPerGroup(Pipelines.scoredAtLevel(s, dir, level = 3),
            col("file_id"), col("vec_id")), 5, col("file_id")),
        col("case_decision")),
      Some(Sql.winStats(Sql.top5AtLevel(3)))),

    // §3.1 flagship: top-5 rows + stats columns (README.md:17-64 shape)
    Q("flagship_similar_cases",
      (s, dir) => Pipelines.similarCases(s, dir),
      Some(s"""SELECT t.file_id, t.vec_id, t.case_decision, t.score,
              | s.win_count, s.total_valid_decisions, s.win_percentage,
              | s.invalid_decisions, s.result_count
              |FROM (${Sql.top5AtLevel(3)}) t, (${Sql.winStats(Sql.top5AtLevel(3))}) s
              |ORDER BY t.score, t.file_id""".stripMargin)),

    // The SAME flagship, driven entirely through spark.sql — the SQL
    // analog of the reference's HTTP surface: registered graft kernels
    // (graft_l2 is the codegen L2 expression the Column route uses) +
    // one temp view, zero Column-API calls in the query itself. Gated
    // against the flagship oracle, so SQL-route == DataFrame-route ==
    // DuckDB, row for row.
    Q("flagship_sql",
      (s, dir) => {
        graft.ext.GraftFunctions.register(s)
        Tables.embeddings(s, dir).createOrReplaceTempView("g_embeddings")
        s.sql("""
          WITH corpus AS (
            SELECT vec_id, embedding, vec_id % 100 AS file_id,
              label AS court_level,
              CASE WHEN vec_id % 100 % 3 = 0 THEN 'appellant_won'
                   WHEN vec_id % 100 % 3 = 1 THEN 'appellant_lost'
                   ELSE 'invalid' END AS case_decision
            FROM g_embeddings),
          qv AS (SELECT embedding AS q_emb FROM g_embeddings WHERE vec_id = 0),
          scored AS (
            SELECT vec_id, file_id, case_decision,
              round(graft_l2(embedding, q_emb), 4) AS score
            FROM corpus CROSS JOIN qv
            WHERE court_level = 3),
          best AS (
            SELECT vec_id, file_id, case_decision, score FROM (
              SELECT *, row_number() OVER (
                PARTITION BY file_id ORDER BY score ASC, vec_id ASC) AS rn
              FROM scored) WHERE rn = 1),
          top5 AS (
            SELECT file_id, vec_id, case_decision, score
            FROM best ORDER BY score ASC, file_id ASC LIMIT 5),
          stats AS (
            SELECT win_count, total_valid_decisions,
              CASE WHEN total_valid_decisions > 0
                THEN round(win_count * 100.0D / total_valid_decisions, 2)
                ELSE 0.0D END AS win_percentage,
              result_count - total_valid_decisions AS invalid_decisions,
              result_count
            FROM (SELECT
                sum(CASE WHEN case_decision = 'appellant_won' THEN 1L ELSE 0L END) AS win_count,
                sum(CASE WHEN case_decision IN ('appellant_won', 'appellant_lost') THEN 1L ELSE 0L END) AS total_valid_decisions,
                count(1) AS result_count
              FROM top5))
          SELECT t.file_id, t.vec_id, t.case_decision, t.score,
            s.win_count, s.total_valid_decisions, s.win_percentage,
            s.invalid_decisions, s.result_count
          FROM top5 t CROSS JOIN stats s""")
      },
      Some(s"""SELECT t.file_id, t.vec_id, t.case_decision, t.score,
              | s.win_count, s.total_valid_decisions, s.win_percentage,
              | s.invalid_decisions, s.result_count
              |FROM (${Sql.top5AtLevel(3)}) t, (${Sql.winStats(Sql.top5AtLevel(3))}) s
              |ORDER BY t.score, t.file_id""".stripMargin)),

    // The flagship pipeline re-run END-TO-END from PDF BYTES: generated
    // twin PDFs (sources/PdfFixture) → S1 page-tree/Flate extraction →
    // F1 paragraph split + F2 greedy pack → C1 decision cascade → F4
    // deterministic embeddings → KNN (each file's nearest neighbor is
    // its content twin at cosine exactly 1.0 — identical text, identical
    // hash vectors) → A1-A3 win stats. The oracle replays everything
    // downstream of extraction from the parquet the fixture writes, so
    // a drift anywhere in extract→chunk→classify→search→aggregate
    // breaks the hash — closing S1's spec-only seam.
    Q("flagship_from_pdfs",
      (s, dir) => {
        val pdfDir = PdfFixture.ensure(s)
        val docs = BinaryDocs.scanPdfDir(s, pdfDir).toDF()
        val emb = graft.embed.DeterministicEmbedder(dim = 16)
        val scored = docs.select(col("file_name"), col("file_id"),
          col("text"), Cascades.decision(col("text")).as("case_decision"),
          emb.embed(col("text")).as("__v"))
        val w = Window.partitionBy(col("file_name"))
          .orderBy(col("top_score").desc, col("cand").asc)
        val top1 = scored.as("l")
          .join(scored.as("r"), col("l.file_name") =!= col("r.file_name"))
          .select(col("l.file_name").as("file_name"),
            col("r.file_name").as("cand"),
            round(VectorKernels.cosine(col("l.__v"), col("r.__v")), 4)
              .as("top_score"))
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1)
          .select(col("file_name"), col("cand").as("top_match"),
            col("top_score"))
        val stats = WinStats.over(scored, col("case_decision"))
        scored.select(col("file_name"), col("file_id"), col("case_decision"),
            size(ChunkPacker.chunks(col("text"), PdfFixture.MaxWords))
              .cast("long").as("n_chunks"))
          .join(top1, "file_name")
          .crossJoin(broadcast(stats))
          .orderBy("file_name")
      },
      Some {
        val ws = "' ' || chr(10) || chr(9) || chr(13)"
        val decRel = s"SELECT ${Cascades.decisionSql("text")} AS case_decision " +
          s"FROM '${PdfFixture.ExtractedParquet}/*.parquet'"
        s"""WITH pdocs AS (
           |  SELECT file_name, file_id, text
           |  FROM '${PdfFixture.ExtractedParquet}/*.parquet'
           |), paras AS (
           |  SELECT file_name,
           |    trim(string_split(text, chr(10) || chr(10))[1], $ws) AS p1,
           |    trim(string_split(text, chr(10) || chr(10))[2], $ws) AS p2
           |  FROM pdocs
           |), chunks AS (
           |  -- the F2 greedy fold on two sub-budget paragraphs: one
           |  -- chunk if they merge under the glued-word count (the
           |  -- reference concatenates without a separator), else two
           |  SELECT file_name,
           |    CAST(CASE WHEN len(regexp_extract_all(p1 || p2, '\\S+'))
           |      < ${PdfFixture.MaxWords} THEN 1 ELSE 2 END AS BIGINT) AS n_chunks
           |  FROM paras
           |), dec AS (
           |  SELECT file_name, file_id,
           |    ${Cascades.decisionSql("text")} AS case_decision
           |  FROM pdocs
           |), twin AS (
           |  SELECT a.file_name, min(b.file_name) AS top_match,
           |    CAST(1.0 AS DOUBLE) AS top_score
           |  FROM pdocs a JOIN pdocs b
           |    ON b.text = a.text AND b.file_name <> a.file_name
           |  GROUP BY 1
           |)
           |SELECT d.file_name, d.file_id, d.case_decision, c.n_chunks,
           |  t.top_match, t.top_score,
           |  s.win_count, s.total_valid_decisions, s.win_percentage,
           |  s.invalid_decisions, s.result_count
           |FROM dec d
           |JOIN chunks c USING (file_name)
           |JOIN twin t USING (file_name), (${Sql.winStats(decRel)}) s
           |ORDER BY d.file_name""".stripMargin
      }),

    // The reference's TWO SERVICES as ONE CONTINUOUS PIPELINE: PDFs
    // dropped into a tailed directory in three waves → binaryFile
    // stream → extract (incl. the Type0 CMap page) → chunk-count →
    // classify → embed, appended to the corpus parquet under
    // exactly-once checkpoints — then a STREAM of queries answered by
    // StreamingSearch.knnPerQuery against the post-append corpus
    // (bounded per-query state, append-mode windows). Oracle = the
    // batch flagship over the same files; the twin's L2 distance is
    // exactly 0.0 (identical text → identical hash embedding), so a
    // drift anywhere in the streamed ingest OR the streamed search
    // breaks the hash.
    Q("streaming_flagship",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val pdfDir = PdfFixture.ensure(s)
        val tmp = graft.TempDirs.create("streaming-flagship").toString
        val dropDir = s"$tmp/drop"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dropDir))
        val corpusDir = s"$tmp/corpus"
        val emb = graft.embed.DeterministicEmbedder(dim = 16)
        // phase 1 — streamed ingest service
        val stream = graft.streaming.StreamingIngest.pdfStream(s, dropDir)
        val ingested = stream
          .select(col("file_name"), col("file_id"), col("text"))
          .as[(String, String, String)]
          .map { case (name, id, text) =>
            (name, id, text, graft.text.ChunkPacker
              .chunkText(text, PdfFixture.MaxWords).length.toLong)
          }
          .toDF("file_name", "file_id", "text", "n_chunks")
          .select(col("file_name"), col("file_id"), col("n_chunks"),
            Cascades.decision(col("text")).as("case_decision"),
            emb.embed(col("text")).as("embedding"))
        val ingestQ = ingested.writeStream.format("parquet")
          .option("path", corpusDir)
          .option("checkpointLocation", s"$tmp/ckpt_ingest")
          .start()
        try {
          val files = java.nio.file.Files.list(
              java.nio.file.Paths.get(pdfDir)).toArray.map(_.toString)
            .filter(_.endsWith(".pdf")).sorted
          files.grouped(4).foreach { wave =>
            wave.foreach { f =>
              val p = java.nio.file.Paths.get(f)
              java.nio.file.Files.copy(p, java.nio.file.Paths.get(dropDir,
                p.getFileName.toString))
            }
            ingestQ.processAllAvailable()
          }
        } finally ingestQ.stop()
        // phase 2 — streamed search service over the appended corpus
        val corpus = s.read.parquet(corpusDir)
        val ided = corpus.select(xxhash64(col("file_name")).as("id"),
          col("file_name"), col("embedding"))
        val t0 = 1700000000000L
        val qRows = ided.select(col("id"), col("embedding")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1),
            new java.sql.Timestamp(t0))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
        ms.addData(qRows)
        val out = graft.streaming.StreamingSearch.knnPerQuery(
          ms.toDS().toDF("query_id", "q_emb", "ts"),
          ided.select(col("id"), col("embedding")), k = 2)
        val qName = "graft_streaming_flagship"
        val searchQ = out.writeStream.format("memory").queryName(qName)
          .outputMode("append").start()
        try {
          searchQ.processAllAvailable()
          ms.addData(Seq((Long.MinValue, qRows.head._2,
            new java.sql.Timestamp(t0 + 3600000L))))
          searchQ.processAllAvailable()
        } finally searchQ.stop()
        // k=2 keeps self (L2 0, rank by id) + twin (also L2 0) — after
        // dropping self, exactly the twin remains per query
        val names = ided.select(col("id"), col("file_name")).distinct()
        val top1 = s.table(qName)
          .where(col("query_id") =!= Long.MinValue &&
            col("query_id") =!= col("corpus_id"))
          .select(col("query_id"), col("corpus_id"),
            col("score").as("top_score"))
          .join(names.select(col("id"), col("file_name").as("top_match")),
            col("corpus_id") === col("id"))
          .join(names.select(col("id").as("qid"), col("file_name")),
            col("query_id") === col("qid"))
          .select(col("file_name"), col("top_match"), col("top_score"))
        val stats = WinStats.over(corpus, col("case_decision"))
        corpus.select("file_name", "file_id", "case_decision", "n_chunks")
          .join(top1, "file_name")
          .crossJoin(broadcast(stats))
          .orderBy("file_name")
      },
      Some {
        val ws = "' ' || chr(10) || chr(9) || chr(13)"
        val decRel = s"SELECT ${Cascades.decisionSql("text")} AS case_decision " +
          s"FROM '${PdfFixture.ExtractedParquet}/*.parquet'"
        s"""WITH pdocs AS (
           |  SELECT file_name, file_id, text
           |  FROM '${PdfFixture.ExtractedParquet}/*.parquet'
           |), paras AS (
           |  SELECT file_name,
           |    trim(string_split(text, chr(10) || chr(10))[1], $ws) AS p1,
           |    trim(string_split(text, chr(10) || chr(10))[2], $ws) AS p2
           |  FROM pdocs
           |), chunks AS (
           |  SELECT file_name,
           |    CAST(CASE WHEN len(regexp_extract_all(p1 || p2, '\\S+'))
           |      < ${PdfFixture.MaxWords} THEN 1 ELSE 2 END AS BIGINT) AS n_chunks
           |  FROM paras
           |), dec AS (
           |  SELECT file_name, file_id,
           |    ${Cascades.decisionSql("text")} AS case_decision
           |  FROM pdocs
           |), twin AS (
           |  -- identical text → identical deterministic embedding →
           |  -- the served L2 twin distance is exactly 0.0
           |  SELECT a.file_name, min(b.file_name) AS top_match,
           |    CAST(0.0 AS DOUBLE) AS top_score
           |  FROM pdocs a JOIN pdocs b
           |    ON b.text = a.text AND b.file_name <> a.file_name
           |  GROUP BY 1
           |)
           |SELECT d.file_name, d.file_id, d.case_decision, c.n_chunks,
           |  t.top_match, t.top_score,
           |  s.win_count, s.total_valid_decisions, s.win_percentage,
           |  s.invalid_decisions, s.result_count
           |FROM dec d
           |JOIN chunks c USING (file_name)
           |JOIN twin t USING (file_name), (${Sql.winStats(decRel)}) s
           |ORDER BY d.file_name""".stripMargin
      }),

    // F5: representative embedding = first chunk per group
    // (extract_and_search.py:73-91); rep_norm proves the vector rode along
    Q("f5_repr_embedding",
      (s, dir) => Tables.embeddings(s, dir)
        .groupBy(col("label").as("court_level"))
        .agg(min(col("vec_id")).as("rep_vec_id"),
             round(Distance.norm(min_by(col("embedding"), col("vec_id"))), 4)
               .as("rep_norm"))
        .orderBy("court_level"),
      Some(s"""SELECT label AS court_level, min(vec_id) AS rep_vec_id,
              | ${Sql.norm("arg_min(embedding, vec_id)")} AS rep_norm
              |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin)),

    // F6: court-level increment (extract_and_search_v2.py:313)
    Q("f6_court_level_inc",
      (s, dir) => Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").as("court_level"),
          (col("label") + 1).as("target_court_level"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id, label AS court_level, label + 1 AS target_court_level
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // F3: document key hash (extract_and_embed_v2.py:348)
    Q("f3_file_id_sha256",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(lit("doc_"), col("doc_id").cast("string"), lit(".pdf")).as("file_name"))
        .withColumn("file_id", sha2(col("file_name"), 256))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, 'doc_' || CAST(doc_id AS VARCHAR) || '.pdf' AS file_name,
             | sha256('doc_' || CAST(doc_id AS VARCHAR) || '.pdf') AS file_id
             |FROM documents ORDER BY doc_id""".stripMargin)),
  )

  // ---------------------------------------------------------------- //
  // Relational / events extensions (SURVEY §2.7 — joins, windows,    //
  // sessionization, JSON extraction; bench headliners at sf0.1)      //
  // ---------------------------------------------------------------- //

  private val relationalSpecs: Seq[Q] = Seq(
    Q("q1_lineitem_agg",
      (s, dir) => Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             | sum(l_quantity) AS sum_qty,
             | round(sum(l_extendedprice), 2) AS sum_base_price,
             | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
             | round(avg(l_quantity), 4) AS avg_qty,
             | round(avg(l_discount), 4) AS avg_disc,
             | count(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Q3-style 3-way join; customer is broadcast-small, orders/lineitem
    // shuffle on the join keys — the shape that matters at 100 TB.
    Q("q3_top_revenue_orders",
      (s, dir) => {
        val cust = Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
        val ord  = Tables.orders(s, dir)
          .where(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        val li   = Tables.lineitem(s, dir)
          .where(col("l_shipdate") > lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
             | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // Window: top-3 orders per customer by price (deterministic ties).
    Q("q_window_top_orders",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(w).as("rn"))
          .where(col("rn") <= 3)
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
             | CAST(row_number() OVER (PARTITION BY o_custkey
             |   ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
             |FROM orders QUALIFY rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // Sessionization (30-min inactivity gap) — the batch analog of the
    // streaming file-drop/session extension; lag + conditional sum.
    // `ts` arrives as epoch-nanos long (nanosAsLong); 30 min = 1.8e12 ns.
    Q("q_events_sessionize",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
            (col("ts") - lag(col("ts"), 1).over(w)).as("gap_ns"))
          .select(col("user_id"), col("event_id"),
            when(col("gap_ns").isNull || col("gap_ns") > 1800000000000L, 1L)
              .otherwise(0L).as("new_session"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
               sum(col("new_session")).as("n_sessions"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
             | CAST(sum(new_session) AS BIGINT) AS n_sessions
             |FROM (
             | SELECT user_id,
             |  CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts), 1) OVER
             |    (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
             |   WHEN epoch_ns(ts) - lag(epoch_ns(ts), 1) OVER
             |    (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000000 THEN 1
             |   ELSE 0 END AS new_session
             | FROM events)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The same sessionization through Spark's NATIVE session_window
    // operator (MergingSessions aggregation — no per-user window sort
    // dragging every event through one task per user; sessions merge
    // inside the aggregate). Emits one row per session with its
    // merged bounds; end = last event + gap by definition. The oracle
    // reconstructs identical sessions with the lag/cumsum rewrite.
    Q("q_session_window",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("tsc"))
        ev.groupBy(col("user_id"), session_window(col("tsc"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_micros(col("w.start")).as("session_start_us"),
            unix_micros(col("w.end")).as("session_end_us"),
            col("n_events"))
          .orderBy("user_id", "session_start_us")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
             |flg AS (
             |  SELECT user_id, us,
             |    CASE WHEN lag(us) OVER w IS NULL THEN 1
             |         WHEN us - lag(us) OVER w >= 1800000000 THEN 1
             |         ELSE 0 END AS new_s
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
             |sess AS (
             |  SELECT user_id, us,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM flg)
             |SELECT user_id, min(us) AS session_start_us,
             |  max(us) + 1800000000 AS session_end_us,
             |  CAST(count(*) AS BIGINT) AS n_events
             |FROM sess GROUP BY user_id, sid
             |ORDER BY user_id, session_start_us""".stripMargin)),

    // Pure non-equi temporal range join via the binned rewrite (bin
    // equi-key + residual filter — no nested loop): clicks within
    // ±5 min of each purchase, across all users
    Q("q_events_range_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val p = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
        val c = ev.where(col("event_type") === "click")
          .select(col("ts").as("c_ts"), col("value").as("c_value"))
        graft.operators.RangeJoin.bandJoin(p, c, "p_ts", "c_ts",
            radius = 300000000000L) // 5 min in nanos
          .groupBy("p_id")
          .agg(count(lit(1)).as("n_clicks"),
            round(sum(col("c_value")), 2).as("click_value"))
          .orderBy("p_id")
      },
      Some("""SELECT p.event_id AS p_id, count(*) AS n_clicks,
             | round(sum(c.value), 2) AS click_value
             |FROM (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
             |JOIN (SELECT ts, value FROM events WHERE event_type = 'click') c
             |  ON abs(epoch_ns(p.ts) - epoch_ns(c.ts)) <= 300000000000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // As-of join: each purchase matched to the user's latest prior (or
    // same-instant) view — union + carry-forward window, one shuffle
    Q("q_events_asof_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val views = ev.where(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("value").as("view_value"))
        graft.operators.AsOfJoin.asOf(purchases, views, "user_id", "ts",
          Seq("view_value"))
          .select(col("event_id"), col("user_id"), col("value"), col("view_value"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id, p.value, v.value AS view_value
             |FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') v
             |  ON p.user_id = v.user_id AND v.ts <= p.ts
             |ORDER BY event_id""".stripMargin)),

    // Exact epoch time-bucket aggregation (10-minute buckets in pure
    // integer nanos arithmetic — engine-alignment-free)
    Q("q_events_time_buckets",
      (s, dir) => Tables.events(s, dir)
        // floor-div (pmod-adjusted), not `div`: `div` truncates toward
        // zero while the DuckDB twin's `//` floors — they disagree on
        // pre-1970 (negative epoch-nanos) timestamps
        .select(expr("(ts - pmod(ts, 600000000000)) div 600000000000")
          .as("bucket"), col("event_type"))
        .groupBy("bucket", "event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket", "event_type"),
      Some("""SELECT epoch_ns(ts) // 600000000000 AS bucket, event_type, count(*) AS n
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // The SAME 10-minute bucketing through Structured Streaming: the
    // events table replays through a MemoryStream into the watermarked
    // windowed aggregation (streaming/StreamingIngest
    // .windowedEventCounts), run to completion in complete mode.
    // Tumbling windows align to the epoch and the fixture timestamps
    // are µs-aligned (timestamp_micros is lossless on them), so
    // window.start // 600s IS q_events_time_buckets' bucket — the
    // first streaming route under the DuckDB hash gate, not just
    // MemoryStream-vs-batch spec equality.
    Q("streaming_events_time_buckets",
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val rows = Tables.events(s, dir)
          .select(col("ts"), col("event_type"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        ms.addData(rows)
        val streamed = graft.streaming.StreamingIngest.windowedEventCounts(
          ms.toDS().toDF("ts_ns", "event_type"),
          timestamp_micros(expr("ts_ns div 1000")), col("event_type"))
        val qName = "graft_streaming_time_buckets"
        val q = streamed.writeStream.format("memory").queryName(qName)
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
        s.table(qName)
          .select(expr("unix_timestamp(window.start) div 600").as("bucket"),
            col("event_type"), col("count").as("n"))
          .orderBy("bucket", "event_type")
      },
      Some("""SELECT epoch_ns(ts) // 600000000000 AS bucket, event_type, count(*) AS n
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Streaming first-arrival dedup under the oracle: documents replay
    // through a MemoryStream into dropDuplicatesWithinWatermark. WHICH
    // row of a duplicate group survives depends on micro-batch arrival
    // order, so the declared surface is the route's DETERMINISTIC
    // half: the kept fingerprint set (exactly one survivor per
    // distinct normalized content, with the group's doc count) — which
    // the oracle replays as a plain GROUP BY. StreamingDedupSpec pins
    // the in-horizon ordering semantics the hash can't.
    Q("streaming_dedup_first",
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val rows = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1),
            new java.sql.Timestamp(1700000000000L + r.getLong(0)))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String, java.sql.Timestamp)]
        ms.addData(rows)
        val kept = graft.streaming.StreamingDedup.firstArrivals(
          ms.toDS().toDF("doc_id", "text", "ts"), "text")
        val qName = "graft_streaming_dedup_first"
        val q = kept.writeStream.format("memory").queryName(qName)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        val groupSizes = Tables.documents(s, dir)
          .groupBy(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
          .agg(count(lit(1)).as("n_docs"))
        s.table(qName).select(col("fingerprint")).distinct()
          .join(groupSizes, "fingerprint")
          .orderBy("fingerprint")
      },
      Some(s"""SELECT ${TextAnalysis.fingerprintSql("text")} AS fingerprint,
              | count(*) AS n_docs
              |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Gap-sessionization through the streaming state machine
    // (streaming/Sessions.sessionize, flatMapGroupsWithState +
    // event-time timeout) under the DuckDB hash gate: the events table
    // replays through a MemoryStream, a far-future sentinel event
    // advances the watermark past every open session's timeout, and
    // the emitted (user, start, end, n_events) boundaries must equal
    // the batch lag/cumsum sessionizer's. Timestamps at ms precision —
    // the state machine keeps epoch-millis (java.sql.Timestamp), so
    // the oracle buckets the same way. total_value is NOT declared
    // (float sum order varies with merge order); SessionsSpec pins it.
    // Replay is bounded to the deterministic `user_id % 3 == 0` slice
    // (oracle filtered identically): the gate's cost is the
    // single-stream MemoryStream replay, and a third of the users
    // exercises exactly the same state-machine paths (open, extend,
    // timeout-sweep) at a third of the harness wall.
    Q("streaming_sessions",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val rows = Tables.events(s, dir)
          .where(pmod(col("user_id"), lit(3)) === 0)
          .select(col("user_id"), col("ts"))
          .collect().map(r => (r.getLong(0),
            new java.sql.Timestamp(r.getLong(1) / 1000000L), 0.0)).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, java.sql.Timestamp, Double)]
        ms.addData(rows)
        val out = graft.streaming.Sessions.sessionize(
          ms.toDS().toDF("user_id", "ts", "value"), gapMinutes = 30)
        val qName = "graft_streaming_sessions"
        val q = out.writeStream.format("memory").queryName(qName)
          .outputMode("append").start()
        try {
          q.processAllAvailable()
          // sentinel (user -1) a day past the corpus max: watermark
          // passes every open session's (last + gap) timeout...
          val maxMs = rows.iterator.map(_._2.getTime).max
          ms.addData(Seq((-1L, new java.sql.Timestamp(maxMs + 86400000L), 0.0)))
          q.processAllAvailable()
          // ...and the timeout sweep fires on the NEXT trigger
          ms.addData(Seq.empty[(Long, java.sql.Timestamp, Double)])
          q.processAllAvailable()
        } finally q.stop()
        s.table(qName).where(col("user_id") >= 0)
          .select(col("user_id"),
            unix_millis(col("session_start")).as("session_start_ms"),
            unix_millis(col("session_end")).as("session_end_ms"),
            col("n_events"))
          .orderBy("user_id", "session_start_ms")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_ns(ts) // 1000000 AS ms FROM events
             |  WHERE user_id % 3 = 0),
             |flg AS (
             |  SELECT user_id, ms,
             |    CASE WHEN lag(ms) OVER w IS NULL THEN 1
             |         WHEN ms - lag(ms) OVER w > 1800000 THEN 1
             |         ELSE 0 END AS new_s
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
             |sess AS (
             |  SELECT user_id, ms,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ms
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM flg)
             |SELECT user_id, min(ms) AS session_start_ms,
             |  max(ms) AS session_end_ms, CAST(count(*) AS BIGINT) AS n_events
             |FROM sess GROUP BY user_id, sid
             |ORDER BY user_id, session_start_ms""".stripMargin)),

    // Watermarked STREAM-STREAM join under the hash gate: views and
    // purchases replay on separate MemoryStreams through
    // Sessions.attributedPurchases (each purchase joined to every view
    // by the same user in the preceding 30 min; both sides
    // watermarked so the join buffers purge). Inner joins emit
    // eagerly, so no sentinel flush is needed — the oracle is the
    // plain interval join at the same ms precision. Replay bounded to
    // the deterministic `user_id % 3 == 0` slice (oracle filtered
    // identically) — same operator, same buffer/purge paths, a third
    // of the single-streamed harness wall.
    Q("streaming_join_attributed",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        def rowsOf(t: String) = Tables.events(s, dir)
          .where(col("event_type") === t &&
            pmod(col("user_id"), lit(3)) === 0)
          .select(col("user_id"), col("ts"), coalesce(col("value"), lit(0.0)))
          .collect().map(r => (r.getLong(0),
            new java.sql.Timestamp(r.getLong(1) / 1000000L),
            r.getDouble(2))).toSeq
        val vs = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, java.sql.Timestamp, Double)]
        val ps = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, java.sql.Timestamp, Double)]
        vs.addData(rowsOf("view"))
        ps.addData(rowsOf("purchase"))
        val out = graft.streaming.Sessions.attributedPurchases(
          vs.toDS().toDF("user_id", "ts", "value"),
          ps.toDS().toDF("user_id", "ts", "value"), windowMinutes = 30)
        val qName = "graft_streaming_join_attr"
        val q = out.writeStream.format("memory").queryName(qName)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        s.table(qName)
          .select(col("user_id"),
            unix_millis(col("v_ts")).as("v_ts_ms"),
            unix_millis(col("p_ts")).as("p_ts_ms"),
            col("view_value"), col("purchase_value"))
          .orderBy("user_id", "v_ts_ms", "p_ts_ms", "view_value",
            "purchase_value")
      },
      Some("""SELECT v.user_id,
             |  epoch_ns(v.ts) // 1000000 AS v_ts_ms,
             |  epoch_ns(p.ts) // 1000000 AS p_ts_ms,
             |  coalesce(v.value, 0) AS view_value,
             |  coalesce(p.value, 0) AS purchase_value
             |FROM (SELECT * FROM events
             |      WHERE event_type = 'view' AND user_id % 3 = 0) v
             |JOIN (SELECT * FROM events
             |      WHERE event_type = 'purchase' AND user_id % 3 = 0) p
             |  ON v.user_id = p.user_id
             | AND epoch_ns(p.ts) // 1000000 >= epoch_ns(v.ts) // 1000000
             | AND epoch_ns(p.ts) // 1000000 <= epoch_ns(v.ts) // 1000000 + 1800000
             |ORDER BY 1, 2, 3, 4, 5""".stripMargin)),

    // Gap-fill / resample: densify hourly per-type buckets to each
    // type's full span — zero-filled counts, forward-filled max. Grid
    // rows ∝ span, window sort span-bounded (operators/GapFill)
    // Ordered funnel view → click → purchase: per user, each stage's
    // first completion STRICTLY AFTER the previous one — one filtered
    // aggregate + equi-join per stage, no windows, greedy-min optimal
    Q("q_events_funnel",
      (s, dir) => graft.operators.Funnel.stages(Tables.events(s, dir),
          col("user_id"), col("ts"), col("event_type"),
          Seq("view", "click", "purchase"))
        .orderBy("entity"),
      Some(graft.operators.Funnel.stagesSql(
        "SELECT user_id AS entity, epoch_ns(ts) AS ts, event_type AS et FROM events",
        Seq("view", "click", "purchase")) + " ORDER BY entity")),

    // Time-boxed funnel: the same view → click → purchase chain but
    // each stage must also land within 2 h of the user's first view —
    // the conversion-window form. Same aggregate+join shape (one
    // filtered min per stage, no windows), horizon in exact nanos
    Q("q_events_funnel_windowed",
      (s, dir) => graft.operators.Funnel.stagesWindowed(Tables.events(s, dir),
          col("user_id"), col("ts"), col("event_type"),
          Seq("view", "click", "purchase"), horizon = 7200000000000L)
        .orderBy("entity"),
      Some(graft.operators.Funnel.stagesWindowedSql(
        "SELECT user_id AS entity, epoch_ns(ts) AS ts, event_type AS et FROM events",
        Seq("view", "click", "purchase"), horizon = 7200000000000L)
        + " ORDER BY entity")),

    // Peak-preserving downsample: one most-anomalous row per
    // (type, hour) — exact-integer |n·v − S| argmax, no float mean in
    // the criterion, ties to earliest ts; two aggregates + one join,
    // no windows
    Q("q_events_downsample",
      (s, dir) => graft.operators.Downsample.peaks(Tables.events(s, dir),
          col("event_type"),
          // floor-div to match DuckDB `//` on negative epoch-nanos
          expr("(ts - pmod(ts, 3600000000000)) div 3600000000000"), col("ts"),
          col("value"))
        .orderBy("key", "bucket"),
      Some(graft.operators.Downsample.peaksSql(
        """SELECT event_type AS key, epoch_ns(ts) // 3600000000000 AS bucket,
          | epoch_ns(ts) AS ts, value AS v FROM events""".stripMargin)
        + " ORDER BY key, bucket")),

    Q("q_events_gapfill",
      (s, dir) => {
        val obs = Tables.events(s, dir)
          .select(col("event_type"),
            expr("(ts - pmod(ts, 3600000000000)) div 3600000000000").as("bucket"),
            col("value"))
          .groupBy("event_type", "bucket")
          .agg(count(lit(1)).as("n"), round(max("value"), 4).as("mx"))
        GapFill.dense(obs, "event_type", "bucket",
            zeroFill = Seq("n"), carryForward = Seq("mx"))
          .select(col("event_type"), col("bucket"), col("n"),
            col("mx").as("filled_max"))
          .orderBy("event_type", "bucket")
      },
      Some("""WITH obs AS (
             |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS bucket,
             |    count(*) AS n, round(max(value), 4) AS mx
             |  FROM events GROUP BY 1, 2
             |), spans AS (
             |  SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
             |  FROM obs GROUP BY 1
             |), grid AS (
             |  SELECT event_type, unnest(range(lo, hi + 1)) AS bucket FROM spans
             |)
             |SELECT g.event_type, g.bucket, coalesce(o.n, 0) AS n,
             |  last_value(o.mx IGNORE NULLS) OVER (PARTITION BY g.event_type
             |    ORDER BY g.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS filled_max
             |FROM grid g LEFT JOIN obs o USING (event_type, bucket)
             |ORDER BY 1, 2""".stripMargin)),

    // Second-moment aggregate family: population stddev/variance,
    // covariance and correlation per group, 4dp — the FP partial-merge
    // noise (~1e-12) sits eight orders below the rounding grid
    Q("q_stats_moments",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(round(stddev_pop(col("l_quantity")), 4).as("sd_qty"),
          round(var_pop(col("l_quantity")), 4).as("var_qty"),
          round(covar_pop(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qp"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             | round(stddev_pop(l_quantity), 4) AS sd_qty,
             | round(var_pop(l_quantity), 4) AS var_qty,
             | round(covar_pop(l_quantity, l_extendedprice), 4) AS cov_qp,
             | round(corr(l_quantity, l_extendedprice), 4) AS corr_qp
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Hierarchical rollup (grouping-sets family — beyond the reference
    // surface, SURVEY §2.7). Grouping-null rows are marked explicitly
    // so the driver's column-sorted hash compare can't confuse
    // subtotal rows with data rows.
    Q("q_rollup_lineitem",
      (s, dir) => Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("<all>")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("l_linestatus"),
          col("sum_qty"), col("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT coalesce(l_returnflag, '<all>') AS l_returnflag,
             | coalesce(l_linestatus, '<all>') AS l_linestatus,
             | sum(l_quantity) AS sum_qty, count(*) AS n
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY 1, 2""".stripMargin)),

    // Window-function breadth: per-customer order sequences — lag
    // (previous price), running sum, quartile bucket, cumulative
    // distribution — one window definition, unique-id tie-break so
    // every function is engine-deterministic
    Q("q_window_functions",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        Tables.orders(s, dir)
          .where(col("o_custkey") < 500)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            lag("o_totalprice", 1).over(w).as("prev_price"),
            sum("o_totalprice").over(w).as("running_total"),
            ntile(4).over(w).cast("long").as("quartile"),
            cume_dist().over(w).as("cume"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
             | lag(o_totalprice, 1) OVER w AS prev_price,
             | sum(o_totalprice) OVER w AS running_total,
             | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             | cume_dist() OVER w AS cume
             |FROM orders WHERE o_custkey < 500
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // CUBE: all four grouping combinations in one pass (rollup's prefix
    // hierarchy plus the status-only marginal)
    Q("q_cube_lineitem",
      (s, dir) => Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("<all>")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("l_linestatus"),
          col("sum_qty"), col("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT coalesce(l_returnflag, '<all>') AS l_returnflag,
             | coalesce(l_linestatus, '<all>') AS l_linestatus,
             | sum(l_quantity) AS sum_qty, count(*) AS n
             |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY 1, 2""".stripMargin)),

    // PIVOT: decision counts spread to columns per court level. The
    // value list is EXPLICIT — with it, pivot is a single two-phase
    // aggregation (one shuffle); without it Spark must first run a
    // distinct scan to discover columns. Empty cells coalesce to 0 so
    // the frame matches the oracle's FILTER-count form.
    Q("q_pivot_decisions",
      (s, dir) => {
        val decisions = Seq(WinStats.Won, WinStats.Lost, WinStats.Invalid)
        val p = Pipelines.caseCorpus(s, dir)
          .groupBy("court_level").pivot("case_decision", decisions).count()
        p.select(col("court_level") +:
            decisions.map(d => coalesce(col(s"`$d`"), lit(0L)).as(d)): _*)
          .orderBy("court_level")
      },
      Some(s"""SELECT court_level,
              | count(*) FILTER (WHERE case_decision = 'appellant_won') AS appellant_won,
              | count(*) FILTER (WHERE case_decision = 'appellant_lost') AS appellant_lost,
              | count(*) FILTER (WHERE case_decision = 'invalid') AS invalid
              |FROM (${Sql.caseCorpus})
              |GROUP BY court_level ORDER BY court_level""".stripMargin)),

    // General grouping sets (beyond rollup's prefix hierarchy): per-flag
    // and per-status marginals in one pass over the data — at scale ONE
    // shuffle instead of a union of independent aggregations. CUBE and
    // ROLLUP are special cases; grouping_id disambiguates the null
    // produced by "grouped out" from a null data value.
    Q("q_grouping_sets",
      (s, dir) => Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"),
          grouping_id().cast("long").as("gid"))
        .select(
          coalesce(col("l_returnflag"), lit("<all>")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("l_linestatus"),
          col("sum_qty"), col("n"), col("gid"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT coalesce(l_returnflag, '<all>') AS l_returnflag,
             | coalesce(l_linestatus, '<all>') AS l_linestatus,
             | sum(l_quantity) AS sum_qty, count(*) AS n,
             | CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
             |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
             |ORDER BY 1, 2""".stripMargin)),

    // Semi/anti joins: existence tests without multiplying rows —
    // customers with ≥1 high-value order (semi: no fan-out however
    // many orders match) vs those with none (anti). Both stay on
    // hash-join machinery; min/count aggregates avoid float-sum
    // order effects.
    Q("q_semi_anti_join",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
          .where(col("o_totalprice") > 150000.0)
          .select(col("o_custkey").as("c_custkey"))
        val semi = c.join(o, Seq("c_custkey"), "left_semi")
          .agg(count(lit(1)).as("n_with_big"))
        val anti = c.join(o, Seq("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_without_big"),
            min("c_custkey").as("min_without_key"))
        semi.crossJoin(anti)
      },
      Some("""SELECT
             | (SELECT count(*) FROM customer WHERE c_custkey IN
             |   (SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)) AS n_with_big,
             | (SELECT count(*) FROM customer WHERE c_custkey NOT IN
             |   (SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)) AS n_without_big,
             | (SELECT min(c_custkey) FROM customer WHERE c_custkey NOT IN
             |   (SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)) AS min_without_key""".stripMargin)),

    // Set operations (union/intersect/except with set semantics)
    Q("q_set_ops",
      (s, dir) => {
        val a = Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("k"))
        val b = Tables.orders(s, dir).where(col("o_totalprice") > 150000.0)
          .select(col("o_custkey").as("k"))
        val nUnion     = a.union(b).distinct().agg(count(lit(1)).as("n_union"))
        val nIntersect = a.intersect(b).agg(count(lit(1)).as("n_intersect"))
        val nExcept    = a.except(b).agg(count(lit(1)).as("n_except"))
        nUnion.crossJoin(nIntersect).crossJoin(nExcept)
      },
      Some("""SELECT
             | (SELECT count(*) FROM (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
             |   UNION SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)) AS n_union,
             | (SELECT count(*) FROM (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
             |   INTERSECT SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)) AS n_intersect,
             | (SELECT count(*) FROM (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
             |   EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)) AS n_except""".stripMargin)),

    // Multiset (ALL) set-operation semantics — EXCEPT ALL / INTERSECT
    // ALL keep duplicate multiplicities (hash-agg on counts, not
    // dedup); the distinct variants above can't distinguish a key
    // appearing 5 times from once
    Q("q_set_ops_all",
      (s, dir) => {
        val a = Tables.orders(s, dir).where(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("k"))
        val b = Tables.orders(s, dir).where(col("o_totalprice") > 100000.0)
          .select(col("o_custkey").as("k"))
        val nUnionAll     = a.unionAll(b).agg(count(lit(1)).as("n_union_all"))
        val nIntersectAll = a.intersectAll(b).agg(count(lit(1)).as("n_intersect_all"))
        val nExceptAll    = a.exceptAll(b).agg(count(lit(1)).as("n_except_all"))
        nUnionAll.crossJoin(nIntersectAll).crossJoin(nExceptAll)
      },
      Some("""SELECT
             | (SELECT count(*) FROM (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
             |   UNION ALL SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0)) AS n_union_all,
             | (SELECT count(*) FROM (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
             |   INTERSECT ALL SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0)) AS n_intersect_all,
             | (SELECT count(*) FROM (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
             |   EXCEPT ALL SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0)) AS n_except_all""".stripMargin)),

    // RANGE window frame (value-based, not row-based): per-customer
    // rolling 30-day order totals. The frame is over a numeric day
    // number so both engines bound it identically; integer sums keep
    // the varying-frame accumulation exact.
    Q("q_window_range_frame",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("day_nr"))
          .rangeBetween(-30, Window.currentRow)
        Tables.orders(s, dir).where(col("o_custkey") < 300)
          .select(col("o_custkey"), col("o_orderkey"),
            expr("unix_timestamp(o_orderdate) div 86400").as("day_nr"),
            floor(col("o_totalprice")).cast("long").as("price_i"))
          .select(col("o_custkey"), col("o_orderkey"), col("day_nr"),
            sum("price_i").over(w).as("sum_price_30d"),
            count(lit(1)).over(w).as("n_orders_30d"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, day_nr,
             | CAST(sum(price_i) OVER w AS BIGINT) AS sum_price_30d,
             | CAST(count(*) OVER w AS BIGINT) AS n_orders_30d
             |FROM (SELECT o_custkey, o_orderkey,
             |    CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day_nr,
             |    CAST(floor(o_totalprice) AS BIGINT) AS price_i
             |  FROM orders WHERE o_custkey < 300)
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY day_nr
             |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // Date/time function breadth over o_orderdate: component extraction
    // (ISO week/dow keep both engines on the same calendar), month
    // bounds, clamped month arithmetic, day offsets, epoch-day deltas.
    // All outputs are DATEs or integers — no timestamp rendering drift.
    Q("q_date_functions",
      (s, dir) => Tables.orders(s, dir)
        .where(col("o_custkey") < 500)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"))
        .select(col("o_orderkey"), col("d"),
          year(col("d")).cast("long").as("yr"),
          quarter(col("d")).cast("long").as("qtr"),
          month(col("d")).cast("long").as("mth"),
          dayofmonth(col("d")).cast("long").as("dom"),
          dayofyear(col("d")).cast("long").as("doy"),
          (weekday(col("d")) + 1).cast("long").as("isodow"),
          weekofyear(col("d")).cast("long").as("iso_week"),
          trunc(col("d"), "month").as("month_start"),
          last_day(col("d")).as("month_end"),
          add_months(col("d"), 3).as("plus3m"),
          date_add(col("d"), 45).as("plus45d"),
          datediff(col("d"), to_date(lit("1995-01-01"))).cast("long").as("days_since_95"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, d,
             | CAST(year(d) AS BIGINT) AS yr,
             | CAST(quarter(d) AS BIGINT) AS qtr,
             | CAST(month(d) AS BIGINT) AS mth,
             | CAST(day(d) AS BIGINT) AS dom,
             | CAST(dayofyear(d) AS BIGINT) AS doy,
             | CAST(isodow(d) AS BIGINT) AS isodow,
             | CAST(weekofyear(d) AS BIGINT) AS iso_week,
             | date_trunc('month', d) AS month_start,
             | last_day(d) AS month_end,
             | CAST(d + INTERVAL 3 MONTH AS DATE) AS plus3m,
             | d + 45 AS plus45d,
             | CAST(date_diff('day', DATE '1995-01-01', d) AS BIGINT) AS days_since_95
             |FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
             |  FROM orders WHERE o_custkey < 500)
             |ORDER BY o_orderkey""".stripMargin)),

    // UNPIVOT / melt: wide per-group measures to long (measure, value)
    // rows — the layout flip feature-store exports need. Spark's
    // unpivot is a zero-shuffle projection (each input row fans out
    // locally); the aggregation before it is the only exchange.
    Q("q_unpivot",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(sum(col("l_discount")), 4).as("sum_disc"))
        .unpivot(
          Array(col("l_returnflag"), col("l_linestatus")),
          Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
          "measure", "value")
        .orderBy("l_returnflag", "l_linestatus", "measure"),
      Some("""UNPIVOT (
             | SELECT l_returnflag, l_linestatus,
             |   round(sum(l_quantity), 4) AS sum_qty,
             |   round(sum(l_extendedprice), 2) AS sum_price,
             |   round(sum(l_discount), 4) AS sum_disc
             | FROM lineitem GROUP BY 1, 2)
             |ON sum_qty, sum_price, sum_disc INTO NAME measure VALUE value
             |ORDER BY l_returnflag, l_linestatus, measure""".stripMargin)),

    // Exact distinct cardinalities per group
    Q("q_count_distinct",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
             countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
             | count(DISTINCT l_suppkey) AS n_supps
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Salting demo: two-phase aggregation over a salted key — the skew
    // mitigation for hot groups — must equal the plain aggregation
    // (the oracle IS the unsalted form)
    Q("q_salted_agg",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), pmod(col("l_orderkey"), lit(16)).as("__salt"))
        .agg(sum("l_quantity").as("partial_qty"), count(lit(1)).as("partial_n"))
        .groupBy("l_returnflag")
        .agg(sum("partial_qty").as("sum_qty"), sum("partial_n").cast("long").as("n"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Salting for JOIN skew: each left row takes one deterministic
    // salt, the (small-but-not-broadcast) right side replicates under
    // all salts, so a hot key spreads over `salts` reducers instead of
    // one ([[Skew.saltedJoin]]; AQE's runtime splitting is the
    // unplanned-skew counterpart, demonstrated in SkewSpec). The
    // oracle is the plain unsalted join.
    Q("q_skew_salted_join",
      (s, dir) => {
        val ev  = Tables.events(s, dir)
        val dim = ev.select(col("event_type")).distinct()
          .withColumn("type_weight", length(col("event_type")).cast("long"))
        Skew.saltedJoin(ev, dim, "event_type", col("event_id"), salts = 8)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
            max(col("type_weight")).as("type_weight"))
          .orderBy("event_type")
      },
      Some("""SELECT e.event_type, count(*) AS n, sum(e.value) AS sum_value,
             | CAST(max(length(e.event_type)) AS BIGINT) AS type_weight
             |FROM events e JOIN (SELECT DISTINCT event_type FROM events) d
             | ON e.event_type = d.event_type
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Exact interpolated percentiles (both engines use the standard
    // R-7 continuous quantile; floor-truncated to absorb last-ulp)
    Q("q_percentiles",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          (floor(expr("percentile(l_extendedprice, 0.5)") * 10000.0) / 10000.0).as("p50"),
          (floor(expr("percentile(l_extendedprice, 0.9)") * 10000.0) / 10000.0).as("p90"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             | (floor(quantile_cont(l_extendedprice, 0.5) * 10000.0) / 10000.0) AS p50,
             | (floor(quantile_cont(l_extendedprice, 0.9) * 10000.0) / 10000.0) AS p90
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Approximate sketches — the 100 TB forms of the two queries
    // above: HLL++ count-distinct (one long register set per group, no
    // distinct shuffle) and GK approx-percentile (bounded summary vs a
    // full sort). Sketch values differ by engine, so the oracle gates
    // on deterministic within-tolerance booleans next to the exact
    // values (sketch merges are commutative — the Spark-side values
    // are stable across partitionings)
    Q("q_approx_sketches",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey")).as("hll_parts"),
          (floor(expr("percentile(l_extendedprice, 0.5)") * 100.0) / 100.0).as("exact_p50"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_p50"))
        .select(col("l_returnflag"), col("exact_parts"), col("exact_p50"),
          (abs(col("hll_parts") - col("exact_parts")) <=
            col("exact_parts") * 0.1).as("hll_within_10pct"),
          (abs(col("approx_p50") - col("exact_p50")) <=
            col("exact_p50") * 0.05).as("p50_within_5pct"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
             | (floor(quantile_cont(l_extendedprice, 0.5) * 100.0) / 100.0) AS exact_p50,
             | TRUE AS hll_within_10pct, TRUE AS p50_within_5pct
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // JSON-ish property extraction (S6 analog) + grouped rollup.
    Q("q_events_json_extract",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_type"), col("value"),
          nullif(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1), lit(""))
            .cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
             sum(col("k")).as("sum_k"),
             round(sum(col("value")), 2).as("sum_value"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
             | CAST(sum(CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS BIGINT)) AS BIGINT) AS sum_k,
             | round(sum(value), 2) AS sum_value
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Deterministic content-hash sample: 100 orders by sha256 rank —
    // reproducible on any engine/partitioning (vs rand()); plans as
    // TakeOrderedAndProject, no corpus shuffle
    Q("q_sample_hash",
      (s, dir) => graft.operators.Sampling.sampleN(
          Tables.orders(s, dir), col("o_orderkey"), n = 100, salt = "s1")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .orderBy("o_orderkey"),
      Some(s"""SELECT o_orderkey, o_orderpriority FROM orders
              |ORDER BY ${graft.operators.Sampling.hashKeySql("o_orderkey", "s1")}, o_orderkey
              |LIMIT 100""".stripMargin)),

    // Stratified deterministic downsample: exactly 5 orders per
    // priority stratum by per-group sha256 rank
    Q("q_sample_stratified",
      (s, dir) => graft.operators.Sampling.sampleNPerGroup(
          Tables.orders(s, dir), col("o_orderpriority"), col("o_orderkey"),
          nPer = 5, salt = "s2")
        .select(col("o_orderpriority"), col("o_orderkey"))
        .orderBy("o_orderpriority", "o_orderkey"),
      Some(s"""SELECT o_orderpriority, o_orderkey FROM (
              |  SELECT o_orderpriority, o_orderkey,
              |    row_number() OVER (PARTITION BY o_orderpriority
              |      ORDER BY ${graft.operators.Sampling.hashKeySql("o_orderkey", "s2")}, o_orderkey) AS rn
              |  FROM orders)
              |WHERE rn <= 5 ORDER BY o_orderpriority, o_orderkey""".stripMargin)),

    // Domain-mixture downsampling: per-source keep rates decided by
    // each row's own hash — pure filter, no shuffle, the 100 TB
    // recipe-mixing route; unlisted sources drop to rate 0
    Q("q_sample_mixture",
      (s, dir) => {
        val rates = Map("src0" -> 100, "src1" -> 60, "src2" -> 30,
          "src3" -> 0, "src4" -> 85)
        graft.operators.Sampling.mixtureSample(Tables.documents(s, dir),
            col("source"), col("doc_id"), rates, salt = "mix1")
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id")
      },
      Some {
        val rates = Map("src0" -> 100, "src1" -> 60, "src2" -> 30,
          "src3" -> 0, "src4" -> 85)
        s"""SELECT doc_id, source FROM documents
           |WHERE ${graft.operators.Sampling.mixtureSampleSql("source", "doc_id", rates, "mix1")}
           |ORDER BY doc_id""".stripMargin
      }),

    // Quality-weighted per-row sampling: keep probability proportional
    // to a per-document weight (here a length-derived ppm, clamped) —
    // the weighted generalization of the mixture pass; still a pure
    // narrow filter with an integer hash-space decision
    Q("q_sample_weighted",
      (s, dir) => graft.operators.Sampling.weightedSample(
          Tables.documents(s, dir), col("doc_id"),
          col("n_chars") * 2000L, salt = "wq1")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, n_chars FROM documents
              |WHERE ${graft.operators.Sampling.weightedSampleSql(
                 "doc_id", "n_chars * 2000", "wq1")}
              |ORDER BY doc_id""".stripMargin)),

    // Temperature-scaled language rebalance (mC4/XLM-R mixture pass):
    // per-lang keep rates (n_g/n_min)^(alpha-1) in integer ppm, applied
    // by each row's own hash draw — broadcast of a 5-row rate table
    // onto a narrow filter, no window, no per-group state
    Q("q_temperature_mixture",
      (s, dir) => graft.operators.Sampling.temperatureSample(
          Tables.documents(s, dir), col("lang"), col("doc_id"),
          alpha = 0.5, salt = "temp1")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
      Some(graft.operators.Sampling.temperatureSampleSql(
          "documents", "lang", "doc_id", alpha = 0.5,
          selectCols = Seq("doc_id", "lang"), salt = "temp1") +
        " ORDER BY doc_id")),

    // Z-order (Morton) clustering key — the multi-dimensional layout
    // sort: interleaved bits keep per-file min/max boxes small on BOTH
    // dimensions (ZOrderSpec proves the pruning-locality property;
    // here the integer arithmetic sits under the hash gate)
    Q("q_zorder_key",
      (s, dir) => Tables.orders(s, dir)
        .select(col("o_orderkey"),
          graft.operators.ZOrder.zValue(col("o_custkey"), col("o_orderkey"))
            .as("z"))
        .orderBy("o_orderkey"),
      Some(s"""SELECT o_orderkey,
              | ${graft.operators.ZOrder.zValueSql("o_custkey", "o_orderkey")} AS z
              |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // FULL OUTER join: per-customer counts of open vs finished orders —
    // customers with only one kind populate exactly one side
    Q("q_full_outer",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val open = o.where(col("o_orderstatus") === "O")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_open"))
        val done = o.where(col("o_orderstatus") === "F")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_done"))
        open.join(done, Seq("o_custkey"), "full_outer")
          .select(col("o_custkey"),
            coalesce(col("n_open"), lit(0L)).as("n_open"),
            coalesce(col("n_done"), lit(0L)).as("n_done"))
          .orderBy("o_custkey")
      },
      Some("""SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
             | COALESCE(a.n_open, 0) AS n_open, COALESCE(b.n_done, 0) AS n_done
             |FROM (SELECT o_custkey, count(*) AS n_open FROM orders
             |      WHERE o_orderstatus = 'O' GROUP BY 1) a
             |FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_done FROM orders
             |      WHERE o_orderstatus = 'F' GROUP BY 1) b
             |ON a.o_custkey = b.o_custkey
             |ORDER BY 1""".stripMargin)),

    // Global running total + global row number WITHOUT the
    // single-partition window (operators/Prefix.scala: range-partition
    // → per-bucket partials → tiny exclusive prefix → broadcast
    // offsets back). The oracle computes the same totals with the
    // serial window form — route equivalence. Integer values keep the
    // two-phase re-association exact.
    Q("q_cumsum_scalable",
      (s, dir) => {
        val base = Tables.orders(s, dir).select(col("o_orderkey"),
          floor(col("o_totalprice")).cast("long").as("price_i"))
        graft.operators.Prefix.withRowNumber(
            graft.operators.Prefix.withCumSum(base,
              col("price_i"), "cum_price", col("o_orderkey")),
            "gidx", col("o_orderkey"))
          .select(col("o_orderkey"), col("price_i"), col("cum_price"), col("gidx"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS price_i,
             | CAST(sum(CAST(floor(o_totalprice) AS BIGINT))
             |   OVER (ORDER BY o_orderkey) AS BIGINT) AS cum_price,
             | CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS gidx
             |FROM orders ORDER BY o_orderkey""".stripMargin)),
  )

  // ---------------------------------------------------------------- //
  // Classification pipeline (reference C1–C4, S2) — regex cascades    //
  // over documents.text enriched with deterministic marker phrases    //
  // (see Enrich: the raw fixture text matches no legal patterns)      //
  // ---------------------------------------------------------------- //

  private val classifySpecs: Seq[Q] = Seq(
    // C1: ordered first-match-wins decision cascade
    Q("c1_case_decision",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          Cascades.decision(Enrich.inject(col("text"), col("doc_id"), Enrich.decisionPhrases))
            .as("case_decision"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              | ${Cascades.decisionSql(Enrich.injectSql("text", "doc_id", Enrich.decisionPhrases))} AS case_decision
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // C2: document-type detection
    Q("c2_document_type",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          Cascades.docType(Enrich.inject(col("text"), col("doc_id"), Enrich.docTypePhrases))
            .as("document_type"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              | ${Cascades.docTypeSql(Enrich.injectSql("text", "doc_id", Enrich.docTypePhrases))} AS document_type
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // C3: document-context label
    Q("c3_document_context",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          Cascades.docContext(Enrich.inject(col("text"), col("doc_id"), Enrich.docContextPhrases))
            .as("document_context"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              | ${Cascades.docContextSql(Enrich.injectSql("text", "doc_id", Enrich.docContextPhrases))} AS document_context
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // C4: metadata-enriched retry — docs whose first pass is `invalid`
    // and that carry metadata (doc_id % 3 == 0) get re-classified on
    // metadata+text and flip to won.
    Q("c4_decision_retry",
      (s, dir) => {
        val injected = Enrich.inject(col("text"), col("doc_id"), Enrich.decisionPhrases)
        val meta = when(col("doc_id") % 3 === 0,
          lit("Case C/42/2012 metadata: appeal allowed")).otherwise(lit(""))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            Cascades.decision(injected).as("decision_initial"),
            Cascades.decisionWithRetry(injected, meta).as("case_decision"))
          .orderBy("doc_id")
      },
      {
        val injected = Enrich.injectSql("text", "doc_id", Enrich.decisionPhrases)
        val meta = "CASE WHEN (doc_id % 3) = 0 THEN 'Case C/42/2012 metadata: appeal allowed' ELSE '' END"
        Some(s"""SELECT doc_id,
                | ${Cascades.decisionSql(injected)} AS decision_initial,
                | ${Cascades.decisionWithRetrySql(injected, s"($meta)")} AS case_decision
                |FROM documents ORDER BY doc_id""".stripMargin)
      }),

    // S2: first-page metadata extraction (case number, dates, parties)
    Q("s2_metadata_extract",
      (s, dir) => {
        val page = Enrich.withHeader(col("text"), col("doc_id"))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            CaseMetadata.caseNumber(page),
            CaseMetadata.firstDate(page),
            size(CaseMetadata.datesMentioned(page)).as("n_dates"),
            CaseMetadata.appellant(page),
            CaseMetadata.respondent(page))
          .orderBy("doc_id")
      },
      {
        val page = Enrich.withHeaderSql("text", "doc_id")
        Some(s"""SELECT doc_id,
                | regexp_extract($page, ${Sql.lit(CaseMetadata.caseNumberPattern)}, 1) AS case_number,
                | regexp_extract($page, ${Sql.lit(CaseMetadata.datePattern)}, 0) AS first_date,
                | CAST(len(regexp_extract_all($page, ${Sql.lit(CaseMetadata.datePattern)})) AS INTEGER) AS n_dates,
                | trim(regexp_extract($page, ${Sql.lit(CaseMetadata.partiesPattern)}, 1)) AS appellant,
                | trim(regexp_extract($page, ${Sql.lit(CaseMetadata.partiesPattern)}, 2)) AS respondent
                |FROM documents ORDER BY doc_id""".stripMargin)
      }),

    // S6: JSON response sink — the engine-side `jsonify`
    // (/root/reference/extract_and_search_v2.py:361-376); the oracle
    // reconstructs Spark's exact `to_json` rendering by concatenation
    Q("s6_json_sink",
      (s, dir) => graft.sources.BinaryDocs.jsonResponse(
        Pipelines.similarCases(s, dir)
          .select("file_id", "vec_id", "case_decision", "score")),
      Some(s"""SELECT '{"file_id":' || CAST(file_id AS VARCHAR)
              | || ',"vec_id":' || CAST(vec_id AS VARCHAR)
              | || ',"case_decision":"' || case_decision
              | || '","score":' || CAST(score AS VARCHAR) || '}' AS response
              |FROM (${Sql.top5AtLevel(3)})""".stripMargin)),

    // X1 + X2: int cast with error handling (ANSI-safe try_cast) and
    // the .pdf extension predicate, over a fixture mixing valid levels,
    // an unparsable level, and mixed-case/wrong extensions
    Q("x_validate",
      (s, dir) => {
        val fileName = concat(lit("doc_"), col("doc_id").cast("string"),
          when(pmod(col("doc_id"), lit(3)) === 0, ".pdf")
            .when(pmod(col("doc_id"), lit(3)) === 1, ".PDF")
            .otherwise(".txt"))
        val levelStr = when(pmod(col("doc_id"), lit(5)) === 4, lit("seven"))
          .otherwise(pmod(col("doc_id"), lit(4)).cast("string"))
        Tables.documents(s, dir)
          .select(col("doc_id"), fileName.as("file_name"), levelStr.as("__lvl"))
          .select(col("doc_id"), col("file_name"),
            expr("try_cast(__lvl AS INT)").as("court_level"),
            lower(col("file_name")).endsWith(".pdf").as("is_pdf"))
          .withColumn("accepted", col("is_pdf") && col("court_level").isNotNull)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             | 'doc_' || CAST(doc_id AS VARCHAR) ||
             |   (CASE doc_id % 3 WHEN 0 THEN '.pdf' WHEN 1 THEN '.PDF' ELSE '.txt' END) AS file_name,
             | TRY_CAST((CASE WHEN doc_id % 5 = 4 THEN 'seven'
             |   ELSE CAST(doc_id % 4 AS VARCHAR) END) AS INTEGER) AS court_level,
             | (CASE doc_id % 3 WHEN 0 THEN true WHEN 1 THEN true ELSE false END) AS is_pdf,
             | ((CASE doc_id % 3 WHEN 0 THEN true WHEN 1 THEN true ELSE false END)
             |   AND doc_id % 5 <> 4) AS accepted
             |FROM documents ORDER BY doc_id""".stripMargin)),
  )

  // ---------------------------------------------------------------- //
  // Text pipeline (reference F1/F2/F7 + training-data text analysis)  //
  // ---------------------------------------------------------------- //

  /** documents.text re-shaped into a 3-paragraph layout (the fixture
    * text has no blank lines of its own).
    */
  private def paragraphedText: Column =
    concat_ws("\n\n",
      substring(col("text"), 1, 120),
      substring(col("text"), 121, 180),
      substring(col("text"), 301, 100000))

  private val paragraphedTextSql: String =
    "concat_ws(chr(10)||chr(10), substr(text, 1, 120), substr(text, 121, 180), substr(text, 301, 100000))"

  private val textSpecs: Seq[Q] = Seq(
    // F1: paragraph split — explode + trim + drop empties
    Q("f1_paragraph_split",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(paragraphedText, "\n\n")).as("para"))
        .select(col("doc_id"), trim(col("para")).as("para"))
        .where(length(col("para")) > 0)
        .orderBy(col("doc_id"), col("para")),
      Some(s"""SELECT doc_id, para FROM (
              | SELECT doc_id, trim(unnest(string_split($paragraphedTextSql, chr(10)||chr(10)))) AS para
              | FROM documents)
              |WHERE length(para) > 0 ORDER BY doc_id, para""".stripMargin)),

    // F2: greedy chunk packing — a stateful per-document fold. Not
    // expressible as one SQL pass, but it IS expressible as a DuckDB
    // RECURSIVE CTE that replays the fold paragraph by paragraph (the
    // oracle runs once at sf0.01; O(chunk²) word recounts are fine
    // there), which upgrades this from rows-only to a full hash gate.
    // ChunkPackerSpec still pins the Python-fold parity bit for bit.
    Q("f2_chunk_pack",
      (s, dir) => {
        val big = Tables.documents(s, dir)
          .groupBy(col("source"))
          .agg(array_join(
            transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
              x => x.getField("text")),
            "\n\n").as("big_text"))
        big.select(col("source"), inline(ChunkPacker.chunks(col("big_text"))))
          .select(col("source"), col("chunk_idx"), col("n_words"),
            md5(col("chunk_text")).as("chunk_md5"))
          .orderBy("source", "chunk_idx")
      },
      // The fold state is (cur buffer, emit count); each recursion step
      // advances every source by one paragraph. `emit` is NULL when the
      // paragraph was appended and the flushed chunk otherwise ('' is a
      // real emission — the first-paragraph-over-budget quirk). The
      // strip set mirrors java.lang.String#strip over the fixture's
      // whitespace alphabet.
      Some {
        val ws = "' ' || chr(10) || chr(9) || chr(13)"
        s"""WITH RECURSIVE paras AS (
           |  SELECT source, CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INT) AS i,
           |         trim(text, $ws) AS para
           |  FROM documents WHERE length(trim(text, $ws)) > 0
           |), counts AS (SELECT source, max(i) AS n FROM paras GROUP BY source),
           |step AS (
           |  SELECT source, 0 AS i, '' AS cur, CAST(NULL AS VARCHAR) AS emit, 0 AS n_emitted FROM counts
           |  UNION ALL
           |  SELECT s.source, p.i,
           |    CASE WHEN len(regexp_extract_all(s.cur || p.para, '\\S+')) < 400
           |         THEN s.cur || chr(10) || p.para ELSE p.para END,
           |    CASE WHEN len(regexp_extract_all(s.cur || p.para, '\\S+')) < 400
           |         THEN CAST(NULL AS VARCHAR) ELSE trim(s.cur, $ws) END,
           |    s.n_emitted + CASE WHEN len(regexp_extract_all(s.cur || p.para, '\\S+')) < 400 THEN 0 ELSE 1 END
           |  FROM step s JOIN paras p ON p.source = s.source AND p.i = s.i + 1
           |), emitted AS (
           |  SELECT source, n_emitted - 1 AS chunk_idx, emit AS chunk FROM step WHERE emit IS NOT NULL
           |  UNION ALL
           |  SELECT s.source, s.n_emitted AS chunk_idx, trim(s.cur, $ws) AS chunk
           |  FROM step s JOIN counts c ON s.source = c.source AND s.i = c.n
           |  WHERE s.cur <> ''
           |)
           |SELECT source, CAST(chunk_idx AS INTEGER) AS chunk_idx,
           |  CAST(len(regexp_extract_all(chunk, '\\S+')) AS BIGINT) AS n_words,
           |  md5(chunk) AS chunk_md5
           |FROM emitted ORDER BY source, chunk_idx""".stripMargin
      }),

    // F7: conclusion-section extraction — doc-type-aware tail slicing.
    // Oracle-gated via Conclusion.extractSql (DuckDB replays the
    // last-match slicing through regexp_extract_all/string_split_regex
    // interleaving); branch semantics additionally pinned by
    // ConclusionSpec.
    Q("f7_conclusion_extract",
      (s, dir) => {
        val base = Enrich.inject(col("text"), col("doc_id"), Enrich.docTypePhrases)
        val lengthened = concat(base,
          repeat(concat(lit(" "), col("text")), (pmod(col("doc_id"), lit(4)) * 7).cast("int")),
          when(col("doc_id") % 5 === 0, lit(" CONCLUSION the appeal is allowed thereafter"))
            .otherwise(lit("")))
        // stage the lengthened text and the doc-type ONCE as columns:
        // inlined, `lengthened` (a repeat-concat that multiplies the
        // document) is re-built inside every cascade branch AND the
        // conclusion UDF, and the generated code carries each copy —
        // CollapseProject keeps non-cheap multi-referenced aliases
        // staged, so this is one evaluation per row and a far smaller
        // codegen unit. Same rows (same expressions over the same
        // staged values)
        Tables.documentsPar(s, dir) // regex-cascade kernel: compute-bound scan
          .select(col("doc_id"), lengthened.as("__t"))
          .select(col("doc_id"), col("__t"),
            Cascades.docType(col("__t")).as("document_type"))
          .select(col("doc_id"), col("document_type"),
            Conclusion.extractCol(col("__t"), col("document_type"))
              .as("conclusion"))
          .select(col("doc_id"), col("document_type"),
            length(col("conclusion")).as("conclusion_len"),
            md5(col("conclusion")).as("conclusion_md5"))
          .orderBy("doc_id")
      },
      Some {
        val lengthened =
          s"(${Enrich.injectSql("text", "doc_id", Enrich.docTypePhrases)} || " +
            "repeat(' ' || text, CAST((doc_id % 4) * 7 AS INT)) || " +
            "CASE WHEN doc_id % 5 = 0 THEN ' CONCLUSION the appeal is allowed thereafter' ELSE '' END)"
        s"""WITH L AS (SELECT doc_id, $lengthened AS t FROM documents),
           |D AS (SELECT doc_id, t, ${Cascades.docTypeSql("t")} AS document_type FROM L),
           |C AS (SELECT doc_id, document_type,
           |        ${Conclusion.extractSql("t", "document_type")} AS conclusion FROM D)
           |SELECT doc_id, document_type,
           |  CAST(length(conclusion) AS INTEGER) AS conclusion_len,
           |  md5(conclusion) AS conclusion_md5
           |FROM C ORDER BY doc_id""".stripMargin
      }),

    // Token counting: whitespace + BPE-ish regex tokens
    Q("text_token_stats",
      (s, dir) => {
        val d = TextAnalysis.docStats(col("text"))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalysis.nTokensWsF(d).as("n_tokens_ws"),
            TextAnalysis.nTokensRe(Enrich.withHeader(col("text"), col("doc_id"))).as("n_tokens_re"),
            TextAnalysis.avgWordLenF(d).as("avg_word_len"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
              | ${TextAnalysis.nTokensWsSql("text")} AS n_tokens_ws,
              | ${TextAnalysis.nTokensReSql(Enrich.withHeaderSql("text", "doc_id"))} AS n_tokens_re,
              | ${TextAnalysis.avgWordLenSql("text")} AS avg_word_len
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Quality scoring over header-enriched text (has digits/punct)
    Q("text_quality",
      (s, dir) => {
        val t = Enrich.withHeader(col("text"), col("doc_id"))
        val d = TextAnalysis.docStats(t)
        val len = length(t)
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalysis.punctRatioF(d, len).as("punct_ratio"),
            TextAnalysis.alphaRatioF(d, len).as("alpha_ratio"),
            TextAnalysis.stopwordRatioF(d).as("stopword_ratio"),
            TextAnalysis.qualityScoreF(d, len).as("quality_score"))
          .orderBy("doc_id")
      },
      {
        val t = Enrich.withHeaderSql("text", "doc_id")
        Some(s"""SELECT doc_id,
                | ${TextAnalysis.punctRatioSql(t)} AS punct_ratio,
                | ${TextAnalysis.alphaRatioSql(t)} AS alpha_ratio,
                | ${TextAnalysis.stopwordRatioSql(t)} AS stopword_ratio,
                | ${TextAnalysis.qualityScoreSql(t)} AS quality_score
                |FROM documents ORDER BY doc_id""".stripMargin)
      }),

    // Gopher quality rules (Rae et al. 2021 §A1.1) over a fixture that
    // exercises each rule's failure mode (api/Enrich.gopherContent):
    // word-count band, mean word length, symbol ratio, bullet/ellipsis
    // line fractions, alpha-word fraction, required stopwords. Pure
    // narrow columnar pass — the 100 TB shape is a filter on `keep`.
    Q("text_gopher_rules",
      (s, dir) => {
        val t = Enrich.gopherContent(col("text"), col("doc_id"))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalysis.nTokensWs(t).as("word_count"),
            TextAnalysis.avgWordLen(t).as("mean_word_len"),
            TextAnalysis.gopherSymbolRatio(t).as("symbol_ratio"),
            TextAnalysis.gopherBulletFrac(t).as("bullet_frac"),
            TextAnalysis.gopherEllipsisFrac(t).as("ellipsis_frac"),
            TextAnalysis.gopherAlphaWordFrac(t).as("alpha_word_frac"),
            TextAnalysis.gopherReqStopwordCount(t).as("n_req_stopwords"),
            TextAnalysis.gopherKeep(t).as("keep"))
          .orderBy("doc_id")
      },
      {
        val t = Enrich.gopherContentSql("text", "doc_id")
        Some(s"""SELECT doc_id,
                | ${TextAnalysis.nTokensWsSql(t)} AS word_count,
                | ${TextAnalysis.avgWordLenSql(t)} AS mean_word_len,
                | ${TextAnalysis.gopherSymbolRatioSql(t)} AS symbol_ratio,
                | ${TextAnalysis.gopherBulletFracSql(t)} AS bullet_frac,
                | ${TextAnalysis.gopherEllipsisFracSql(t)} AS ellipsis_frac,
                | ${TextAnalysis.gopherAlphaWordFracSql(t)} AS alpha_word_frac,
                | ${TextAnalysis.gopherReqStopwordCountSql(t)} AS n_req_stopwords,
                | ${TextAnalysis.gopherKeepSql(t)} AS keep
                |FROM documents ORDER BY doc_id""".stripMargin)
      }),

    // JSONL round trip (the LLM-corpus wire format): documents written
    // as one-object-per-line JSON and read back under the writer's
    // explicit schema — the oracle compares against the PARQUET
    // original, so a pass proves the export→ingest edge is lossless
    // for the scalar payload (md5 over text pins every byte)
    Q("s7_jsonl_roundtrip",
      (s, dir) => graft.sources.Formats.jsonlRoundTrip(Tables.documents(s, dir))
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"),
          col("source"), col("n_chars"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Same gate through ORC — the warehouse-side columnar edge
    Q("s8_orc_roundtrip",
      (s, dir) => graft.sources.Formats.orcRoundTrip(Tables.documents(s, dir))
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"),
          col("source"), col("n_chars"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Bloom-filter point lookup: the fingerprint table is WRITTEN with
    // parquet.bloom.filter.enabled#fingerprint (sources/Layout
    // .writeWithBloom — the storage answer to 100 TB point probes on
    // hash keys, where min/max stats prune nothing) and read back
    // through an equality probe. The oracle computes the same lookup
    // from the raw table, so the gate proves the enabled filter
    // changes IO, never results; BloomSkipSpec proves the row-group
    // pruning itself via scan metrics
    Q("s9_bloom_pointlookup",
      (s, dir) => {
        val path = graft.TempDirs.create("bloom-fp").toString
        graft.sources.Layout.writeWithBloom(
          Tables.documents(s, dir).select(col("doc_id"),
            TextAnalysis.fingerprint(col("text")).as("fingerprint")),
          path, Seq("fingerprint"), expectedNdv = 10000L)
        val probe = Tables.documents(s, dir).where(col("doc_id") === 42)
          .select(TextAnalysis.fingerprint(col("text"))).head().getString(0)
        s.read.parquet(path)
          .where(col("fingerprint") === probe)
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, ${TextAnalysis.fingerprintSql("text")} AS fingerprint
              |FROM documents
              |WHERE ${TextAnalysis.fingerprintSql("text")} =
              |  (SELECT ${TextAnalysis.fingerprintSql("text")} FROM documents
              |   WHERE doc_id = 42)
              |ORDER BY doc_id""".stripMargin)),

    // C4 cleaning rules (Raffel et al. 2020 §2.2) over the mixed-line
    // fixture: line-level filter (terminal punctuation, ≥3 words, no
    // "javascript") + page-level gate (≥5 sentences after cleaning, no
    // "lorem ipsum", no brace). Distinct from Gopher: C4 edits INSIDE
    // the page; every rule fires on a known doc_id residue class
    Q("text_c4_rules",
      (s, dir) => {
        val t = Enrich.c4Mixed(col("text"), col("doc_id"))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            size(split(t, "\n")).as("n_lines"),
            size(TextAnalysis.c4KeptLines(t)).as("n_kept"),
            TextAnalysis.c4SentenceCount(t).as("n_sentences"),
            TextAnalysis.c4Keep(t).as("keep"),
            md5(TextAnalysis.c4CleanText(t)).as("clean_md5"))
          .orderBy("doc_id")
      },
      {
        val t = Enrich.c4MixedSql("text", "doc_id")
        Some(s"""SELECT doc_id,
                | CAST(len(string_split($t, chr(10))) AS INTEGER) AS n_lines,
                | CAST(len(${TextAnalysis.c4KeptLinesSql(t)}) AS INTEGER) AS n_kept,
                | ${TextAnalysis.c4SentenceCountSql(t)} AS n_sentences,
                | ${TextAnalysis.c4KeepSql(t)} AS keep,
                | md5(${TextAnalysis.c4CleanTextSql(t)}) AS clean_md5
                |FROM documents ORDER BY doc_id""".stripMargin)
      }),

    // Language ID over marker-injected text — recovers the lang label
    Q("text_langid",
      (s, dir) => {
        val t = Enrich.withLangMarkers(col("text"), col("lang"), TextAnalysis.LangMarkers)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            TextAnalysis.langIdF(TextAnalysis.docStats(t)).as("lang_pred"))
          .orderBy("doc_id")
      },
      {
        val t = Enrich.withLangMarkersSql("text", "lang", TextAnalysis.LangMarkers)
        Some(s"""SELECT doc_id, lang,
                | ${TextAnalysis.langIdSql(t)} AS lang_pred
                |FROM documents ORDER BY doc_id""".stripMargin)
      }),

    // BM25 ranked retrieval: corpus stats (N, avgdl, per-term df) as
    // one broadcast aggregate row, tf as columnar expressions, top-20
    // via TakeOrderedAndProject — the lexical complement of the KNN
    // vector path
    Q("text_bm25",
      (s, dir) => TextAnalysis.bm25(Tables.documents(s, dir),
          col("doc_id"), col("text"), Seq("hash", "join", "vector"))
        .orderBy(col("score").desc, col("id").asc).limit(20),
      Some(TextAnalysis.bm25Sql("documents", "doc_id", "text",
        Seq("hash", "join", "vector")) + " ORDER BY score DESC, id ASC LIMIT 20")),

    // Deterministic train/val/test assignment, hash route: a pure
    // projection of the id — no shuffle, streams at scan speed (the
    // 100 TB path; proportions approximate)
    Q("mldata_split_hash",
      (s, dir) => Splits.assignByHash(Tables.documents(s, dir), col("doc_id"))
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang, ${Splits.assignByHashSql("doc_id")} AS split
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Exact stratified split: per-stratum (lang) rank over the same
    // hash → exact floor(n·pct) proportions within every stratum
    Q("mldata_split_stratified",
      (s, dir) => Splits.stratifiedExact(Tables.documents(s, dir),
          col("doc_id"), col("lang"))
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy("doc_id"),
      Some(Splits.stratifiedExactSql("documents", "doc_id", "lang",
        Seq("doc_id", "lang")) + " ORDER BY doc_id")),

    // Same contract through the histogram route (bounded-cardinality
    // window; only boundary hash-buckets ranked): same oracle as
    // mldata_split_stratified — the gate proves route equivalence, the
    // shape removes the per-stratum task bound
    Q("mldata_split_scalable",
      (s, dir) => Splits.stratifiedScalable(Tables.documents(s, dir),
          col("doc_id"), col("lang"))
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy("doc_id"),
      Some(Splits.stratifiedExactSql("documents", "doc_id", "lang",
        Seq("doc_id", "lang")) + " ORDER BY doc_id")),

    // Leakage-safe split: hash on the duplicate-cluster representative
    // so a near-dup cluster never straddles train/test (train-test
    // contamination guard). Oracle recomputes the clusters with the
    // recursive-CTE reclustering and applies the same affine hash to
    // the representative.
    Q("mldata_split_leakage_safe",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val t = Enrich.dedupContent(col("text"), col("doc_id"))
        val labels = Components.dupClusters(docs, col("doc_id"), t,
            minJaccard = 0.5)
          .select(col("id"), col("cluster_id"))
        Splits.assignByClusterHash(docs, col("doc_id"), labels)
          .select(col("doc_id"), col("split"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE edges AS MATERIALIZED (
              |  ${Dedup.ngramJaccardPairsIndexedSql("documents", "doc_id",
                   Enrich.dedupContentSql("text", "doc_id"))}
              |), sym AS (
              |  SELECT id_a AS src, id_b AS dst FROM edges
              |  UNION ALL
              |  SELECT id_b, id_a FROM edges
              |), reach AS (
              |  SELECT src AS id, src AS r FROM sym
              |  UNION
              |  SELECT sym.src, reach.r FROM sym JOIN reach ON sym.dst = reach.id
              |), labels AS (
              |  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
              |)
              |SELECT d.doc_id,
              | ${Splits.assignByHashSql("coalesce(l.cluster_id, d.doc_id)")} AS split
              |FROM documents d LEFT JOIN labels l ON d.doc_id = l.id
              |ORDER BY d.doc_id""".stripMargin)),

    // Per-query BM25 retrieval join: terms as DATA through an inverted
    // index (postings ∝ queried tokens, never M×N); token-sorted left
    // fold keeps the float score shuffle-order-free
    Q("q_bm25_join",
      (s, dir) => {
        import s.implicits._
        val queries = Seq(
          (1L, Seq("hash", "join")),
          (2L, Seq("vector", "scan")),
          (3L, Seq("merge", "sort", "window"))).toDF("query_id", "terms")
        TextAnalysis.bm25Join(Tables.documents(s, dir), col("doc_id"),
            col("text"), queries, k = 5)
          .orderBy("query_id", "rank")
      },
      Some(TextAnalysis.bm25JoinSql("documents", "doc_id", "text",
        Seq((1L, "hash"), (1L, "join"), (2L, "vector"), (2L, "scan"),
          (3L, "merge"), (3L, "sort"), (3L, "window")), k = 5)
        + " ORDER BY query_id, rank")),

    // Same retrieval through the PERSISTED index: build the
    // token-bucketed postings table, then serve the query batch from
    // it — same oracle as q_bm25_join, so the whole build+serve path
    // (write layout included) sits under the hash gate
    Q("q_bm25_indexed",
      (s, dir) => {
        import s.implicits._
        val tmp = java.nio.file.Files
          .createTempDirectory(graft.TempDirs.token + "bm25-serve").toString
        TextAnalysis.buildBm25Index(Tables.documents(s, dir),
          col("doc_id"), col("text"), "graft_bm25_serving", tmp,
          numBuckets = 8)
        val queries = Seq(
          (1L, Seq("hash", "join")),
          (2L, Seq("vector", "scan")),
          (3L, Seq("merge", "sort", "window"))).toDF("query_id", "terms")
        TextAnalysis.bm25JoinIndexed(s, "graft_bm25_serving", queries, k = 5)
          .orderBy("query_id", "rank")
      },
      Some(TextAnalysis.bm25JoinSql("documents", "doc_id", "text",
        Seq((1L, "hash"), (1L, "join"), (2L, "vector"), (2L, "scan"),
          (3L, "merge"), (3L, "sort"), (3L, "window")), k = 5)
        + " ORDER BY query_id, rank")),

    // The same serving contract with the index maintained BY STREAM
    // (fifth streaming hash gate): batch-build on the first half of
    // the corpus, stream the second half through StreamingBm25's
    // bucketed-append maintenance, serve — identical oracle to the
    // one-shot build over the full corpus
    Q("streaming_bm25_serve",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val tmp = java.nio.file.Files
          .createTempDirectory(graft.TempDirs.token + "bm25-stream").toString
        val docs = Tables.documents(s, dir)
        graft.sources.Bucketing.dropTable(s, "graft_bm25_streamed")
        graft.sources.Bucketing.dropTable(s, "graft_bm25_streamed_stats")
        TextAnalysis.buildBm25Index(docs.where(col("doc_id") % 2 === 0),
          col("doc_id"), col("text"), "graft_bm25_streamed", s"$tmp/idx",
          numBuckets = 8)
        val rest = docs.where(col("doc_id") % 2 =!= 0)
          .select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val q = graft.streaming.StreamingBm25.maintain(
          ms.toDS().toDF("doc_id", "text"), "doc_id", "text",
          "graft_bm25_streamed", s"$tmp/idx", s"$tmp/ckpt", numBuckets = 8)
        // one streamed trigger: the multi-trigger path is
        // StreamingBm25Spec's contract; the gate proves the
        // served-equals-rebuild surface at one maintenance round's cost
        try { ms.addData(rest); q.processAllAvailable() } finally q.stop()
        // bucket-preserving compaction between maintenance and serve:
        // build + append left 2 files/bucket; the serve below must see
        // IDENTICAL results from the compacted ≤1-file/bucket layout,
        // putting the compact protocol itself under the hash gate
        graft.streaming.StreamingBm25.compact(s, "graft_bm25_streamed",
          s"$tmp/idx", numBuckets = 8)
        val queries = Seq(
          (1L, Seq("hash", "join")),
          (2L, Seq("vector", "scan"))).toDF("query_id", "terms")
        TextAnalysis.bm25JoinIndexed(s, "graft_bm25_streamed", queries, k = 5)
          .orderBy("query_id", "rank")
      },
      Some(TextAnalysis.bm25JoinSql("documents", "doc_id", "text",
        Seq((1L, "hash"), (1L, "join"), (2L, "vector"), (2L, "scan")), k = 5)
        + " ORDER BY query_id, rank")),

    // Document fingerprint (whitespace-normalized md5)
    Q("text_fingerprint",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, ${TextAnalysis.fingerprintSql("text")} AS fingerprint
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Vocabulary build: per-token df/cf, top 50 by df — the LM-pipeline
    // vocabulary step; ranking + limit plans as TakeOrderedAndProject
    Q("text_vocab_topk",
      (s, dir) => TextAnalysis.vocab(Tables.documents(s, dir),
          col("doc_id"), col("text"))
        .orderBy(desc("df"), desc("cf"), asc("token")).limit(50),
      Some(TextAnalysis.vocabSql("documents", "doc_id", "text") +
        " ORDER BY df DESC, cf DESC, token LIMIT 50")),

    // Per-doc character entropy — compressibility-proxy quality
    // signal; exact-integer ln arguments + char-sorted fold keep the
    // doubles engine- and shuffle-order-identical before the 4dp round
    Q("text_char_entropy",
      (s, dir) => TextAnalysis.charEntropy(Tables.documents(s, dir),
        col("doc_id"), col("text")).orderBy("id"),
      Some(TextAnalysis.charEntropySql("documents", "doc_id", "text")
        + " ORDER BY id")),

    // PMI collocations, top 30 at count ≥ 5 — bigram table built once,
    // marginals derived FROM it (no re-tokenize), double-space marginal
    // product (long l1·r2 overflows at corpus scale), global top-k via
    // TakeOrderedAndProject
    Q("text_pmi_collocations",
      (s, dir) => TextAnalysis.pmiCollocations(Tables.documents(s, dir),
        col("text"), minCount = 5, k = 30),
      Some(TextAnalysis.pmiCollocationsSql("documents", "text",
        minCount = 5, k = 30))),

    // Per-document TF-IDF keywords, top 3 — postings + df aggregates
    // and a doc-bounded sort_array/slice top-k (no global window);
    // score 4dp, total order (score desc, token asc) both engines
    Q("text_tfidf_topk",
      (s, dir) => TextAnalysis.tfidfTopK(Tables.documents(s, dir),
          col("doc_id"), col("text"), k = 3)
        .orderBy("id", "rank"),
      Some(TextAnalysis.tfidfTopKSql("documents", "doc_id", "text", k = 3) +
        " ORDER BY id, rank")),

    // Misra-Gries heavy hitters under the exactness gate: decrements
    // only fire past `capacity`, so capacity ≥ distinct-vocab makes
    // the bounded-state summary EXACTLY the frequency table under any
    // merge order — one partial-agg exchange of ≤ capacity rows per
    // task, never a corpus-wide term shuffle. The approximate mode's
    // error bound (undercount ≤ n/(capacity+1)) is spec-pinned instead
    Q("q_heavy_hitters_exact",
      (s, dir) => {
        import s.implicits._
        val toks = Tables.documents(s, dir)
          .select(explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
          .where(col("t") =!= "").as[String]
        graft.operators.HeavyHitters.summarize(toks, capacity = 1000000)
          .toDF().select(col("term"), col("count"))
          .orderBy(col("count").desc, col("term")).limit(20)
      },
      Some(s"""SELECT t AS term, CAST(count(*) AS BIGINT) AS count FROM (
              |  SELECT unnest(string_split_regex(lower(trim(text)),
              |    '${TextAnalysis.WsClassSqlPublic}+')) AS t FROM documents)
              |WHERE t <> '' GROUP BY t
              |ORDER BY count DESC, term LIMIT 20""".stripMargin)),

    // PER-GROUP Misra-Gries (per-language frequent terms — the shape
    // curation screens consume): one bounded summary per key, state =
    // groups × ≤ capacity, each group's error bound independent. Gated
    // at the exactness dial (capacity ≥ per-group distinct terms →
    // each summary IS the exact per-group frequency table), same trick
    // as the global row; the ranking window runs over the BOUNDED
    // summary, never the corpus
    Q("q_heavy_hitters_grouped",
      (s, dir) => {
        import s.implicits._
        val toks = Tables.documents(s, dir)
          .select(col("lang"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
          .where(col("t") =!= "").as[(String, String)]
        graft.operators.HeavyHitters.summarizeBy(toks, capacity = 1000000)
          .toDF()
          .withColumn("rank", row_number().over(Window.partitionBy(col("group"))
            .orderBy(desc("count"), asc("term"))))
          .where(col("rank") <= 5)
          .select(col("group").as("lang"), col("term"), col("count"),
            col("rank"))
          .orderBy("lang", "rank")
      },
      Some(s"""SELECT lang, term, count, CAST(rn AS INTEGER) AS rank FROM (
              |  SELECT lang, t AS term, CAST(count(*) AS BIGINT) AS count,
              |    row_number() OVER (PARTITION BY lang
              |      ORDER BY count(*) DESC, t) AS rn
              |  FROM (
              |    SELECT lang, unnest(string_split_regex(lower(trim(text)),
              |      '${TextAnalysis.WsClassSqlPublic}+')) AS t FROM documents)
              |  WHERE t <> '' GROUP BY lang, t)
              |WHERE rn <= 5 ORDER BY lang, rank""".stripMargin)),

    // Bigram counts, top 50 — n-gram LM statistics / contamination
    // screens; ties at the limit boundary broken by the ngram itself
    Q("text_bigram_counts",
      (s, dir) => TextAnalysis.ngramCounts(Tables.documents(s, dir),
          col("text"), n = 2)
        .orderBy(desc("cnt"), asc("ngram")).limit(50),
      Some(TextAnalysis.ngramCountsSql("documents", "text", n = 2) +
        " ORDER BY cnt DESC, ngram LIMIT 50")),

    // BPE merge training over the word histogram — the tokenizer-
    // construction pass; corpus is scanned ONCE (groupBy word), every
    // merge round runs on the vocabulary-sized histogram
    Q("tok_bpe_merges",
      (s, dir) => Bpe.trainMerges(Tables.documents(s, dir),
        col("text"), steps = 10).orderBy("step"),
      Some(Bpe.trainMergesSql("documents", "text", steps = 10)
        + " ORDER BY step")),

    // Unigram-LM (SentencePiece-style) vocabulary: every single char +
    // top-200 multi-char substrings by corpus mass, scaled-integer
    // costs — the optimal-segmentation counterpart of the BPE family
    Q("tok_unigram_vocab",
      (s, dir) => graft.text.Unigram.vocab(Tables.documents(s, dir),
        col("text"), k = 200).orderBy("piece"),
      Some(graft.text.Unigram.vocabSql("documents", "text", k = 200)
        + " ORDER BY piece")),

    // Unigram-LM encode: per-doc piece count + exact scaled-integer
    // Viterbi cost against the trained vocabulary; the oracle replays
    // the DP as 24 unrolled per-position CTE steps
    Q("tok_unigram_encode",
      (s, dir) => graft.text.Unigram.encode(Tables.documents(s, dir),
        col("doc_id"), col("text"), k = 200).orderBy("id"),
      Some(graft.text.Unigram.encodeSql("documents", "doc_id", "text",
        k = 200) + " ORDER BY id")),

    // In-engine quality-classifier training (fastText/DCLM pattern):
    // full-batch GD on document statistics with a hard-sigmoid loss —
    // every step exact-integer or IEEE-exact, so the oracle replays
    // training bit-identically as unrolled CTE rounds
    Q("ml_lr_weights",
      (s, dir) => graft.ml.LinearClassifier.trainWeights(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        col("n_chars"), col("lang") === "en").orderBy("k"),
      Some(graft.ml.LinearClassifier.trainWeightsSql(
        "documents", "doc_id", "text", "n_chars", "lang = 'en'")
        + " ORDER BY k")),

    // The corpus-scale apply: score every document with the trained
    // model — exact integer dot against broadcast weights, narrow map
    Q("ml_lr_scores",
      (s, dir) => graft.ml.LinearClassifier.scoreDocs(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        col("n_chars"), col("lang") === "en").orderBy("id"),
      Some(graft.ml.LinearClassifier.scoreDocsSql(
        "documents", "doc_id", "text", "n_chars", "lang = 'en'")
        + " ORDER BY id")),

    // Apply the trained merges back over the corpus: BPE token count
    // per document (vs chars = the compression ratio) — the narrow-map
    // 100 TB-shaped half of the tokenizer pair
    Q("tok_bpe_encode",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val m = Bpe.trainMerges(docs, col("text"), steps = 10)
          .orderBy("step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        // encode is the compute-bound half: parallelize ITS scan only
        // (training keeps the combine-friendly single-row-group scan)
        Bpe.encodeTokenCounts(Tables.documentsPar(s, dir), col("doc_id"),
            col("text"), m)
          .orderBy("id")
      },
      Some(Bpe.encodeTokenCountsSql("documents", "doc_id", "text", steps = 10)
        + " ORDER BY id")),

    // The SCALE encode route — broadcast merge list + per-partition
    // memoized apply (arbitrary merge depth where the expression route
    // chains ≤64 codegen replaces) — under the SAME oracle as
    // tok_bpe_encode: identical semantics, different execution, so the
    // hash gate proves route parity per document
    Q("tok_bpe_encode_scalable",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val m = Bpe.trainMerges(docs, col("text"), steps = 10)
          .orderBy("step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        Bpe.encodeTokenCountsScalable(docs, col("doc_id"), col("text"), m)
          .orderBy("id")
      },
      Some(Bpe.encodeTokenCountsSql("documents", "doc_id", "text", steps = 10)
        + " ORDER BY id")),

    // Byte-level BPE training (GPT-2 style): GPT-2 regex pre-tokens
    // (lookahead-free so Java regex and RE2 agree), UTF-8 bytes as
    // hex symbols, case-sensitive, space prefixes kept — the
    // production-tokenizer sibling of tok_bpe_merges under the same
    // merge-replay oracle
    Q("tok_bpe_bytes_merges",
      (s, dir) => Bpe.trainMergesBytes(Tables.documents(s, dir),
        col("text"), steps = 10).orderBy("step"),
      Some(Bpe.trainMergesBytesSql("documents", "text", steps = 10)
        + " ORDER BY step")),

    // Byte-level encode: per-doc token count vs UTF-8 byte count (the
    // tokens-per-byte compression surface) against the trained byte
    // merges — narrow map, oracle replays train + encode end to end
    Q("tok_bpe_bytes_encode",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val m = Bpe.trainMergesBytes(docs, col("text"), steps = 10)
          .orderBy("step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        Bpe.encodeTokenCountsBytes(Tables.documentsPar(s, dir),
            col("doc_id"), col("text"), m)
          .orderBy("id")
      },
      Some(Bpe.encodeTokenCountsBytesSql("documents", "doc_id", "text",
        steps = 10) + " ORDER BY id")),

    // The SCALE byte encode (broadcast merge list + per-partition
    // memoized apply, arbitrary merge depth) under the SAME oracle as
    // tok_bpe_bytes_encode — the hash gate proves route parity
    Q("tok_bpe_bytes_encode_scalable",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val m = Bpe.trainMergesBytes(docs, col("text"), steps = 10)
          .orderBy("step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        Bpe.encodeTokenCountsBytesScalable(docs, col("doc_id"), col("text"), m)
          .orderBy("id")
      },
      Some(Bpe.encodeTokenCountsBytesSql("documents", "doc_id", "text",
        steps = 10) + " ORDER BY id")),

    // CCNet-style LM perplexity filter: per-doc mean bigram cost under
    // an add-one bigram LM trained on the corpus itself, cut into
    // head/middle/tail terciles — per-feature costs are scaled-integer
    // longs so the doc scores are bit-exact under any shuffle order;
    // the tercile rank uses the two-phase global row number, not a
    // single-partition window
    Q("text_lm_perplexity",
      (s, dir) => graft.text.LmQuality.bigramLogPpl(
          Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("id"),
      Some(graft.text.LmQuality.bigramLogPplSql("documents", "doc_id", "text") +
        " ORDER BY id")),

    // DSIR importance weights toward the English slice: hashed
    // unigram+bigram features (sha256 → 1024 buckets), per-bucket
    // smoothed target/raw log-ratios summed per document in scaled
    // integers; positive logweight = looks more like the target
    Q("text_dsir_weights",
      (s, dir) => graft.text.LmQuality.dsirLogWeights(
          Tables.documents(s, dir), col("doc_id"), col("text"),
          isTarget = col("lang") === "en", buckets = 1024)
        .orderBy("id"),
      Some(graft.text.LmQuality.dsirLogWeightsSql(
          "documents", "doc_id", "text", "lang = 'en'", buckets = 1024) +
        " ORDER BY id")),

    // PII-style scrub: email/URL/digit-run redaction with pre-scrub
    // audit counts; fixture phrases injected per doc_id (incl. an
    // ordering probe and a must-not-redact short digit run)
    Q("text_scrub",
      (s, dir) => {
        val t = Enrich.inject(col("text"), col("doc_id"), Enrich.piiPhrases)
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalysis.patternCount(t, TextAnalysis.EmailRe).as("n_emails"),
            TextAnalysis.patternCount(t, TextAnalysis.UrlRe).as("n_urls"),
            TextAnalysis.patternCount(t, TextAnalysis.LongDigitsRe).as("n_digit_runs"),
            md5(TextAnalysis.scrub(t)).as("scrubbed_md5"))
          .orderBy("doc_id")
      },
      Some {
        val t = Enrich.injectSql("text", "doc_id", Enrich.piiPhrases)
        s"""SELECT doc_id,
           | ${TextAnalysis.patternCountSql(t, TextAnalysis.EmailRe)} AS n_emails,
           | ${TextAnalysis.patternCountSql(t, TextAnalysis.UrlRe)} AS n_urls,
           | ${TextAnalysis.patternCountSql(t, TextAnalysis.LongDigitsRe)} AS n_digit_runs,
           | md5(${TextAnalysis.scrubSql(t)}) AS scrubbed_md5
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // Repetition signals (Gopher-style): distinct-token ratio and
    // most-repeated-token share per document
    Q("text_repetition",
      (s, dir) => {
        val r = TextAnalysis.repetitionStats(col("text"))
        Tables.documents(s, dir)
          .select(col("doc_id"), r.getField("n_tokens").as("n_tokens"),
            r.getField("n_distinct").as("n_distinct"),
            r.getField("distinct_ratio").as("distinct_ratio"),
            r.getField("top_share").as("top_share"))
          .orderBy("doc_id")
      },
      Some(TextAnalysis.repetitionSqlFrom("documents", "doc_id", "text")
        + " ORDER BY doc_id")),

    // Benchmark-contamination screen: docs sharing any 3-gram with the
    // probe set (doc_id 0-4 stand in for an eval benchmark)
    Q("text_decontaminate",
      (s, dir) => TextAnalysis.contaminationHits(Tables.documents(s, dir),
          col("doc_id"), col("text"), probeIds = Seq(0L, 1L, 2L, 3L, 4L))
        .orderBy("doc_id"),
      Some(TextAnalysis.contaminationSql("documents", "doc_id", "text",
        probeIds = Seq(0L, 1L, 2L, 3L, 4L)) + " ORDER BY doc_id")),

    // Large-probe-set route of the same screen: Bloom prefilter (no
    // false negatives) + exact shuffle-join verify — row-identical to
    // text_decontaminate for any fpp, so it shares the oracle; shuffle
    // volume ∝ contaminated fraction, not corpus size
    Q("text_decontaminate_bloom",
      (s, dir) => TextAnalysis.contaminationHitsBloom(Tables.documents(s, dir),
          col("doc_id"), col("text"), probeIds = Seq(0L, 1L, 2L, 3L, 4L))
        .orderBy("doc_id"),
      Some(TextAnalysis.contaminationSql("documents", "doc_id", "text",
        probeIds = Seq(0L, 1L, 2L, 3L, 4L)) + " ORDER BY doc_id")),

    // The STREAMING ingest-time decontamination screen under the
    // oracle: the Bloom filter compiles from the probe docs (0-4, the
    // same benchmark set as the batch queries), documents replay
    // through a MemoryStream into the stateless screen, and the gate
    // asserts the screen's deterministic contract — a Bloom filter has
    // NO false negatives, so every truly contaminated document (exact
    // shared-shingle route, oracle-replayable) must come back flagged.
    // False-positive flags are fpp-probabilistic, so the per-doc flag
    // column itself stays spec territory (StreamingDecontamSpec).
    Q("streaming_decontam_screen",
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val probeIds = Seq(0L, 1L, 2L, 3L, 4L)
        val docs = Tables.documents(s, dir)
        val filter = graft.streaming.StreamingDecontam.benchmarkFilter(
          docs.where(col("doc_id").isin(probeIds: _*)), col("text"))
        val rows = docs.where(!col("doc_id").isin(probeIds: _*))
          .select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        ms.addData(rows)
        val screened = graft.streaming.StreamingDecontam.screen(
          ms.toDS().toDF("doc_id", "text"), col("doc_id"), col("text"), filter)
        val qName = "graft_streaming_decontam"
        val q = screened.writeStream.format("memory").queryName(qName)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        val flagged = s.table(qName)
          .where(col("contaminated")).select(col("id"))
        val truly = TextAnalysis.contaminationHits(docs, col("doc_id"),
          col("text"), probeIds).select(col("doc_id").as("id"))
        val totals = s.table(qName).agg(count(lit(1)).as("__n_screened"))
        val trueN = truly.agg(count(lit(1)).as("__n_contaminated"))
        val missed = truly.join(flagged, Seq("id"), "left_anti")
          .agg(count(lit(1)).as("__n_missed"))
        totals.crossJoin(trueN).crossJoin(missed)
          .select(col("__n_screened").as("n_screened"),
            col("__n_contaminated").as("n_contaminated"),
            (col("__n_missed") === 0).as("no_false_negatives"))
      },
      Some(s"""SELECT
              |  (SELECT CAST(count(*) AS BIGINT) FROM documents
              |     WHERE doc_id NOT IN (0, 1, 2, 3, 4)) AS n_screened,
              |  (SELECT CAST(count(*) AS BIGINT) FROM (
              |     ${TextAnalysis.contaminationSql("documents", "doc_id", "text",
                      probeIds = Seq(0L, 1L, 2L, 3L, 4L))})) AS n_contaminated,
              |  TRUE AS no_false_negatives""".stripMargin)),

    // Streaming decontamination CLIP (22nd route): the bloom screen composed with
    // the surgical span removal — only FLAGGED documents pay the exact
    // gram join per micro-batch; the bloom's no-false-negatives makes
    // the streamed output row-for-row equal batch clipAgainst at ANY
    // fpp, so the route sits under the same oracle as the batch gate
    Q("streaming_clip_decontam",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val docs = Tables.documents(s, dir)
        val bench = docs.where(col("doc_id") < 10)
        val filter = graft.streaming.StreamingDecontam.benchmarkFilter(
          bench, col("text"), n = 8)
        val rows = docs.where(col("doc_id") >= 10)
          .select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val out = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
        val q = graft.streaming.StreamingDecontam.clipStream(
          ms.toDS().toDF("doc_id", "text"), col("doc_id"), col("text"),
          bench, col("text"), filter, minTokens = 8) { batchOut =>
          out.synchronized {
            out ++= batchOut.collect()
              .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          }
        }
        try {
          rows.grouped(rows.length / 3 + 1).foreach { chunk =>
            ms.addData(chunk)
            q.processAllAvailable()
          }
        } finally q.stop()
        out.toSeq.toDF("doc_id", "clean_text", "n_removed")
          .orderBy("doc_id")
      },
      Some(graft.dedup.Spans.clipAgainstSql(
        "documents", "doc_id", "text", "doc_id >= 10",
        "documents", "text", "doc_id < 10", minTokens = 8) +
        " ORDER BY doc_id")),

    // Streaming SELF-dedup clip (23rd route, r12): keep-first span
    // removal WITHIN the arriving stream — each batch clips against
    // the maintained (xxhash64, gram) registry of everything already
    // emitted plus a within-batch winner election. Semantics are
    // prefix-causal (losers identical to batch clipSpans; winner
    // protection limited to intra-doc duplication — a stream cannot
    // protect on duplicates it has not seen), which is deterministic
    // and batch-boundary-independent, so the whole doc_id-ordered
    // stream sits under the exact full-corpus clipSpansPrefixSql
    // oracle. Registry appends are batch-id fenced for replay safety
    // (StreamingSelfDedupSpec replays a batch whose append landed).
    Q("streaming_clip_self",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val rows = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
          .sortBy(_._1).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val tmp = graft.TempDirs.create("selfclip-gate").toString
        val out = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
        val q = graft.streaming.StreamingSelfDedup.clipStream(
          ms.toDS().toDF("doc_id", "text"), col("doc_id"), col("text"),
          minTokens = 8, s"$tmp/registry",
          // the scale form: h-bucketed registry, probe joins shuffle
          // only batch seeds (plain-dir equality pinned in the spec)
          registryBuckets = 8) { batchOut =>
          out.synchronized {
            out ++= batchOut.collect()
              .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          }
        }
        try {
          rows.grouped(rows.length / 3 + 1).zipWithIndex.foreach {
            case (chunk, i) =>
              ms.addData(chunk)
              q.processAllAvailable()
              // between batches (single-maintenance-writer contract):
              // the ZERO-DIAL policy window (r16) — compaction floor/
              // fanout and the screen decision all derive from on-disk
              // stats, the long-stream maintenance a week-long ingest
              // runs, in-gate so the oracle proves maintenance cannot
              // change a later batch's clip
              if (i == 1)
                graft.streaming.StreamingSelfDedup.maintainRegistry(
                  s, s"$tmp/registry")
          }
        } finally q.stop()
        out.toSeq.toDF("doc_id", "clean_text", "n_removed")
          .orderBy("doc_id")
      },
      Some(graft.dedup.Spans.clipSpansPrefixSql(
        "documents", "doc_id", "text", minTokens = 8) +
        " ORDER BY doc_id")),

    // CHECKPOINT KILL-AND-RESUME for the stateful-ON-DISK route (r13):
    // streaming_clip_self's durable state is the gram registry +
    // catalog registration, not a state store — the resume trio's
    // pattern re-run with the part its siblings cannot cover: after
    // stopping q1 we DROP the registered table (the external catalog
    // is per-SparkContext, so a same-JVM newSession() would still see
    // it — DROP is the honest simulation of a fresh process's empty
    // catalog) and restart a NEW query on the SAME checkpoint. The
    // first post-restart batch must re-register the bucketed table
    // over the surviving part-files (validated against the _BUCKETS
    // marker) and rebuild the bloom screen from the registry — any
    // failure under-clips and the full-corpus oracle hash catches it.
    Q("streaming_resume_clip_self",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val rows = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
          .sortBy(_._1).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val tmp = graft.TempDirs.create("selfclip-resume").toString
        val reg = s"$tmp/registry"
        val out = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
        def start() = graft.streaming.StreamingSelfDedup.clipStream(
          ms.toDS().toDF("doc_id", "text"), col("doc_id"), col("text"),
          minTokens = 8, reg, Some(s"$tmp/ckpt"),
          registryBuckets = 8) { batchOut =>
          out.synchronized {
            out ++= batchOut.collect()
              .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          }
        }
        val chunks = rows.grouped(rows.length / 3 + 1).toSeq
        val q1 = start()
        try {
          chunks.take(2).foreach { c => ms.addData(c); q1.processAllAvailable() }
        } finally q1.stop()
        // the maintenance window a fresh process restarts into (r14;
        // ZERO-DIAL since r16 — floor/fanout/screen all policy-derived):
        // size-tiered registry compaction + a per-bucket screen build,
        // so q2's first batch takes the TWO-TIER screen path (executor
        // bucket blooms + driver tail over post-build appends) under
        // the same full-corpus oracle — a screen false negative
        // under-clips and breaks the hash
        graft.streaming.StreamingSelfDedup.maintainRegistry(s, reg)
        // IF EXISTS: if q1 never completed a bucketed append (tiny or
        // failing corpus) the gate must surface THAT failure via the
        // oracle hash, not die on the fresh-process simulation's DROP
        s.sql(s"DROP TABLE IF EXISTS ${
          graft.streaming.StreamingSelfDedup.registryTableName(reg)}")
        val q2 = start()
        try {
          chunks.drop(2).foreach { c => ms.addData(c); q2.processAllAvailable() }
        } finally q2.stop()
        out.toSeq.toDF("doc_id", "clean_text", "n_removed")
          .orderBy("doc_id")
      },
      Some(graft.dedup.Spans.clipSpansPrefixSql(
        "documents", "doc_id", "text", minTokens = 8) +
        " ORDER BY doc_id")),

    // Streaming SELF near-dup (24th route): every arriving document is
    // checked against everything the stream has EVER admitted via a
    // maintained band registry (bucketed on band_key) + a shingle-set
    // registry (bucketed on id, fetched only for band-colliding
    // candidates), under the maintained band-key screen. Keep-earliest
    // verdicts: dup_of = smallest earlier id whose exact Jaccard
    // clears 0.9. Oracle-exact by the dedup_minhash_verified argument:
    // the only fixture pairs at J >= 0.9 are identical-shingle-set
    // pairs, identical sets collide in EVERY band, so LSH recall is
    // deterministically 1 and the stream's verdicts equal DuckDB's
    // exact indexed all-pairs reduction. In-gate maintenance after
    // batch 2: size-tiered compaction of BOTH registries + a bucket-
    // screen build — the oracle proves maintenance cannot change a
    // later batch's verdicts (the running stream keeps its extended
    // driver bloom; the restart-onto-two-tier path is pinned by
    // StreamingNearDupSpec's kill-and-resume test).
    Q("streaming_neardup_self",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val rows = Tables.documents(s, dir)
          .select(col("doc_id"),
            Enrich.dedupContent(col("text"), col("doc_id")).as("text"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
          .sortBy(_._1).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val tmp = graft.TempDirs.create("neardup-gate").toString
        val out = scala.collection.mutable
          .ArrayBuffer[(Long, Option[Long], Option[Double])]()
        val q = graft.streaming.StreamingNearDup.nearDupStream(
          ms.toDS().toDF("id", "text"), col("id"), col("text"),
          s"$tmp/registry", buckets = 8, minJaccard = 0.9) { batchOut =>
          out.synchronized {
            out ++= batchOut.collect().map(r => (r.getLong(0),
              if (r.isNullAt(1)) None else Some(r.getLong(1)),
              if (r.isNullAt(2)) None else Some(r.getDouble(2))))
          }
        }
        try {
          rows.grouped(rows.length / 3 + 1).zipWithIndex.foreach {
            case (chunk, i) =>
              ms.addData(chunk)
              q.processAllAvailable()
              if (i == 1) // r16: zero-dial policy-derived maintenance
                graft.streaming.StreamingNearDup.maintain(
                  s, s"$tmp/registry")
          }
        } finally q.stop()
        out.toSeq.toDF("id", "dup_of", "jaccard").orderBy("id")
      },
      Some(nearDupSelfSql)),

    // Streaming SELF near-dup in EMBEDDING space (25th route): the
    // vector analog of streaming_neardup_self — every arriving
    // embedding is checked against everything the stream has EVER
    // admitted via a maintained hyperplane-band registry + a vector
    // store fetched only for band-colliding candidate ids, same
    // shared SelfRegistryDedup engine (pushed band_key IN / id IN
    // dirty paths, batch-id fencing, keep-earliest). Oracle-exact by
    // the dedup_embedding_lsh argument: the only corpus pairs at
    // cosine >= 0.9 are the planted scale-doubles (cosine EXACTLY 1),
    // identical directions share every sign band deterministically,
    // so LSH recall is 1 and the stream's verdicts equal DuckDB's
    // exact all-pairs keep-earliest reduction. In-gate maintenance
    // after batch 2: size-tiered compaction of both registries + the
    // incremental bucket-screen build.
    Q("streaming_neardup_emb",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id").as("id"), col("embedding"))
        val planted = emb.select((col("id") + 1000000L).as("id"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
            .as("embedding"))
        val rows = emb.unionAll(planted).as[(Long, Seq[Float])]
          .collect().sortBy(_._1).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Seq[Float])]
        val tmp = graft.TempDirs.create("embdedup-gate").toString
        val out = scala.collection.mutable
          .ArrayBuffer[(Long, Option[Long], Option[Double])]()
        // 8 bands x 16 sign bits — the 0.9-threshold geometry
        // (dedup_embedding_lsh's): random pairs collide per band at
        // 2^-16, so candidates stay ∝ true near-dups. The default
        // 16x4 geometry is built for 0.35-recall and floods ~1
        // candidate PER RANDOM PAIR at this threshold (measured: the
        // sf0.1 gate went quadratic at 20s). Colinear planted pairs
        // collide in every band under ANY geometry, so the oracle's
        // recall-1 argument is unchanged.
        val q = graft.streaming.StreamingEmbDedup.embDedupStream(
          ms.toDS().toDF("id", "embedding"), col("id"), col("embedding"),
          s"$tmp/registry", buckets = 8, dim = 64, bands = 8, bits = 16,
          minCosine = 0.9) { bo =>
          out.synchronized {
            out ++= bo.collect().map(r => (r.getLong(0),
              if (r.isNullAt(1)) None else Some(r.getLong(1)),
              if (r.isNullAt(2)) None else Some(r.getDouble(2))))
          }
        }
        try {
          rows.grouped(rows.length / 3 + 1).zipWithIndex.foreach {
            case (chunk, i) =>
              ms.addData(chunk)
              q.processAllAvailable()
              if (i == 1) // r16: zero-dial policy-derived maintenance
                graft.streaming.StreamingEmbDedup.maintain(
                  s, s"$tmp/registry")
          }
        } finally q.stop()
        out.toSeq.toDF("id", "dup_of", "cosine").orderBy("id")
      },
      Some(s"""WITH corpus AS (
              |  SELECT vec_id AS id, embedding FROM embeddings
              |  UNION ALL
              |  SELECT vec_id + 1000000,
              |    list_transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))
              |  FROM embeddings),
              |pairs AS (
              |  SELECT l.id AS id_a, r.id AS id_b,
              |    ${graft.oracle.Sql.cosine("l.embedding", "r.embedding")} AS cosine
              |  FROM corpus l JOIN corpus r ON l.id < r.id),
              |best AS (SELECT id_b AS id, id_a AS dup_of, cosine,
              |  row_number() OVER (PARTITION BY id_b ORDER BY id_a) AS rn
              |  FROM pairs WHERE cosine >= 0.9)
              |SELECT c.id AS id, b.dup_of, b.cosine
              |FROM corpus c
              |LEFT JOIN (SELECT id, dup_of, cosine FROM best WHERE rn = 1) b
              |  ON b.id = c.id
              |ORDER BY c.id""".stripMargin)),

    // KEEP-FIRST PRODUCTION MODE under the full oracle (r15): the
    // registerDups=false setting a real 100 TB ingest runs — only
    // ADMITTED documents register, so the registry grows with unique
    // content, not stream volume. On this fixture keep-first verdicts
    // EQUAL keep-earliest (the planted dup orbits are identical-
    // shingle-set groups, so every member's smallest qualifying
    // earlier id is the orbit keeper, which is always admitted — no
    // transitive chain A≈B≈C with A≉C exists), so the exact-Jaccard
    // DuckDB reduction applies verbatim. The gate additionally pins
    // the registry-stays-small claim: the feature store's row count
    // must equal the ADMITTED count exactly (a dup orbit adds one
    // registrant). In-gate maintenance is the r16 ZERO-DIAL policy
    // window, whose derived fanout (4) runs the r15 MULTI-TIER
    // compaction — tier selection still sits under the hash.
    Q("streaming_neardup_keepfirst",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val rows = Tables.documents(s, dir)
          .select(col("doc_id"),
            Enrich.dedupContent(col("text"), col("doc_id")).as("text"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
          .sortBy(_._1).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val tmp = graft.TempDirs.create("neardup-keepfirst").toString
        val out = scala.collection.mutable
          .ArrayBuffer[(Long, Option[Long], Option[Double])]()
        val q = graft.streaming.StreamingNearDup.nearDupStream(
          ms.toDS().toDF("id", "text"), col("id"), col("text"),
          s"$tmp/registry", buckets = 8, minJaccard = 0.9,
          registerDups = false) { batchOut =>
          out.synchronized {
            out ++= batchOut.collect().map(r => (r.getLong(0),
              if (r.isNullAt(1)) None else Some(r.getLong(1)),
              if (r.isNullAt(2)) None else Some(r.getDouble(2))))
          }
        }
        try {
          rows.grouped(rows.length / 3 + 1).zipWithIndex.foreach {
            case (chunk, i) =>
              ms.addData(chunk)
              q.processAllAvailable()
              if (i == 1) // r16: zero-dial policy-derived maintenance
                        // (multi-tier fanout now comes from the policy)
                graft.streaming.StreamingNearDup.maintain(
                  s, s"$tmp/registry")
          }
        } finally q.stop()
        // registry ∝ unique content: exactly one feature-store row per
        // ADMITTED document (replays are marker-fenced; dup orbits add
        // only their keeper)
        val admitted = out.count(_._2.isEmpty).toLong
        val registered = s.read.parquet(s"$tmp/registry/docs")
          .select(col("id")).distinct().count()
        require(registered == admitted,
          s"keep-first registry must hold exactly the admitted docs: " +
            s"registered=$registered admitted=$admitted")
        out.toSeq.toDF("id", "dup_of", "jaccard").orderBy("id")
      },
      Some(nearDupSelfSql)),

    // KEEP-FIRST'S DIVERGENT (TRANSITIVE-CHAIN) SEMANTICS under the
    // oracle (r16): the one behavior streaming_neardup_keepfirst could
    // not prove — chains A≈B, B≈C with A≉C, where keep-first ADMITS C
    // because rejected B never registered, the exact property a 100 TB
    // ingest relies on for registry growth ∝ unique content. The
    // fixture is built per RANK (row_number over doc_id) so chains
    // span the three batch chunks by construction: position p in each
    // chunk, p%9==0, holds chain member m = chunk index with tokens
    // c<p>t[3m, 3m+39) — a 39-token window sliding by 3 per member, so
    // consecutive members share 34 of 40 distinct 3-gram shingles
    // (J = 0.85 ≥ 0.8) while members two apart share 31 of 43
    // (J = 0.7209 < 0.8). p%9==1 plants identical cross-chunk orbits
    // (keep-first == keep-earliest there); chunk-0 positions p%9∈
    // {3,4,5} plant WITHIN-batch chains (B rejected in-batch still
    // flags C — the batch-local join sees all earlier rows); everything
    // else is high-entropy salad (pairwise shingle-disjoint: a shared
    // token run needs rank diff ≥ 31M by the affine-hash arithmetic).
    // LSH recall: numBands=32 over the 64-perm signature = two perms
    // per band, so a J=0.85 pair misses every band with p =
    // (1 − 0.85²)^32 ≈ 1.5e-18 — structurally negligible even summed
    // over every planted pair at every tested scale — while salad
    // pairs share no shingle and cannot collide except by 64-bit hash
    // equality (identical-set orbit pairs collide deterministically in
    // every band at any geometry). The
    // DuckDB oracle replays the greedy sequential admit/reject fold as
    // a recursive CTE over the id-ordered pair graph (the q_mmr_rerank
    // LATERAL-argmax technique): candidate a for b iff J(a,b) ≥ 0.8
    // AND (same chunk OR a already admitted); dup_of = smallest such
    // a; admitted accumulates. The gate ASSERTS the divergence: every
    // complete chain's m1 is rejected (dup_of = m0) yet m2 is ADMITTED
    // although J(m1,m2) = 0.85 means keep-earliest would flag it —
    // keep-first and keep-earliest verdicts provably differ, and the
    // hash pins keep-first's fold exactly. Registry pin rides along.
    Q("streaming_neardup_keepfirst_chain",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val ids = Tables.documents(s, dir).select(col("doc_id"))
          .collect().map(_.getLong(0)).sorted
        val n = ids.length
        val cs = n / 3 + 1
        def text(r: Int): String = {
          val m = r / cs
          val p = r % cs
          if (p % 9 == 0)
            (3 * m until 3 * m + 39).map(j => s"c${p}t$j").mkString(" ")
          else if (p % 9 == 1)
            (0 until 12).map(j => s"o${p}t$j").mkString(" ")
          else if (m == 0 && p % 9 >= 3 && p % 9 <= 5) {
            val mm = p % 9 - 3
            (3 * mm until 3 * mm + 39).map(j => s"i${p - mm}t$j").mkString(" ")
          } else (0 until 16)
            .map(j => s"w${(r.toLong * 2654435761L + j * 40503L) % 2147483647L}")
            .mkString(" ")
        }
        val rows = ids.zipWithIndex.map { case (id, r) => (id, text(r)) }.toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val tmp = graft.TempDirs.create("neardup-chain").toString
        val out = scala.collection.mutable
          .ArrayBuffer[(Long, Option[Long], Option[Double])]()
        val q = graft.streaming.StreamingNearDup.nearDupStream(
          ms.toDS().toDF("id", "text"), col("id"), col("text"),
          s"$tmp/registry", buckets = 8, minJaccard = 0.8, numBands = 32,
          registerDups = false) { batchOut =>
          out.synchronized {
            out ++= batchOut.collect().map(r => (r.getLong(0),
              if (r.isNullAt(1)) None else Some(r.getLong(1)),
              if (r.isNullAt(2)) None else Some(r.getDouble(2))))
          }
        }
        try {
          rows.grouped(cs).zipWithIndex.foreach { case (chunk, i) =>
            ms.addData(chunk)
            q.processAllAvailable()
            if (i == 1) // zero-dial policy-derived maintenance window
              graft.streaming.StreamingNearDup.maintain(s, s"$tmp/registry")
          }
        } finally q.stop()
        // THE divergence assertion: for every complete cross-chunk
        // chain, m1 is rejected onto m0, and m2 — whose J to rejected
        // m1 is 0.85 ≥ 0.8, so keep-earliest WOULD flag it — is
        // admitted because m1 never registered. Verified against the
        // actual generated strings, not the construction's intent.
        def shingles(t: String): Set[String] =
          t.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")).toSet
        def jac(a: String, b: String): Double = {
          val (x, y) = (shingles(a), shingles(b))
          math.floor(x.intersect(y).size.toDouble /
            math.max(x.union(y).size, 1) * 10000.0) / 10000.0
        }
        val verdicts = out.map(r => r._1 -> r._2).toMap
        val completeChains = (0 until cs)
          .filter(p => p % 9 == 0 && 2 * cs + p < n)
        require(completeChains.nonEmpty, "fixture must plant full chains")
        completeChains.foreach { p =>
          val (m0, m1, m2) = (ids(p), ids(cs + p), ids(2 * cs + p))
          require(verdicts(m1) == Some(m0),
            s"chain $p: m1=$m1 must reject onto m0=$m0, got ${verdicts(m1)}")
          require(jac(text(cs + p), text(2 * cs + p)) >= 0.8,
            s"chain $p: J(m1,m2) must qualify (keep-earliest would flag)")
          require(verdicts(m2).isEmpty,
            s"chain $p: keep-first must ADMIT m2=$m2 (B never " +
              s"registered), got ${verdicts(m2)} — divergence broken")
        }
        // registry ∝ unique content, as in the sibling gate
        val admitted = out.count(_._2.isEmpty).toLong
        val registered = s.read.parquet(s"$tmp/registry/docs")
          .select(col("id")).distinct().count()
        require(registered == admitted,
          s"keep-first registry must hold exactly the admitted docs: " +
            s"registered=$registered admitted=$admitted")
        out.toSeq.toDF("id", "dup_of", "jaccard").orderBy("id")
      },
      Some {
        s"""WITH RECURSIVE cls AS MATERIALIZED (
           |  SELECT doc_id AS id, r, r // cs AS m, r % cs AS p
           |  FROM (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS r,
           |          (SELECT count(*) // 3 + 1 FROM documents) AS cs
           |        FROM documents)),
           |content AS MATERIALIZED (
           |  SELECT id, m AS chunk, CASE
           |    WHEN p % 9 = 0 THEN array_to_string(list_transform(
           |      range(3*m, 3*m + 39),
           |      j -> 'c' || CAST(p AS VARCHAR) || 't' || CAST(j AS VARCHAR)), ' ')
           |    WHEN p % 9 = 1 THEN array_to_string(list_transform(range(0, 12),
           |      j -> 'o' || CAST(p AS VARCHAR) || 't' || CAST(j AS VARCHAR)), ' ')
           |    WHEN m = 0 AND (p % 9) IN (3, 4, 5) THEN array_to_string(
           |      list_transform(range(3*((p % 9) - 3), 3*((p % 9) - 3) + 39),
           |      j -> 'i' || CAST(p - ((p % 9) - 3) AS VARCHAR) || 't' ||
           |        CAST(j AS VARCHAR)), ' ')
           |    ELSE array_to_string(list_transform(range(0, 16),
           |      j -> 'w' || CAST((r * 2654435761 + j * 40503) % 2147483647
           |        AS VARCHAR)), ' ')
           |  END AS text FROM cls),
           |pc AS MATERIALIZED (
           |  SELECT p.id_a, p.id_b, p.jaccard,
           |    ca.chunk AS chunk_a, cb.chunk AS chunk_b
           |  FROM (${graft.dedup.Dedup.ngramJaccardPairsIndexedSql(
                  "content", "id", "text", n = 3, minJaccard = 0.8)}) p
           |  JOIN content ca ON ca.id = p.id_a
           |  JOIN content cb ON cb.id = p.id_b),
           |seq AS MATERIALIZED (
           |  SELECT id, row_number() OVER (ORDER BY id) AS rn
           |  FROM (SELECT id_a AS id FROM pc UNION SELECT id_b FROM pc)),
           |fold AS (
           |  SELECT CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS id,
           |         CAST(NULL AS BIGINT) AS dup_of,
           |         CAST(NULL AS DOUBLE) AS jaccard,
           |         CAST([] AS BIGINT[]) AS admitted
           |  UNION ALL
           |  SELECT s.rn, s.id, d.dup_of, d.jaccard,
           |         CASE WHEN d.dup_of IS NULL
           |              THEN list_append(f.admitted, s.id)
           |              ELSE f.admitted END
           |  FROM fold f JOIN seq s ON s.rn = f.rn + 1
           |  LEFT JOIN LATERAL (
           |    SELECT p.id_a AS dup_of, p.jaccard FROM pc p
           |    WHERE p.id_b = s.id
           |      AND (p.chunk_a = p.chunk_b
           |           OR list_contains(f.admitted, p.id_a))
           |    ORDER BY p.id_a LIMIT 1) d ON TRUE)
           |SELECT d.doc_id AS id, f.dup_of, f.jaccard
           |FROM documents d
           |LEFT JOIN (SELECT id, dup_of, jaccard FROM fold
           |           WHERE id IS NOT NULL) f
           |  ON f.id = d.doc_id
           |ORDER BY id""".stripMargin
      }),

    // Paragraph-level corpus dedup (CCNet-style): corpus-wide repeated
    // paragraphs dropped, first occurrence kept, documents reassembled
    // in paragraph order. Fixture plants a universal header, per-block
    // shared footers, and all-boilerplate documents (doc_id % 11 == 0,
    // whose clean_text must come back empty).
    // Span-level duplication signals (Lee et al. exact-substring dedup
    // summary): 5-gram positions occurring elsewhere in the corpus /
    // not globally first. The boilerplated fixture plants corpus-wide
    // header spans and per-block footer spans inside otherwise-unique
    // documents.
    Q("text_repeated_spans",
      (s, dir) => TextAnalysis.repeatedSpans(Tables.documents(s, dir),
          col("doc_id"), Enrich.boilerplated(col("text"), col("doc_id")), n = 5)
        .orderBy("id"),
      Some(TextAnalysis.repeatedSpansSql("documents", "doc_id",
        Enrich.boilerplatedSql("text", "doc_id"), n = 5) + " ORDER BY id")),

    // The exact-substring dedup pass itself: maximal removed spans
    // (duplicate 5-gram positions, globally-first occurrence kept,
    // overlapping/adjacent ranges merged) — the edit list Lee et al.'s
    // cleaning applies; repeated_spans above is its summary statistic
    Q("text_substring_dedup",
      (s, dir) => TextAnalysis.substringDedupSpans(Tables.documents(s, dir),
          col("doc_id"), Enrich.boilerplated(col("text"), col("doc_id")), n = 5)
        .orderBy("id", "span_start"),
      Some(TextAnalysis.substringDedupSpansSql("documents", "doc_id",
        Enrich.boilerplatedSql("text", "doc_id"), n = 5)
        + " ORDER BY id, span_start")),

    // The span list applied: tokens inside removal spans dropped in
    // place (order kept), the detect→remove pair completing the Lee
    // et al. stage. Narrow HOF filter per row — no token explode
    Q("text_substring_clean",
      (s, dir) => TextAnalysis.substringDedupApply(Tables.documents(s, dir),
          col("doc_id"), Enrich.boilerplated(col("text"), col("doc_id")), n = 5)
        .select(col("id"), col("n_tokens"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("id"),
      Some(s"""SELECT id, n_tokens, n_removed, md5(clean_text) AS clean_md5
              |FROM (${TextAnalysis.substringDedupApplySql("documents", "doc_id",
                Enrich.boilerplatedSql("text", "doc_id"), n = 5)})
              |ORDER BY id""".stripMargin)),

    // Fixed-stride sliding-window chunking (window 64, stride 48 →
    // 16-token overlap): the embedding-prep layout the greedy packer
    // (F2) doesn't produce; narrow per-row transform, windows reach
    // the tail, empty documents emit nothing
    Q("text_sliding_chunks",
      (s, dir) => TextAnalysis.slidingChunks(Tables.documents(s, dir),
          col("doc_id"), col("text"), window = 64, stride = 48)
        .orderBy("id", "win_idx"),
      Some(TextAnalysis.slidingChunksSql("documents", "doc_id", "text",
        window = 64, stride = 48) + " ORDER BY id, win_idx")),

    Q("text_paragraph_dedup",
      (s, dir) => TextAnalysis.paragraphDedup(Tables.documents(s, dir),
          col("doc_id"), Enrich.boilerplated(col("text"), col("doc_id")))
        .select(col("id").as("doc_id"), col("n_paras"), col("n_kept"),
          length(col("clean_text")).as("clean_len"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id"),
      Some(s"""SELECT id AS doc_id, n_paras, n_kept,
              | length(clean_text) AS clean_len, md5(clean_text) AS clean_md5
              |FROM (${TextAnalysis.paragraphDedupSql("documents", "doc_id",
                 Enrich.boilerplatedSql("text", "doc_id"))})
              |ORDER BY doc_id""".stripMargin)),

    // Cross-engine-deterministic HyperLogLog: per-language vocabulary
    // cardinality from 4096 sha256-derived registers — fixed-size
    // mergeable state instead of a corpus-wide DISTINCT shuffle; the
    // ESTIMATE itself is hash-gated (exact-integer register math, one
    // final IEEE division — see operators/Sketches), unlike the
    // engine-native sketches gated only within tolerance
    // (q_approx_sketches). exact_vocab rides along for comparison —
    // at 100 TB only the sketch side runs.
    Q("sketch_hll_vocab",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("lang").as("grp"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("key"))
          .where(col("key") =!= "")
        val est = graft.operators.Sketches.hllEstimate(toks, col("grp"), col("key"))
        val exact = toks.groupBy("grp").agg(countDistinct(col("key")).as("exact_vocab"))
        est.join(exact, "grp")
          .select(col("grp").as("lang"), col("exact_vocab"), col("v_zero"),
            col("s_int"), col("hll_est"))
          .orderBy("lang")
      },
      Some {
        val ts = graft.operators.Sketches.tokenStreamSql("documents", "lang", "text")
        s"""WITH est AS (${graft.operators.Sketches.hllEstimateSql(ts)}),
           |ex AS (SELECT grp, count(DISTINCT key) AS exact_vocab
           |       FROM ($ts) GROUP BY 1)
           |SELECT est.grp AS lang, ex.exact_vocab, est.v_zero, est.s_int,
           |  est.hll_est
           |FROM est JOIN ex ON est.grp = ex.grp ORDER BY lang""".stripMargin
      }),

    // Count–min sketch point frequencies for the top-20 corpus terms:
    // 4×4096 counters out of any corpus (map-side partial agg, counter
    // merge = sum), probed estimate = min over the 4 rows — integer
    // end-to-end, so the CM upper bound (cms_n ≥ exact_n, overcount
    // bounded by collisions) is itself hash-gated against DuckDB
    Q("sketch_cms_freq",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(explode(split(lower(trim(col("text"))), "\\s+")).as("key"))
          .where(col("key") =!= "")
        val exact = toks.groupBy(col("key").as("term"))
          .agg(count(lit(1)).as("exact_n"))
        val probes = exact.orderBy(desc("exact_n"), asc("term")).limit(20)
        probes.join(
            graft.operators.Sketches.cmsEstimate(toks, col("key"),
              probes.select("term")), "term")
          .select(col("term"), col("exact_n"), col("cms_n"))
          .orderBy(desc("exact_n"), asc("term"))
      },
      Some(graft.operators.Sketches.cmsTopTermsSql(
        s"""SELECT t AS key FROM (
           |  SELECT unnest(string_split_regex(lower(trim(text)),
           |    '${TextAnalysis.WsClassSqlPublic}+')) AS t FROM documents)
           |WHERE t <> ''""".stripMargin, topN = 20))),

    // Deterministic log-bucket quantile sketch — the bounded-state
    // percentile answer (percentile() sorts per group; the engine's
    // t-digest is sampling-based and not cross-engine replayable).
    // Bit-length buckets + 6 mantissa bits: ≤ 2^-6 relative error,
    // fixed-size commutative merge state (the streaming combiner for
    // free), and the oracle replays the identical integer bucketing
    Q("q_quantile_sketch",
      (s, dir) => graft.operators.Sketches.logQuantiles(
        Tables.lineitem(s, dir)
          .select(floor(col("l_extendedprice") * 100d + 0.5d)
            .cast("long").as("cents")),
        col("cents"), Seq(0.5, 0.9, 0.99)),
      Some(graft.operators.Sketches.logQuantilesSql("lineitem",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)",
        Seq(0.5, 0.9, 0.99)))),

    // The same sketch maintained as a STREAM (13th streaming route):
    // the bucket table is a complete-mode streaming groupBy — the
    // fixed-size commutative state needs no new code to become the
    // streaming combiner — replayed in three micro-batches, quantiles
    // read from the maintained state, same oracle as the batch row
    Q("streaming_quantiles",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        // deterministic quarter-corpus replay (oracle filtered
        // identically) — the maintained-state semantics need the
        // micro-batches, not the volume
        val cents = Tables.lineitem(s, dir)
          .where(pmod(col("l_orderkey"), lit(4)) === 0)
          .select(floor(col("l_extendedprice") * 100d + 0.5d)
            .cast("long").as("cents"))
          .collect().map(_.getLong(0)).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[Long]
        val buckets = graft.operators.Sketches.bucketCounts(
          ms.toDS().toDF("cents"), col("cents"))
        val qName = "graft_streaming_quantiles"
        val q = buckets.writeStream.format("memory").queryName(qName)
          .outputMode("complete").start()
        try {
          cents.grouped(cents.length / 3 + 1).foreach { chunk =>
            ms.addData(chunk)
            q.processAllAvailable()
          }
        } finally q.stop()
        graft.operators.Sketches.quantilesFromBuckets(
          s.table(qName), Seq(0.5, 0.9, 0.99))
      },
      Some(graft.operators.Sketches.logQuantilesSql(
        "(SELECT * FROM lineitem WHERE l_orderkey % 4 = 0) l4",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)",
        Seq(0.5, 0.9, 0.99)))),

    // GROUPED sketch: the same bucket arithmetic keyed by
    // (group, bucket) — per-key percentiles (per-domain length/quality
    // distributions) with groups × ≤8k-row state and per-group rank
    // selection under a group-partitioned window (no sort-per-group,
    // no single-partition stage)
    Q("q_quantile_sketch_grouped",
      (s, dir) => graft.operators.Sketches.logQuantilesBy(
        Tables.lineitem(s, dir)
          .select(col("l_returnflag"),
            floor(col("l_extendedprice") * 100d + 0.5d)
              .cast("long").as("cents")),
        "l_returnflag", col("cents"), Seq(0.5, 0.9, 0.99)),
      Some(graft.operators.Sketches.logQuantilesBySql("lineitem",
        "l_returnflag", "l_returnflag",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)",
        Seq(0.5, 0.9, 0.99)))),

    // The grouped sketch MAINTAINED AS A STREAM (15th streaming
    // route): (group, bucket) state is commutative, so the identical
    // bucketCountsBy aggregation runs as a complete-mode streaming
    // groupBy across three micro-batches and the per-group selection
    // reads the maintained state unchanged — same oracle as the batch
    // grouped row over the same deterministic quarter slice
    Q("streaming_quantiles_grouped",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val rows = Tables.lineitem(s, dir)
          .where(pmod(col("l_orderkey"), lit(4)) === 0)
          .select(col("l_returnflag"),
            floor(col("l_extendedprice") * 100d + 0.5d)
              .cast("long").as("cents"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(String, Long)]
        val buckets = graft.operators.Sketches.bucketCountsBy(
          ms.toDS().toDF("l_returnflag", "cents"), "l_returnflag",
          col("cents"))
        val qName = "graft_streaming_quantiles_grouped"
        val q = buckets.writeStream.format("memory").queryName(qName)
          .outputMode("complete").start()
        try {
          rows.grouped(rows.length / 3 + 1).foreach { chunk =>
            ms.addData(chunk)
            q.processAllAvailable()
          }
        } finally q.stop()
        graft.operators.Sketches.quantilesFromBucketsBy(
          s.table(qName), "l_returnflag", Seq(0.5, 0.9, 0.99))
      },
      Some(graft.operators.Sketches.logQuantilesBySql(
        "(SELECT * FROM lineitem WHERE l_orderkey % 4 = 0) l4",
        "l_returnflag", "l_returnflag",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)",
        Seq(0.5, 0.9, 0.99)))),

    // CHECKPOINT KILL-AND-RESUME (r12): the complete-mode grouped
    // sketch STOPPED after two of its three micro-batches and resumed
    // by a NEW query on the same checkpointLocation — the
    // crash-recovery path a weeks-long ingest actually runs, until now
    // a scaladoc claim with no gate. The state store must restore the
    // (group, bucket) histogram exactly, so the resumed run sits under
    // the IDENTICAL batch oracle as the uninterrupted route above.
    Q("streaming_resume_quantiles",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val rows = Tables.lineitem(s, dir)
          .where(pmod(col("l_orderkey"), lit(4)) === 0)
          .select(col("l_returnflag"),
            floor(col("l_extendedprice") * 100d + 0.5d)
              .cast("long").as("cents"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(String, Long)]
        val buckets = graft.operators.Sketches.bucketCountsBy(
          ms.toDS().toDF("l_returnflag", "cents"), "l_returnflag",
          col("cents"))
        val ckpt = graft.TempDirs.create("resume-quant").toString
        val chunks = rows.grouped(rows.length / 3 + 1).toSeq
        val q1 = buckets.writeStream.format("memory")
          .queryName("graft_resume_quantiles_pre").outputMode("complete")
          .option("checkpointLocation", ckpt).start()
        try {
          chunks.take(2).foreach { c => ms.addData(c); q1.processAllAvailable() }
        } finally q1.stop()
        val qName = "graft_streaming_resume_quantiles"
        val q2 = buckets.writeStream.format("memory").queryName(qName)
          .outputMode("complete").option("checkpointLocation", ckpt).start()
        try {
          chunks.drop(2).foreach { c => ms.addData(c); q2.processAllAvailable() }
        } finally q2.stop()
        graft.operators.Sketches.quantilesFromBucketsBy(
          s.table(qName), "l_returnflag", Seq(0.5, 0.9, 0.99))
      },
      Some(graft.operators.Sketches.logQuantilesBySql(
        "(SELECT * FROM lineitem WHERE l_orderkey % 4 = 0) l4",
        "l_returnflag", "l_returnflag",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)",
        Seq(0.5, 0.9, 0.99)))),

    // APPEND-MODE grouped quantiles (17th streaming route): the same
    // grouped sketch under a WATERMARKED WINDOW — complete mode
    // re-emits every group's state each trigger, append mode emits
    // each (window, group)'s quantile rows exactly once on window
    // close. Two chained stateful operators (the streaming_maxsim
    // window_time re-keying pattern), both with bounded per-key state:
    // (window, group, bucket) histogram rows, then a per-(window,
    // group) bounded-map fold finishing with the identical rank
    // selection — same oracle as the complete-mode route
    Q("streaming_quantiles_windowed",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val t0 = 1700000000000L
        val rows = Tables.lineitem(s, dir)
          .where(pmod(col("l_orderkey"), lit(4)) === 0)
          .select(col("l_returnflag"),
            floor(col("l_extendedprice") * 100d + 0.5d)
              .cast("long").as("cents"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1),
            new java.sql.Timestamp(t0))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(String, Long, java.sql.Timestamp)]
        val out = graft.streaming.StreamingQuantiles.windowedQuantilesByGroup(
          ms.toDS().toDF("l_returnflag", "cents", "ts"),
          "l_returnflag", col("cents"), Seq(0.5, 0.9, 0.99))
        val qName = "graft_streaming_quantiles_windowed"
        val q = out.writeStream.format("memory").queryName(qName)
          .outputMode("append").start()
        try {
          rows.grouped(rows.length / 3 + 1).foreach { chunk =>
            ms.addData(chunk)
            q.processAllAvailable()
          }
          // close the window: a late sentinel group advances the
          // watermark through both chained stateful operators
          ms.addData(Seq(("~closer", 1L,
            new java.sql.Timestamp(t0 + 7200000L))))
          q.processAllAvailable()
          ms.addData(Seq.empty[(String, Long, java.sql.Timestamp)])
          q.processAllAvailable()
        } finally q.stop()
        s.table(qName).where(col("l_returnflag") =!= "~closer")
          .select(col("l_returnflag"), col("q"), col("value_lb"))
          .orderBy("l_returnflag", "q")
      },
      Some(graft.operators.Sketches.logQuantilesBySql(
        "(SELECT * FROM lineitem WHERE l_orderkey % 4 = 0) l4",
        "l_returnflag", "l_returnflag",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)",
        Seq(0.5, 0.9, 0.99)))),

    // …and its curation consumer: per-domain p90 length bound from the
    // grouped sketch, joined back (broadcast — groups × quantiles
    // rows, bounded) to count the docs each domain keeps under its own
    // bound. The composition a 100 TB curation pass runs: one bounded
    // sketch shuffle + one broadcast join, corpus scanned twice, never
    // sorted
    Q("curation_length_pctl",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("source"), col("n_chars").cast("long").as("len"))
        val pct = graft.operators.Sketches.logQuantilesBy(
            docs, "source", col("len"), Seq(0.9))
          .select(col("source"), col("value_lb"))
        docs.join(broadcast(pct), "source")
          .groupBy(col("source"))
          .agg(max(col("value_lb")).as("p90_lb"),
            sum(when(col("len") < col("value_lb"), 1L).otherwise(0L))
              .as("n_kept"),
            count(lit(1)).as("n_docs"))
          .orderBy("source")
      },
      Some(s"""WITH pct AS (
        |${graft.operators.Sketches.logQuantilesBySql("documents",
             "source", "source", "CAST(n_chars AS BIGINT)", Seq(0.9))})
        |SELECT d.source, CAST(max(p.value_lb) AS BIGINT) AS p90_lb,
        |  CAST(sum(CASE WHEN CAST(d.n_chars AS BIGINT) < p.value_lb
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents d JOIN pct p ON d.source = p.source
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // RefinedWeb-style per-domain document cap: at most 10 docs per
    // source, preferring quality score (10 of ~25 fixture docs survive) — row_number ≤ n plans as a
    // map-side WindowGroupLimit, so a mega-domain costs its cap (not
    // its size) in shuffle volume
    Q("curation_domain_cap",
      (s, dir) => graft.text.Curation.domainCap(
          Tables.documents(s, dir).select(col("doc_id"), col("source"),
            TextAnalysis.qualityScore(col("text")).as("q")),
          col("source"), col("doc_id"), col("q"), maxDocs = 10)
        .orderBy("source", "domain_rank"),
      Some(graft.text.Curation.domainCapSql(
        s"""(SELECT doc_id, source,
           |  ${TextAnalysis.qualityScoreSql("text")} AS q FROM documents)""".stripMargin,
        "source", "doc_id", "q", maxDocs = 10,
        selectCols = "doc_id, source, q") + " ORDER BY source, domain_rank")),

    // Token-budgeted variant: each domain keeps its quality-ordered
    // prefix up to 600 whitespace tokens (~40% of each fixture domain) — domains equalized by what
    // the training mix consumes (token mass), not document count
    Q("curation_domain_budget",
      (s, dir) => graft.text.Curation.domainTokenBudget(
          Tables.documents(s, dir).select(col("doc_id"), col("source"),
            TextAnalysis.qualityScore(col("text")).as("q"),
            TextAnalysis.nTokensWs(col("text")).as("n_tok")),
          col("source"), col("doc_id"), col("q"), col("n_tok"),
          maxTokens = 600L)
        .orderBy("source", "doc_id"),
      Some(graft.text.Curation.domainTokenBudgetSql(
        s"""(SELECT doc_id, source,
           |  ${TextAnalysis.qualityScoreSql("text")} AS q,
           |  ${TextAnalysis.nTokensWsSql("text")} AS n_tok FROM documents)""".stripMargin,
        "source", "doc_id", "q", "n_tok", maxTokens = 600L,
        selectCols = "doc_id, source, q, n_tok") + " ORDER BY source, doc_id")),

    // Admission control through the CONTINUOUS route
    // (streaming/StreamingCuration): per-domain lifetime token budget,
    // arrival-order greedy — a too-large doc is rejected but the
    // domain stays open. All docs arrive in ONE micro-batch, where the
    // contract sorts by doc_id, so the oracle can replay the greedy
    // fold as a per-domain recursive CTE (the F2 chunk-packer replay
    // pattern). Budget 600 (the maxTokens below AND in the oracle
    // SQL — keep them in lockstep) forces a mix of admits, skips, and
    // post-skip re-admits per fixture domain.
    Q("streaming_curation_admitted",
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val rows = Tables.documents(s, dir)
          .select(col("source"), col("doc_id"),
            TextAnalysis.nTokensWs(col("text")).cast("long").as("n_tok"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(String, Long, Long)]
        ms.addData(rows)
        val out = graft.streaming.StreamingCuration.admitWithBudget(
          ms.toDS().toDF("domain", "doc_id", "n_tokens"), maxTokens = 600L)
        val qName = "graft_streaming_curation"
        val q = out.writeStream.format("memory").queryName(qName)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        s.table(qName)
          .select(col("domain"), col("doc_id"), col("n_tokens"),
            col("cum_tokens"))
          .orderBy("domain", "doc_id")
      },
      Some(s"""WITH RECURSIVE d AS MATERIALIZED (
              |  SELECT source AS domain, doc_id,
              |    CAST(${TextAnalysis.nTokensWsSql("text")} AS BIGINT) AS n_tokens,
              |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
              |  FROM documents
              |), rec AS (
              |  SELECT domain, rn, doc_id, n_tokens,
              |    CASE WHEN n_tokens <= 600 THEN n_tokens ELSE 0 END AS cum,
              |    (n_tokens <= 600) AS admitted
              |  FROM d WHERE rn = 1
              |  UNION ALL
              |  SELECT d.domain, d.rn, d.doc_id, d.n_tokens,
              |    CASE WHEN rec.cum + d.n_tokens <= 600
              |         THEN rec.cum + d.n_tokens ELSE rec.cum END,
              |    rec.cum + d.n_tokens <= 600
              |  FROM rec JOIN d ON d.domain = rec.domain AND d.rn = rec.rn + 1
              |)
              |SELECT domain, doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
              |FROM rec WHERE admitted
              |ORDER BY domain, doc_id""".stripMargin)),

    // Unicode NFC normalization (custom codegen Expression — Spark has
    // no built-in): composed (U+00E9) and decomposed (e+U+0301) forms
    // of the same visible text hash apart and silently survive every
    // hash-keyed dedup stage; normalizing first closes the hole. The
    // fixture plants both forms by doc_id residue; DuckDB's
    // nfc_normalize is the twin (same UAX #15 target form)
    Q("text_nfc_normalize",
      (s, dir) => {
        // markers are visually identical but byte-distinct: composed
        // U+00E9 vs decomposed e + combining U+0301 (unicode escapes
        // keep editors/tools from silently re-normalizing the source)
        val marker = when(pmod(col("doc_id"), lit(3)) === 0,
            lit("caf\u00e9"))
          .when(pmod(col("doc_id"), lit(3)) === 1, lit("cafe\u0301"))
          .otherwise(lit("cafe"))
        val raw = concat(col("text"), marker)
        Tables.documents(s, dir)
          .select(col("doc_id"), raw.as("raw"))
          .select(col("doc_id"),
            length(col("raw")).as("raw_len"),
            length(graft.text.UnicodeNorm.nfc(col("raw"))).as("nfc_len"),
            md5(graft.text.UnicodeNorm.nfc(col("raw"))).as("nfc_md5"),
            (md5(col("raw")) =!= md5(graft.text.UnicodeNorm.nfc(col("raw"))))
              .as("changed"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, length(raw) AS raw_len,
             | length(nfc_normalize(raw)) AS nfc_len,
             | md5(nfc_normalize(raw)) AS nfc_md5,
             | md5(raw) <> md5(nfc_normalize(raw)) AS changed
             |FROM (SELECT doc_id, text || CASE doc_id % 3
             |  WHEN 0 THEN 'caf' || chr(233)
             |  WHEN 1 THEN 'cafe' || chr(769)
             |  ELSE 'cafe' END AS raw FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // Content-defined chunking (the rsync/LBFS boundary trick): chunk
    // ends where the rolling 8-char hash ≡ 0 mod 64, so an edit moves
    // only its neighborhood's boundaries and unchanged regions keep
    // identical chunk md5s — the chunk-level-dedup property fixed
    // strides lack. Exact-integer hash, narrow projection + one
    // generator, corpus chunks never shuffle
    Q("text_cdc_chunks",
      (s, dir) => graft.text.Cdc.cdcChunks(Tables.documentsPar(s, dir),
          col("doc_id"), col("text"), modulus = 64)
        .orderBy("id", "chunk_idx"),
      Some(graft.text.Cdc.cdcChunksSql("documents", "doc_id", "text",
        modulus = 64) + " ORDER BY id, chunk_idx")),

    // Length-bucketed batching prep: assign every document to one of 8
    // token-length percentile buckets — the pre-pass that lets a
    // training loader pad batches within a bucket instead of to the
    // corpus max. SCALABLE form: boundaries from one aggregation
    // (floor-truncated R-7 percentiles, cross-engine exact per
    // q_percentiles), assignment a broadcast fold over the 7-value
    // boundary array — no ntile, no global window, no single-partition
    // sort
    Q("pipeline_length_buckets",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.nTokensWs(col("text")).as("n_tok"))
        val qs = (1 to 7).map(_ / 8.0)
        val bounds = toks.agg(
          expr(s"percentile(n_tok, array(${qs.mkString(", ")}))").as("bs"))
          .select(transform(col("bs"), b => floor(b * 10000.0) / 10000.0).as("bs"))
        toks.crossJoin(broadcast(bounds))
          .select(col("doc_id"), col("n_tok"),
            (aggregate(col("bs"), lit(0),
              (acc, b) => acc + when(col("n_tok").cast("double") > b, 1)
                .otherwise(0)) + 1).as("bucket"))
          .orderBy("doc_id")
      },
      Some {
        val qs = (1 to 7).map(_ / 8.0)
        s"""WITH toks AS (
           |  SELECT doc_id, ${TextAnalysis.nTokensWsSql("text")} AS n_tok
           |  FROM documents
           |), bounds AS (
           |  SELECT list_transform(quantile_cont(n_tok, [${qs.mkString(", ")}]),
           |    b -> floor(b * 10000.0) / 10000.0) AS bs
           |  FROM toks
           |)
           |SELECT t.doc_id, t.n_tok,
           |  CAST(list_sum(list_transform(b.bs,
           |    x -> CASE WHEN CAST(t.n_tok AS DOUBLE) > x THEN 1 ELSE 0 END))
           |    + 1 AS INTEGER) AS bucket
           |FROM toks t, bounds b ORDER BY t.doc_id""".stripMargin
      }),

    // Coreset / diversity selection: k-center greedy (farthest-point
    // traversal) over the embedding corpus — pick the k most mutually
    // distant points as the diverse training subset, last selection
    // distance = achieved coverage radius. Incremental min-distance
    // maintenance: k narrow scans + k 1-row reductions, no shuffle;
    // oracle unrolls the same k rounds as chained materialized CTEs
    Q("mldata_coreset_kcenter",
      (s, dir) => graft.ml.Coreset.kCenterGreedy(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"), k = 5),
      Some(graft.ml.Coreset.kCenterGreedySql(
        "embeddings", "vec_id", "embedding", k = 5))),

    // Distribution-drift monitor: per-source PSI between the even-id
    // (baseline) and odd-id (current) document halves over fixed-width
    // length buckets — the corpus-drop go/no-go check a production
    // pipeline runs before ingesting. Bounded bucket tables, add-one
    // smoothing, BM25-style grid summation under the ln
    Q("q_psi_drift",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.stats.Drift.psiByGroup(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 =!= 0),
          "source", expr("CAST(n_chars AS BIGINT) DIV 500"))
          .orderBy("source")
      },
      Some(graft.stats.Drift.psiByGroupSql(
        "SELECT source AS g, CAST(n_chars AS BIGINT) // 500 AS bucket " +
          "FROM documents WHERE doc_id % 2 = 0",
        "SELECT source AS g, CAST(n_chars AS BIGINT) // 500 AS bucket " +
          "FROM documents WHERE doc_id % 2 = 1",
        "source") + " ORDER BY source")),

    // EMBEDDING-distribution drift: PSI over nearest-anchor cluster
    // occupancy histograms — the form an embedding pipeline needs (a
    // scalar histogram cannot see a re-trained embedder). Assignment is
    // a shuffle-free least() fold over the bounded anchor list; the
    // gate's anchors are corpus rows so DuckDB replays the assignment
    // exactly (production passes Ann.buildIvf centroids — DriftSpec)
    Q("q_psi_emb_drift",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val anchors = anchorVecs(emb)
        graft.stats.Drift.psiEmbedding(
          emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 =!= 0),
          col("embedding"), anchors)
          .orderBy("metric")
      },
      Some(psiEmbDriftOracle)),

    // The drift monitor AS A STREAM (18th streaming route): the
    // current side's (source, bucket) counts maintain as a
    // complete-mode streaming groupBy (commutative count state — the
    // streaming_quantiles_grouped pattern) across three micro-batches,
    // and psiFromCounts reads the maintained state against the static
    // baseline unchanged — same oracle as the batch drift row
    Q("streaming_psi_drift",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val docs = Tables.documents(s, dir)
        val baseCounts = docs.where(col("doc_id") % 2 === 0)
          .select(col("source"),
            expr("CAST(n_chars AS BIGINT) DIV 500").as("bucket"))
          .groupBy("source", "bucket").agg(count(lit(1)).as("cnt"))
        val rows = docs.where(col("doc_id") % 2 =!= 0)
          .select(col("source"), col("n_chars").cast("long"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(String, Long)]
        val counts = ms.toDS().toDF("source", "n_chars")
          .select(col("source"),
            expr("CAST(n_chars AS BIGINT) DIV 500").as("bucket"))
          .groupBy("source", "bucket").agg(count(lit(1)).as("cnt"))
        val qName = "graft_streaming_psi_drift"
        val q = counts.writeStream.format("memory").queryName(qName)
          .outputMode("complete").start()
        try {
          rows.grouped(rows.length / 3 + 1).foreach { chunk =>
            ms.addData(chunk)
            q.processAllAvailable()
          }
        } finally q.stop()
        graft.stats.Drift.psiFromCounts(baseCounts, s.table(qName), "source")
          .orderBy("source")
      },
      Some(graft.stats.Drift.psiByGroupSql(
        "SELECT source AS g, CAST(n_chars AS BIGINT) // 500 AS bucket " +
          "FROM documents WHERE doc_id % 2 = 0",
        "SELECT source AS g, CAST(n_chars AS BIGINT) // 500 AS bucket " +
          "FROM documents WHERE doc_id % 2 = 1",
        "source") + " ORDER BY source")),

    // Cluster-BALANCED sampling: curation by embedding diversity —
    // assign every vector to its nearest anchor (the shuffle-free
    // least() fold) and take an exact per-cluster quota via the house
    // deterministic sha256 rank. A pure composition of embeddingBucket
    // + sampleNPerGroup: the anti-mode-collapse downsampling pass a
    // corpus drop gets before training
    Q("q_sample_cluster_balanced",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val anchors = anchorVecs(emb)
        val assigned = emb.select(col("vec_id"),
          graft.stats.Drift.embeddingBucket(col("embedding"), anchors)
            .cast("long").as("cluster"))
        graft.operators.Sampling.sampleNPerGroup(assigned,
            col("cluster"), col("vec_id"), nPer = 10)
          .orderBy("cluster", "vec_id")
      },
      Some(clusterBalancedOracle)),

    // EMBEDDING drift AS A STREAM (21st streaming route): the anchor
    // assignment is a STATELESS projection (the least() fold), so the
    // only state is the complete-mode (metric, bucket) count table —
    // bounded by the anchor count — maintained across three
    // micro-batches; psiFromCounts reads it against the static
    // baseline. Same oracle as the batch q_psi_emb_drift row
    Q("streaming_psi_emb_drift",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val emb = Tables.embeddings(s, dir)
        val anchors = anchorVecs(emb)
        def buckets(df: DataFrame) = df
          .select(lit("embedding").as("metric"),
            graft.stats.Drift.embeddingBucket(col("embedding"), anchors)
              .cast("long").as("bucket"))
          .groupBy("metric", "bucket").agg(count(lit(1)).as("cnt"))
        val baseCounts = buckets(emb.where(col("vec_id") % 2 === 0))
        val rows = emb.where(col("vec_id") % 2 =!= 0)
          .select(col("vec_id"), col("embedding"))
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Seq[Float])]
        val counts = buckets(ms.toDS().toDF("vec_id", "embedding"))
        val qName = "graft_streaming_psi_emb"
        val q = counts.writeStream.format("memory").queryName(qName)
          .outputMode("complete").start()
        try {
          rows.grouped(rows.length / 3 + 1).foreach { chunk =>
            ms.addData(chunk)
            q.processAllAvailable()
          }
        } finally q.stop()
        graft.stats.Drift.psiFromCounts(baseCounts, s.table(qName), "metric")
          .orderBy("metric")
      },
      Some(psiEmbDriftOracle)),

    // Contrastive-training triplet mining: anchor + nearest same-label
    // neighbor (positive) + deterministic hash-min other-label vector
    // (negative) — the embedding-model dataset-prep step, reproducible
    // end-to-end. Positives pair within label partitions (bounded by
    // the class); negatives resolve from a labels-sized table
    Q("mldata_triplets",
      (s, dir) => graft.ml.Triplets.mine(Tables.embeddings(s, dir),
          col("vec_id"), col("embedding"), col("label"))
        .orderBy("anchor"),
      Some(graft.ml.Triplets.mineSql("embeddings", "vec_id", "embedding",
        "label") + " ORDER BY anchor")),

    // Hard-negative variant: the nearest OTHER-label vector per anchor
    // — the near-miss negatives that actually train an embedding
    // model. Cross-label pairs are ~M×N, so this is the oracle/small
    // tier; the scale path flips mineLsh's label constraint (band
    // collisions across labels)
    Q("mldata_triplets_hard",
      (s, dir) => graft.ml.Triplets.mineHard(Tables.embeddingsPar(s, dir),
          col("vec_id"), col("embedding"), col("label"))
        .orderBy("anchor"),
      Some(graft.ml.Triplets.mineHardSql("embeddings", "vec_id", "embedding",
        "label") + " ORDER BY anchor")),

    // Hard-negative mining, LSH SCALE tier, under its exactness dial:
    // corpus = embeddings ∪ same-label ×2 copies ∪ other-label ×4
    // copies (power-of-two scaling is float-exact, so every copy has
    // cosine exactly 1.0 with its original and identical hyperplane
    // signs — all bands collide deterministically). Each original
    // anchor's positive AND hardest negative are therefore its planted
    // copies, so the exact-route oracle replays the LSH route verbatim
    // (dedup_embedding_lsh's trick, both sides of the triplet).
    // Probabilistic-recall behavior at genuine near-miss geometry is
    // pinned by TripletsSpec instead.
    Q("mldata_triplets_hard_lsh",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id").cast("long").as("vid"), col("embedding"),
            col("label").cast("long").as("label"))
        val same = emb.select((col("vid") + 1000000L).as("vid"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
            .as("embedding"), col("label"))
        val cross = emb.select((col("vid") + 2000000L).as("vid"),
          transform(col("embedding"), x => (x * lit(4.0f)).cast("float"))
            .as("embedding"), (col("label") + 1000L).as("label"))
        graft.ml.Triplets.mineHardLsh(emb.unionAll(same).unionAll(cross),
            col("vid"), col("embedding"), col("label"),
            dim = 64, bands = 8, bits = 16)
          .where(col("anchor") < 1000000L)
          .orderBy("anchor")
      },
      Some {
        val corpus =
          """(SELECT CAST(vec_id AS BIGINT) AS vid, embedding,
            |   CAST(label AS BIGINT) AS label FROM embeddings
            | UNION ALL
            | SELECT CAST(vec_id + 1000000 AS BIGINT),
            |   list_transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT)),
            |   CAST(label AS BIGINT) FROM embeddings
            | UNION ALL
            | SELECT CAST(vec_id + 2000000 AS BIGINT),
            |   list_transform(embedding, x -> CAST(x * CAST(4.0 AS FLOAT) AS FLOAT)),
            |   CAST(label + 1000 AS BIGINT) FROM embeddings) c""".stripMargin
        s"""SELECT * FROM (
           |${graft.ml.Triplets.mineHardSql(corpus, "vid", "embedding", "label")}
           |) WHERE anchor < 1000000 ORDER BY anchor""".stripMargin
      }),

    // Deterministic training order: shard in [0,16) + in-shard
    // position — a reproducible global permutation decoupled from
    // ingest order (no accidental curriculum), re-runnable bit-for-bit
    // where a rand() shuffle is neither. Projection + one bounded
    // per-shard window
    Q("mldata_shard_order",
      (s, dir) => graft.operators.Splits.shardOrder(
          Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          col("doc_id"), nShards = 16, salt = "order")
        .orderBy("shard", "pos"),
      Some(graft.operators.Splits.shardOrderSql("documents", "doc_id",
        nShards = 16, salt = "order", selectCols = "doc_id, lang")
        + " ORDER BY shard, pos")),

    // Latest-wins snapshot compaction (MERGE/upsert as a batch
    // operator): base snapshot ∪ versioned updates → highest-version
    // row per key through ONE max_by hash aggregate (map-side partial;
    // no window over the union) — the incremental re-ingest path the
    // reference's blind-insert store lacks. Updates derived
    // deterministically from the corpus (every 7th doc gets a v2)
    Q("mldata_upsert_latest",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val base = docs.select(col("doc_id"), lit(1L).as("version"),
          col("lang"), col("text"))
        val upd = docs.where(col("doc_id") % 7 === 0)
          .select(col("doc_id"), lit(2L).as("version"), col("lang"),
            concat(lit("v2 "), col("text")).as("text"))
        graft.operators.Upsert.latestByKey(base, upd, "doc_id", "version",
            Seq("lang", "text"))
          .orderBy("doc_id")
      },
      Some(graft.operators.Upsert.latestByKeySql(
        "SELECT doc_id, CAST(1 AS BIGINT) AS version, lang, text FROM documents",
        """SELECT doc_id, CAST(2 AS BIGINT) AS version, lang,
          | 'v2 ' || text AS text FROM documents WHERE doc_id % 7 = 0""".stripMargin,
        "doc_id", "version", Seq("lang", "text")) + " ORDER BY doc_id")),

    // The same compaction as a STREAMING aggregation (fourth streaming
    // hash gate): base snapshot in trigger 1, the v2 updates in
    // trigger 2, latest-wins folded by the state store (one candidate
    // per live key), complete-mode snapshot compared against the
    // identical batch-MERGE oracle
    Q("streaming_upsert_latest",
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("text")).collect()
        val base = docs.map(r =>
          (r.getLong(0), 1L, r.getString(1), r.getString(2))).toSeq
        val upd = docs.filter(_.getLong(0) % 7 == 0).map(r =>
          (r.getLong(0), 2L, r.getString(1), "v2 " + r.getString(2))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Long, String, String)]
        val out = graft.streaming.StreamingUpsert.latestByKey(
          ms.toDS().toDF("doc_id", "version", "lang", "text"),
          "doc_id", "version", Seq("lang", "text"))
        val qName = "graft_streaming_upsert_latest"
        val q = out.writeStream.format("memory").queryName(qName)
          .outputMode("complete").start()
        try {
          ms.addData(base); q.processAllAvailable()
          ms.addData(upd); q.processAllAvailable()
        } finally q.stop()
        s.table(qName).orderBy("doc_id")
      },
      Some(graft.operators.Upsert.latestByKeySql(
        "SELECT doc_id, CAST(1 AS BIGINT) AS version, lang, text FROM documents",
        """SELECT doc_id, CAST(2 AS BIGINT) AS version, lang,
          | 'v2 ' || text AS text FROM documents WHERE doc_id % 7 = 0""".stripMargin,
        "doc_id", "version", Seq("lang", "text")) + " ORDER BY doc_id")),

    // The latest-wins compaction KILLED between the base load and the
    // update wave, resumed from its checkpoint by a new query (r12
    // kill-and-resume family): the per-key (version, payload) state
    // must restore so the update wave lands on the recovered base —
    // identical oracle as the uninterrupted streaming_upsert_latest.
    Q("streaming_resume_upsert",
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("text")).collect()
        val base = docs.map(r =>
          (r.getLong(0), 1L, r.getString(1), r.getString(2))).toSeq
        val upd = docs.filter(_.getLong(0) % 7 == 0).map(r =>
          (r.getLong(0), 2L, r.getString(1), "v2 " + r.getString(2))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Long, String, String)]
        val out = graft.streaming.StreamingUpsert.latestByKey(
          ms.toDS().toDF("doc_id", "version", "lang", "text"),
          "doc_id", "version", Seq("lang", "text"))
        val ckpt = graft.TempDirs.create("resume-upsert").toString
        val q1 = out.writeStream.format("memory")
          .queryName("graft_resume_upsert_pre").outputMode("complete")
          .option("checkpointLocation", ckpt).start()
        try { ms.addData(base); q1.processAllAvailable() } finally q1.stop()
        val qName = "graft_streaming_resume_upsert"
        val q2 = out.writeStream.format("memory").queryName(qName)
          .outputMode("complete").option("checkpointLocation", ckpt).start()
        try { ms.addData(upd); q2.processAllAvailable() } finally q2.stop()
        s.table(qName).orderBy("doc_id")
      },
      Some(graft.operators.Upsert.latestByKeySql(
        "SELECT doc_id, CAST(1 AS BIGINT) AS version, lang, text FROM documents",
        """SELECT doc_id, CAST(2 AS BIGINT) AS version, lang,
          | 'v2 ' || text AS text FROM documents WHERE doc_id % 7 = 0""".stripMargin,
        "doc_id", "version", Seq("lang", "text")) + " ORDER BY doc_id")),

    // Snapshot diff — added / removed / changed keys between two
    // corpus versions via ONE full-outer equi-join, unchanged overlap
    // dropped (at scale the overlap IS the corpus). Current snapshot
    // derived deterministically: every 11th doc removed, every 7th
    // edited, every 13th re-added under a shifted id
    // CDC APPLY: fold an I/U/D change feed into the next snapshot —
    // the delete-capable MERGE latestByKey cannot express (a removed
    // document would otherwise survive every compaction). One
    // map-side-combining hash aggregate + winner filter; version NULL
    // marks untouched base rows
    Q("mldata_cdc_apply",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val base = docs.select(col("doc_id"), col("lang"), col("text"))
        val changes = docs.where(col("doc_id") % 7 === 0)
          .select(col("doc_id"), lit(1L).as("v"), lit("U").as("op"),
            col("lang"), concat(lit("v2 "), col("text")).as("text"))
          .unionByName(docs.where(col("doc_id") % 11 === 0)
            .select(col("doc_id"), lit(2L).as("v"), lit("D").as("op"),
              col("lang"), col("text")))
          .unionByName(docs.where(col("doc_id") % 13 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              lit(1L).as("v"), lit("I").as("op"), col("lang"), col("text")))
        graft.operators.Upsert.applyCdc(base, changes, "doc_id", "v", "op",
            Seq("lang", "text"))
          .orderBy("doc_id")
      },
      Some(graft.operators.Upsert.applyCdcSql(
        "SELECT doc_id, lang, text FROM documents",
        """SELECT doc_id, 1 AS v, 'U' AS op, lang, 'v2 ' || text AS text
          |FROM documents WHERE doc_id % 7 = 0
          |UNION ALL BY NAME
          |SELECT doc_id, 2 AS v, 'D' AS op, lang, text
          |FROM documents WHERE doc_id % 11 = 0
          |UNION ALL BY NAME
          |SELECT doc_id + 1000000 AS doc_id, 1 AS v, 'I' AS op, lang, text
          |FROM documents WHERE doc_id % 13 = 0""".stripMargin,
        "doc_id", "v", "op", Seq("lang", "text")) + " ORDER BY doc_id")),

    Q("mldata_snapshot_diff",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val base = docs.select(col("doc_id"), col("lang"), col("text"))
        val curr = docs.where(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"), col("lang"),
            when(col("doc_id") % 7 === 0, concat(lit("v2 "), col("text")))
              .otherwise(col("text")).as("text"))
          .unionByName(docs.where(col("doc_id") % 13 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
              col("text")))
        // diff two REAL committed snapshots of a versioned corpus
        // (Layout.writeVersioned marker protocol), not two in-memory
        // frames — the corpus-versioning layer under the hash gate
        val root = graft.TempDirs.create("snapdiff-versions").toString
        val v1 = graft.sources.Layout.writeVersioned(base, root)
        val v2 = graft.sources.Layout.writeVersioned(curr, root)
        graft.operators.Upsert.snapshotDiff(
            graft.sources.Layout.readVersion(s, root, v1),
            graft.sources.Layout.readVersion(s, root, v2),
            "doc_id", Seq("lang", "text"))
          .orderBy("doc_id", "status")
      },
      Some(graft.operators.Upsert.snapshotDiffSql(
        "SELECT doc_id, lang, text FROM documents",
        """SELECT doc_id, lang,
          |  CASE WHEN doc_id % 7 = 0 THEN 'v2 ' || text ELSE text END AS text
          |FROM documents WHERE doc_id % 11 <> 0
          |UNION ALL
          |SELECT doc_id + 1000000 AS doc_id, lang, text
          |FROM documents WHERE doc_id % 13 = 0""".stripMargin,
        "doc_id", Seq("lang", "text")) + " ORDER BY doc_id, status")),
  )

  // ---------------------------------------------------------------- //
  // Dedup + ANN extensions (BASELINE.json north star)                 //
  // ---------------------------------------------------------------- //

  private val dedupSpecs: Seq[Q] = Seq(
    // Exact dedup: normalized-fingerprint groups with >1 member
    Q("dedup_exact",
      (s, dir) => Dedup.exactDuplicates(Tables.documents(s, dir),
          col("doc_id"), Enrich.dedupContent(col("text"), col("doc_id")))
        .orderBy("fingerprint"),
      Some(s"""SELECT ${TextAnalysis.fingerprintSql(Enrich.dedupContentSql("text", "doc_id"))} AS fingerprint,
              | count(*) AS n_dups, min(doc_id) AS keeper_id
              |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin)),

    // The SAME exact-dedup pass, driven entirely through spark.sql
    // (the SQL-only reach twin of flagship_sql): one temp view + one
    // SQL string — fixture enrichment, fingerprint, group, keeper all
    // in SQL — gated against the dedup_exact oracle, so SQL-route ==
    // Column-route == DuckDB
    Q("dedup_exact_sql",
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("g_documents")
        s.sql("""
          WITH content AS (
            SELECT doc_id,
              CASE WHEN doc_id % 7 = 0
                THEN 'dup block exact ' || CAST(CAST(floor(doc_id / 70.0) AS BIGINT) AS STRING)
                  || ' alpha beta gamma delta epsilon zeta eta theta'
              WHEN doc_id % 7 = 1
                THEN 'near block ' || CAST(CAST(floor(doc_id / 70.0) AS BIGINT) AS STRING)
                  || ' shared one two three ' || CAST(CAST(floor(doc_id / 70.0) AS BIGINT) AS STRING)
                  || ' four five six seven ' || CAST(CAST(floor(doc_id / 70.0) AS BIGINT) AS STRING)
                  || ' eight nine ten tail' || CAST(doc_id % 2 AS STRING)
              ELSE text END AS content
            FROM g_documents)
          SELECT md5(regexp_replace(lower(trim(content)), '\\s+', ' ')) AS fingerprint,
            count(*) AS n_dups, min(doc_id) AS keeper_id
          FROM content GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""")
      },
      Some(s"""SELECT ${TextAnalysis.fingerprintSql(Enrich.dedupContentSql("text", "doc_id"))} AS fingerprint,
              | count(*) AS n_dups, min(doc_id) AS keeper_id
              |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin)),

    // Exact n-gram Jaccard near-dup pairs via the prefix-filtered
    // similarity join (rarest-shingles index; provably lossless above
    // threshold) — the all-pairs DuckDB oracle validates the rewrite
    Q("dedup_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairsPrefix(Tables.documents(s, dir),
          col("doc_id"), Enrich.dedupContent(col("text"), col("doc_id")))
        .orderBy("id_a", "id_b"),
      Some(Dedup.ngramJaccardPairsSql("documents", "doc_id",
        Enrich.dedupContentSql("text", "doc_id")) + " ORDER BY id_a, id_b")),

    // Incremental-crawl screen: today's batch (source='src0') vs the
    // already-ingested reference corpus; exact inverted-index route,
    // verdict per new document, validated against the all-pairs form
    Q("dedup_cross_corpus",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("__t", Enrich.dedupContent(col("text"), col("doc_id")))
        Dedup.crossCorpusScreen(
            docs.where(col("source") === "src0"),
            docs.where(col("source") =!= "src0"),
            col("doc_id"), col("__t"))
          .orderBy("id")
      },
      Some(Dedup.crossCorpusScreenSql("documents", "doc_id",
        Enrich.dedupContentSql("text", "doc_id"), newPred = "source = 'src0'")
        + " ORDER BY id")),

    // Character-level verify tier over the Jaccard candidates: join
    // text back, keep pairs with Levenshtein ≤ 5% of the longer doc.
    // Set-level tiers admit reorderings; this is the order-sensitive
    // check, run on candidates only (O(len²) per pair). Integer
    // permille comparison + same metric in DuckDB → full hash gate.
    Q("dedup_edit_verified",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val t = Enrich.dedupContent(col("text"), col("doc_id"))
        Dedup.editVerifiedPairs(docs, col("doc_id"), t,
            Dedup.ngramJaccardPairsPrefix(docs, col("doc_id"), t),
            maxRelPermille = 50)
          .orderBy("id_a", "id_b")
      },
      Some(Dedup.editVerifiedPairsSql("documents", "doc_id",
        Enrich.dedupContentSql("text", "doc_id"),
        Dedup.ngramJaccardPairsIndexedSql("documents", "doc_id",
          Enrich.dedupContentSql("text", "doc_id")),
        maxRelPermille = 50) + " ORDER BY id_a, id_b")),

    // Asymmetric containment pairs over a planted core/extended fixture:
    // the short-doc-embedded-in-long-doc shape symmetric Jaccard misses
    // (core-side containment 1.0 vs Jaccard ≈ 0.29).
    Q("dedup_containment",
      (s, dir) => Dedup.containmentPairs(Tables.documents(s, dir),
          col("doc_id"), Enrich.containmentContent(col("doc_id")),
          minContainment = 0.8)
        .orderBy("id_a", "id_b"),
      Some(Dedup.containmentPairsSql("documents", "doc_id",
        Enrich.containmentContentSql("doc_id"),
        minContainment = 0.8) + " ORDER BY id_a, id_b")),

    // Exact duplicated-substring SPANS (Lee et al. 2022, seed-and-
    // extend form): maximal >= 8-token runs occurring more than once in
    // the corpus, as removable per-doc token intervals — the partial
    // overlaps doc-level dedup keeps. Integer positions, bit-identical
    Q("dedup_substring_spans",
      (s, dir) => graft.dedup.Spans.duplicatedSpans(
          Tables.documentsPar(s, dir), col("doc_id"), col("text"),
          minTokens = 8)
        .orderBy("doc_id", "span_start"),
      Some(graft.dedup.Spans.duplicatedSpansSql(
        "documents", "doc_id", "text", minTokens = 8) +
        " ORDER BY doc_id, span_start")),

    // The spans 100 TB tier: seeds shuffle 8-byte xxhash64 gram keys
    // instead of n-token strings (~20x shuffle-byte cut at n=8); a
    // collision can only ADD a false seed, never lose a span, so the
    // hashed route sits under the EXACT string-keyed oracle
    Q("dedup_substring_spans_hashed",
      (s, dir) => graft.dedup.Spans.duplicatedSpans(
          Tables.documentsPar(s, dir), col("doc_id"), col("text"),
          minTokens = 8, hashGrams = true)
        .orderBy("doc_id", "span_start"),
      Some(graft.dedup.Spans.duplicatedSpansSql(
        "documents", "doc_id", "text", minTokens = 8) +
        " ORDER BY doc_id, span_start")),

    // Span REMOVAL — the apply half of Lee et al.: duplicated runs are
    // excised keeping their global first occurrence, unaffected docs
    // pass through verbatim. The clip is a codegen array filter against
    // a small per-doc interval list; corpus text never shuffles
    Q("dedup_clip_spans",
      (s, dir) => graft.dedup.Spans.clipSpans(
          Tables.documentsPar(s, dir), col("doc_id"), col("text"),
          minTokens = 8)
        .orderBy("doc_id"),
      Some(graft.dedup.Spans.clipSpansSql(
        "documents", "doc_id", "text", minTokens = 8) +
        " ORDER BY doc_id")),

    // Cross-corpus decontamination CLIP: training docs keep their text
    // but lose every interval covered by a benchmark n-gram — the
    // surgical sibling of the doc-level decontaminate screens. Gate
    // runs the hashed tier (8-byte join keys, string-verified) under
    // the string-route oracle; route equality also pinned in SpansSpec
    Q("dedup_clip_decontam",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.dedup.Spans.clipAgainst(
          docs.where(col("doc_id") >= 10), col("doc_id"), col("text"),
          docs.where(col("doc_id") < 10), col("text"),
          minTokens = 8, hashGrams = true)
          .orderBy("doc_id")
      },
      Some(graft.dedup.Spans.clipAgainstSql(
        "documents", "doc_id", "text", "doc_id >= 10",
        "documents", "text", "doc_id < 10", minTokens = 8) +
        " ORDER BY doc_id")),

    // The clip's 100 TB tier: the hash pre-filter feeds the SAME
    // string-keyed winner election, so removal can never act on a
    // collision — exact under the string oracle
    Q("dedup_clip_spans_hashed",
      (s, dir) => graft.dedup.Spans.clipSpans(
          Tables.documents(s, dir), col("doc_id"), col("text"),
          minTokens = 8, hashGrams = true)
        .orderBy("doc_id"),
      Some(graft.dedup.Spans.clipSpansSql(
        "documents", "doc_id", "text", minTokens = 8) +
        " ORDER BY doc_id")),

    // Winnowing fingerprint pairs (MOSS, SIGMOD 2003): window-min over
    // k-gram hashes localises WHERE documents overlap at ~2/(w+1)
    // index density; pairing is the inverted-index equi-join shape
    // with a df-cut, never all-pairs. md5-lexicographic min keeps the
    // selection order identical in both engines
    Q("dedup_winnow_pairs",
      (s, dir) => graft.dedup.Winnow.winnowPairs(
          Tables.documents(s, dir), col("doc_id"), col("text"),
          k = 5, w = 4, minScore = 0.5)
        .orderBy("id_a", "id_b"),
      Some(graft.dedup.Winnow.winnowPairsSql(
        "documents", "doc_id", "text", k = 5, w = 4, minScore = 0.5) +
        " ORDER BY id_a, id_b")),

    // MinHash+LSH near-dup pairs — the sub-quadratic scale path.
    // xxhash64 signatures have no DuckDB twin, so the declared output
    // is the route's QUALITY GATE instead of raw pairs (the
    // q_approx_sketches trick), asserting exactly the contracts that
    // are DETERMINISTIC for the 8-band × 8-row geometry: (1) precision
    // — every emitted pair is exact-Jaccard verified, so LSH ⊆ exact;
    // (2) identical-shingle-set pairs (J = 1.0) have identical
    // signatures and collide in EVERY band, so their recall is exactly
    // 1. Pairs near the J = 0.5 floor are recalled at the geometry's
    // S-curve rate — the curve centers at (1/8)^(1/8) ≈ 0.77, which is
    // the design point, not a defect — so no fixed recall bound over
    // [0.5, 0.77) pairs is honest; the verified-threshold sibling
    // dedup_minhash_verified stays the full per-pair hash gate there.
    // The oracle recomputes both pair counts from its exact
    // inverted-index Jaccard.
    Q("dedup_minhash_lsh",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val content = Enrich.dedupContent(col("text"), col("doc_id"))
        val lsh = Dedup.minhashPairs(docs, col("doc_id"), content)
          .select(col("id_a"), col("id_b"), lit(1).as("__l"))
        val exact = Dedup.ngramJaccardPairs(docs, col("doc_id"), content)
          .select(col("id_a"), col("id_b"), col("jaccard"), lit(1).as("__e"))
        exact.join(lsh, Seq("id_a", "id_b"), "full")
          .agg(count(col("__e")).as("__n_exact"),
            count(when(col("jaccard") === 1.0d, 1)).as("__n_identical"),
            count(when(col("jaccard") === 1.0d && col("__l").isNotNull, 1))
              .as("__n_identical_found"),
            count(when(col("__e").isNull, 1)).as("__n_lsh_only"))
          .select(col("__n_exact").as("n_exact"),
            col("__n_identical").as("n_exact_identical"),
            (col("__n_identical_found") === col("__n_identical"))
              .as("identical_recall_eq_1"),
            (col("__n_lsh_only") === 0).as("lsh_subset_of_exact"))
      },
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_exact,
              | CAST(count(*) FILTER (jaccard = 1.0) AS BIGINT) AS n_exact_identical,
              | TRUE AS identical_recall_eq_1, TRUE AS lsh_subset_of_exact
              |FROM (${Dedup.ngramJaccardPairsIndexedSql("documents", "doc_id",
                 Enrich.dedupContentSql("text", "doc_id"))})""".stripMargin)),

    // Same LSH pipeline at threshold 0.9 — here it IS oracle-gateable:
    // the only fixture pairs at J ≥ 0.9 are identical-shingle-set pairs
    // (J = 1.0; the planted near-dups sit at ≈0.87), identical sets give
    // identical MinHash signatures, identical signatures collide in
    // EVERY band — so LSH recall is deterministically 1.0 and the
    // verified output equals DuckDB's exact all-pairs Jaccard ≥ 0.9.
    Q("dedup_minhash_verified",
      (s, dir) => Dedup.minhashPairs(Tables.documents(s, dir),
          col("doc_id"), Enrich.dedupContent(col("text"), col("doc_id")),
          minJaccard = 0.9)
        .orderBy("id_a", "id_b"),
      // indexed oracle form: identical edges (validated against the
      // all-pairs form, which remains dedup_ngram_jaccard's oracle),
      // ~300x less DuckDB work
      Some(Dedup.ngramJaccardPairsIndexedSql("documents", "doc_id",
        Enrich.dedupContentSql("text", "doc_id"), minJaccard = 0.9) +
        " ORDER BY id_a, id_b")),

    // SimHash 64-bit signatures. The signature bits have no DuckDB
    // twin, so the declared output is the sketch's soundness gate:
    // identical content MUST hash to identical signatures (SimHash is
    // a function of the token multiset — deterministic, not
    // probabilistic), and no signature may be null. The oracle counts
    // the identical-content pair set by fingerprint equality and
    // asserts the booleans the Spark side measures over the real
    // signature column. Near-dup pair behavior is hash-gated by
    // dedup_simhash_pairs; distributional properties by DedupSpec.
    Q("dedup_simhash",
      (s, dir) => {
        val content = Enrich.dedupContent(col("text"), col("doc_id"))
        val sigs = Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.fingerprint(content).as("__f"),
            Dedup.simhash(content).as("__sh"))
        val totals = sigs.agg(count(lit(1)).as("__n_docs"),
          count(when(col("__sh").isNull, 1)).as("__n_null"))
        val pairs = sigs.as("l")
          .join(sigs.as("r"), col("l.__f") === col("r.__f")
            && col("l.doc_id") < col("r.doc_id"))
          .agg(count(lit(1)).as("__n_pairs"),
            count(when(col("l.__sh") =!= col("r.__sh"), 1)).as("__n_mismatch"))
        totals.crossJoin(pairs)
          .select(col("__n_docs").as("n_docs"),
            col("__n_pairs").as("n_identical_pairs"),
            (col("__n_mismatch") === 0).as("identical_content_same_sig"),
            (col("__n_null") === 0).as("sigs_nonnull"))
      },
      Some {
        val f = TextAnalysis.fingerprintSql(Enrich.dedupContentSql("text", "doc_id"))
        s"""WITH f AS (SELECT doc_id, $f AS f FROM documents)
           |SELECT (SELECT CAST(count(*) AS BIGINT) FROM f) AS n_docs,
           |  (SELECT CAST(count(*) AS BIGINT) FROM f l JOIN f r
           |     ON l.f = r.f AND l.doc_id < r.doc_id) AS n_identical_pairs,
           |  TRUE AS identical_content_same_sig, TRUE AS sigs_nonnull""".stripMargin
      }),

    // SimHash pair detection via pigeonhole banding: 4 bands of 16 bits
    // make candidate generation LOSSLESS for Hamming ≤ 3 (≤3 differing
    // bits touch ≤3 bands → one band matches exactly), unlike the
    // probabilistic MinHash bands. Runs on the dedicated high-entropy
    // fixture ([[Enrich.simhashContent]] — the base word-salad shares a
    // 31-word vocabulary, whose near-identical token distributions
    // SimHash correctly refuses to separate), where the only pairs
    // within distance 3 are the planted identical-content classes —
    // a set DuckDB enumerates by fingerprint equality.
    Q("dedup_simhash_pairs",
      (s, dir) => Dedup.simhashPairs(Tables.documents(s, dir),
          col("doc_id"), Enrich.simhashContent(col("doc_id")),
          maxHamming = 3)
        .orderBy("id_a", "id_b"),
      Some({
        val f = TextAnalysis.fingerprintSql(Enrich.simhashContentSql("doc_id"))
        s"""SELECT l.doc_id AS id_a, r.doc_id AS id_b, CAST(0 AS INTEGER) AS hamming
           |FROM (SELECT doc_id, $f AS f FROM documents) l
           |JOIN (SELECT doc_id, $f AS f FROM documents) r
           | ON l.f = r.f AND l.doc_id < r.doc_id
           |ORDER BY id_a, id_b""".stripMargin
      })),

    // Duplicate-cluster collapse: near-dup pairs chain (A≈B≈C), so the
    // deletion unit is the CONNECTED COMPONENT, not the pair. Min-label
    // propagation over the pair graph (one hash-join+agg pass per
    // round, rounds = diameter, lineage truncated per round); keeper =
    // min id per cluster. The DuckDB oracle recomputes the clustering
    // independently with a recursive CTE over the same edge set.
    // Community detection over the same near-dup pair graph — 3
    // synchronous majority-vote rounds (Jacobi, min-label ties, fixed
    // round count), the granularity view next to dedup_clusters'
    // connectivity view; oracle replays the identical rounds as
    // unrolled CTEs
    Q("dedup_label_prop",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val edges = graft.dedup.Dedup.ngramJaccardPairsPrefix(docs,
            col("doc_id"), Enrich.dedupContent(col("text"), col("doc_id")),
            minJaccard = 0.5)
          .select("id_a", "id_b")
        graft.dedup.LabelProp.labelPropagation(
            docs.select(col("doc_id").as("id")), edges, rounds = 3)
          .orderBy("id")
      },
      Some(graft.dedup.LabelProp.labelPropagationSql(
        "SELECT doc_id AS id FROM documents",
        Dedup.ngramJaccardPairsIndexedSql("documents", "doc_id",
          Enrich.dedupContentSql("text", "doc_id")),
        rounds = 3) + " ORDER BY id")),

    Q("dedup_clusters",
      (s, dir) => Components.dupClusters(Tables.documents(s, dir),
          col("doc_id"), Enrich.dedupContent(col("text"), col("doc_id")),
          minJaccard = 0.5)
        .orderBy("id"),
      Some(dupClustersSql)),

    // Quality-aware keeper per duplicate cluster: keep the LONGEST
    // member (ties to lowest id) instead of the min-id one — near-dup
    // clusters routinely hold one clean original and several truncated
    // copies. One max_by hash aggregate over the cluster labels
    Q("dedup_keep_best",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val content = Enrich.dedupContent(col("text"), col("doc_id"))
        val clusters = Components.dupClusters(docs, col("doc_id"), content,
            minJaccard = 0.5)
          .select(col("id"), col("cluster_id"))
        val scores = docs.select(col("doc_id").as("id"),
          length(content).cast("long").as("score"))
        Components.keeperByScore(clusters, scores).orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE edges AS MATERIALIZED (
              |  ${Dedup.ngramJaccardPairsIndexedSql("documents", "doc_id",
                   Enrich.dedupContentSql("text", "doc_id"))}
              |), sym AS (
              |  SELECT id_a AS src, id_b AS dst FROM edges
              |  UNION ALL
              |  SELECT id_b, id_a FROM edges
              |), reach AS (
              |  SELECT src AS id, src AS r FROM sym
              |  UNION
              |  SELECT sym.src, reach.r FROM sym JOIN reach ON sym.dst = reach.id
              |), cl AS MATERIALIZED (
              |  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
              |), j AS MATERIALIZED (
              |  SELECT cl.cluster_id, cl.id,
              |    CAST(length(${Enrich.dedupContentSql("text", "doc_id")})
              |         AS BIGINT) AS score
              |  FROM cl JOIN documents d ON cl.id = d.doc_id
              |), agg AS (
              |  SELECT cluster_id, max(score) AS keeper_score,
              |    CAST(count(*) AS BIGINT) AS n_members
              |  FROM j GROUP BY 1
              |), k AS (
              |  SELECT cluster_id, id AS keeper_id FROM (
              |    SELECT cluster_id, id,
              |      row_number() OVER (PARTITION BY cluster_id
              |        ORDER BY score DESC, id) AS rn
              |    FROM j) WHERE rn = 1
              |)
              |SELECT cluster_id, keeper_id, keeper_score, n_members
              |FROM k JOIN agg USING (cluster_id)
              |ORDER BY cluster_id""".stripMargin)),

    // c-TF-IDF cluster labeling: the top-3 distinctive tokens of each
    // duplicate cluster (cluster-level tf, cluster-level df, add-one
    // idf over the cluster count) — "what boilerplate family is this"
    // next to the clustering itself; the composition showcase (cluster
    // mining → postings regroup → the shared tfidf scoring tail)
    Q("dedup_cluster_labels",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val content = Enrich.dedupContent(col("text"), col("doc_id"))
        val clusters = Components.dupClusters(docs, col("doc_id"), content,
            minJaccard = 0.5)
          .select(col("id").as("doc_id"), col("cluster_id"))
        val toks = docs.select(col("doc_id"),
            explode(split(lower(trim(content)), "\\s+")).as("token"))
          .where(col("token") =!= "")
        val postings = clusters.join(toks, "doc_id")
          .groupBy(col("cluster_id").as("id"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val n1 = clusters.agg(
          (countDistinct(col("cluster_id")) + 1L).cast("double").as("n1"))
        TextAnalysis.tfidfTopKFromPostings(postings, n1, k = 3)
          .select(col("id").as("cluster_id"), col("token"), col("score"),
            col("rank"))
          .orderBy("cluster_id", "rank")
      },
      Some(s"""WITH RECURSIVE edges AS MATERIALIZED (
              |  ${Dedup.ngramJaccardPairsIndexedSql("documents", "doc_id",
                   Enrich.dedupContentSql("text", "doc_id"))}
              |), sym AS (
              |  SELECT id_a AS src, id_b AS dst FROM edges
              |  UNION ALL
              |  SELECT id_b, id_a FROM edges
              |), reach AS (
              |  SELECT src AS id, src AS r FROM sym
              |  UNION
              |  SELECT sym.src, reach.r FROM sym JOIN reach ON sym.dst = reach.id
              |), cl AS MATERIALIZED (
              |  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
              |), p AS MATERIALIZED (
              |  SELECT cl.cluster_id AS id, token, CAST(count(*) AS BIGINT) AS tf
              |  FROM cl JOIN (
              |    SELECT doc_id AS id, unnest(string_split_regex(
              |      lower(trim(${Enrich.dedupContentSql("text", "doc_id")})),
              |      '${TextAnalysis.WsClassSqlPublic}+')) AS token
              |    FROM documents) t USING (id)
              |  WHERE token <> '' GROUP BY 1, 2
              |), d AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
              |nn AS (
              |  SELECT CAST(count(DISTINCT id) + 1 AS DOUBLE) AS n1 FROM p)
              |SELECT id AS cluster_id, token,
              |  round(CAST(tf AS DOUBLE) * ln(n1 / CAST(df + 1 AS DOUBLE)), 4)
              |    AS score,
              |  CAST(row_number() OVER (PARTITION BY id ORDER BY
              |    round(CAST(tf AS DOUBLE) * ln(n1 / CAST(df + 1 AS DOUBLE)), 4)
              |      DESC, token) AS INTEGER) AS rank
              |FROM p JOIN d USING (token), nn
              |QUALIFY rank <= 3
              |ORDER BY cluster_id, rank""".stripMargin)),

    // Scaled-integer PageRank over the near-dup graph: which document
    // is the hub of a template family. Long arithmetic end to end —
    // bit-identical under any shuffle order, so the full hash gate
    // applies (the DuckDB twin unrolls the iterations as chained CTEs).
    Q("dedup_pagerank",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val t = Enrich.dedupContent(col("text"), col("doc_id"))
        PageRank.pagerank(
            Dedup.ngramJaccardPairsPrefix(docs, col("doc_id"), t)
              .select("id_a", "id_b"))
          .orderBy("id")
      },
      Some(PageRank.pagerankSql(
        Dedup.ngramJaccardPairsIndexedSql("documents", "doc_id",
          Enrich.dedupContentSql("text", "doc_id"))) + " ORDER BY id")),

    // Incremental re-clustering: labels computed on "yesterday's"
    // corpus (doc_id < 250), then the delta edge batch (any pair
    // touching a newer doc) folded in via contracted-graph propagation
    // + one broadcast relabel join — NO full re-propagation. Jaccard
    // is pairwise, so edges(old corpus) = edges(full) restricted to
    // old endpoints, and the maintained labels must equal the
    // from-scratch clustering — which is exactly what the (full
    // recompute) recursive-CTE oracle checks.
    Q("dedup_clusters_incremental",
      (s, dir) => {
        val content = Enrich.dedupContent(col("text"), col("doc_id"))
        // mine pairs ONCE: Jaccard is pairwise, so the old corpus's
        // edge set is exactly the full edge set restricted to old
        // endpoints — one pinned prefix join feeds both the
        // "yesterday" state and the delta batch
        val allEdges = Materialize(Dedup.ngramJaccardPairsPrefix(
            Tables.documents(s, dir), col("doc_id"), content,
            minJaccard = 0.5)
          .select("id_a", "id_b"))
        val oldEdges = allEdges
          .where(col("id_a") < 250 && col("id_b") < 250)
        val oldNodes = oldEdges.select(col("id_a").as("id"))
          .unionAll(oldEdges.select(col("id_b").as("id"))).distinct()
        val prev = Components.connectedComponents(oldNodes, oldEdges)
        val delta = allEdges
          .where(col("id_a") >= 250 || col("id_b") >= 250)
        Components.foldInto(prev, delta)
          .select(col("id"), col("component").as("cluster_id"),
            (col("id") === col("component")).as("is_keeper"))
          .orderBy("id")
      },
      Some(dupClustersSql)),

    // The SAME maintained labeling through the CONTINUOUS route: the
    // mined near-dup edges replay through a MemoryStream in three
    // micro-batches into streaming/ClusterMaintainer (foreachBatch →
    // Components.foldInto, per-batch work ∝ delta), and the post-fold
    // labels must equal the full-recompute recursive-CTE oracle —
    // components are order-independent, so ANY batch split folds to
    // the same labeling (replay of a folded batch is a structural
    // no-op, ClusterMaintainer's documented contract).
    Q("streaming_clusters_maintained",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val content = Enrich.dedupContent(col("text"), col("doc_id"))
        val edgeRows = Dedup.ngramJaccardPairsPrefix(
            Tables.documents(s, dir), col("doc_id"), content,
            minJaccard = 0.5)
          .select(col("id_a"), col("id_b"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Long)]
        val maintainer = new graft.streaming.ClusterMaintainer(s)
        val q = maintainer.attach(ms.toDS().toDF("id_a", "id_b")).start()
        try {
          edgeRows.grouped(math.max(1, edgeRows.size / 3 + 1)).foreach { b =>
            ms.addData(b)
            q.processAllAvailable()
          }
        } finally q.stop()
        maintainer.labels
          .select(col("id"), col("component").as("cluster_id"),
            (col("id") === col("component")).as("is_keeper"))
          .orderBy("id")
      },
      Some(dupClustersSql)),

    // Embedding-cosine near-dup pairs, exact tier: all-pairs with the
    // fused codegen cosine kernel, threshold on the 4dp-rounded value
    // so boundary pairs resolve identically in both engines
    // Size-dispatched: broadcast NLJ tier at harness scale (what the
    // oracle gate exercises), block-tiled tier past the compute
    // cutover — 10×-scale validation measured the NLJ tier at 36× on
    // 10× data vs 10× for the tiled route on identical output
    Q("dedup_embedding_cosine",
      (s, dir) => EmbeddingDedup.cosinePairsAuto(Tables.embeddings(s, dir),
          col("vec_id"), col("embedding"), minCosine = 0.35)
        .orderBy("id_a", "id_b"),
      Some(EmbeddingDedup.cosinePairsSql("embeddings", "vec_id", "embedding",
        minCosine = 0.35) + " ORDER BY id_a, id_b")),

    // Same exact tier through the block-tiled route (no broadcast,
    // upper-triangle tiles): same oracle as dedup_embedding_cosine —
    // the gate proves route equivalence, the plan proves the scale
    // story (shuffle B·|corpus|, bounded tiles, no M×N rows)
    Q("dedup_embedding_blocked",
      (s, dir) => EmbeddingDedup.cosinePairsBlocked(Tables.embeddings(s, dir),
          col("vec_id"), col("embedding"), minCosine = 0.35, numBlocks = 8)
        .orderBy("id_a", "id_b"),
      Some(EmbeddingDedup.cosinePairsSql("embeddings", "vec_id", "embedding",
        minCosine = 0.35) + " ORDER BY id_a, id_b")),

    // Embedding-cosine near-dup, LSH tier, at a true near-dup
    // threshold: corpus = embeddings ∪ planted scaled copies (×2 is
    // exact in both float and double, so each copy has cosine exactly
    // 1.0 with its original and every hyperplane sign agrees — all
    // bands collide, recall is DETERMINISTIC, and the query is
    // oracle-checkable despite LSH being probabilistic in general).
    // Geometry 8 bands × 16 bits: random pairs collide at 2⁻¹⁶/band,
    // so candidate generation is sub-quadratic; exact-cosine verify
    // keeps precision exact. Probabilistic-recall behavior at weaker
    // thresholds is pinned by EmbeddingDedupSpec instead.
    Q("dedup_embedding_lsh",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id").as("id"), col("embedding"))
        val planted = emb.select((col("id") + 1000000L).as("id"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float")).as("embedding"))
        EmbeddingDedup.cosineLshPairs(emb.unionAll(planted), col("id"),
            col("embedding"), minCosine = 0.9, dim = 64, bands = 8, bits = 16)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH corpus AS (
              |  SELECT vec_id AS id, embedding FROM embeddings
              |  UNION ALL
              |  SELECT vec_id + 1000000, list_transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))
              |  FROM embeddings)
              |SELECT id_a, id_b, cosine FROM (
              | SELECT l.id AS id_a, r.id AS id_b,
              |  ${Sql.cosine("l.embedding", "r.embedding")} AS cosine
              | FROM corpus l JOIN corpus r ON l.id < r.id)
              |WHERE cosine >= 0.9 ORDER BY id_a, id_b""".stripMargin)),

    // SemDeDup (Abbas et al. 2023) under its exactness gate: nlist=1
    // makes within-cluster == global, so the keep/drop verdict (drop a
    // doc iff a lower-id neighbor clears the threshold) is replayed
    // verbatim by the oracle — the clustered route's semantics with the
    // approximation dial turned off, same trick as ivf_full_probe
    Q("dedup_semantic_keep",
      (s, dir) => SemDedup.semanticKeep(
          SemDedup.assignClusters(Tables.embeddings(s, dir),
            col("vec_id"), col("embedding"), nlist = 1),
          minCosine = 0.35, SemDedup.KeepLowestId)
        .select("id", "is_keeper").orderBy("id"),
      Some(SemDedup.semanticKeepSql("embeddings", "vec_id", "embedding",
        minCosine = 0.35) + " ORDER BY id")),

    // The clustered route (nlist=8, the paper's centroid-distance keep
    // policy): recall-approximate by design — cross-cluster near-dups
    // are invisible — so per-row verdicts have no SQL twin. The
    // declared output is the route's soundness gate instead: a
    // clustered-route drop requires a same-cluster neighbor at
    // ≥ minCosine, which is a fortiori a GLOBAL neighbor — so every
    // dropped id must belong to the global has-a-duplicate set, which
    // the oracle enumerates exactly from all-pairs cosine. The exact
    // sibling dedup_semantic_keep stays a per-row hash gate;
    // SemDedupSpec pins nlist=1 == exact and partitioning invariance.
    Q("dedup_semantic_clustered",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val verdicts = SemDedup.semanticKeep(
          SemDedup.assignClusters(emb, col("vec_id"), col("embedding"),
            nlist = 8),
          minCosine = 0.35, SemDedup.KeepFarthestFromCentroid)
        // auto-dispatching exact route: broadcast-NLJ small, block-tiled
        // past the cutover — the gate's exact side must not reintroduce
        // the quadratic tier the r5 scale audit flagged
        val pairs = EmbeddingDedup.cosinePairsAuto(emb, col("vec_id"),
          col("embedding"), minCosine = 0.35)
        val hasDup = pairs.select(col("id_a").as("id"))
          .unionAll(pairs.select(col("id_b").as("id"))).distinct()
        val totals = emb.agg(count(lit(1)).as("__n_docs"))
        val dupN = hasDup.agg(count(lit(1)).as("__n_with_dup"))
        val bad = verdicts.where(!col("is_keeper")).select("id")
          .join(hasDup, Seq("id"), "left_anti")
          .agg(count(lit(1)).as("__n_bad"))
        totals.crossJoin(dupN).crossJoin(bad)
          .select(col("__n_docs").as("n_docs"),
            col("__n_with_dup").as("n_with_global_dup"),
            (col("__n_bad") === 0).as("drops_have_global_dup"))
      },
      Some(s"""WITH pairs AS (${EmbeddingDedup.cosinePairsSql("embeddings",
                "vec_id", "embedding", minCosine = 0.35)})
              |SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_docs,
              |  (SELECT CAST(count(DISTINCT id) AS BIGINT) FROM (
              |     SELECT id_a AS id FROM pairs
              |     UNION ALL SELECT id_b FROM pairs)) AS n_with_global_dup,
              |  TRUE AS drops_have_global_dup""".stripMargin)),

    // Exact brute-force cosine top-k — the ANN correctness baseline
    Q("ann_cosine_topk",
      (s, dir) => Ann.cosineTopK(Tables.embeddings(s, dir),
        Pipelines.queryVector(s, dir), col("embedding"), col("vec_id"), 10)
        .select("vec_id", "label", "sim"),
      Some(s"""SELECT e.vec_id, e.label,
              | ${Sql.cosine("e.embedding", "q.q_emb")} AS sim
              |FROM embeddings e, (${Sql.queryVector(0)}) q
              |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // Multi-vector late-interaction (ColBERT-style MaxSim) retrieval —
    // the V1/F5 generalization a chunked corpus wants: every query
    // facet matches its best chunk (Σ_q max_chunk cos) instead of one
    // pooled representative. Query side broadcast, corpus never
    // shuffled for scoring, per-query ranking in GroupedTopK's
    // bounded O(k) state; 1e-4-grid summation keeps ranks
    // engine-deterministic
    Q("q_maxsim_retrieval",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.search.MaxSim.maxSimTopK(
          emb.select((col("vec_id") % 100).as("doc_id"), col("embedding")),
          col("doc_id"), col("embedding"),
          emb.where(col("vec_id") % 100 < 2)
            .select((col("vec_id") % 100).as("query_id"), col("vec_id"),
              col("embedding")),
          col("query_id"), col("vec_id"), col("embedding"), k = 5)
      },
      Some(graft.search.MaxSim.maxSimSql(nQueries = 2, k = 5))),

    // MaxSim AS A STREAM (16th streaming route), ranked FULLY
    // IN-STREAM: query facets arrive as a stream, candidates fan out
    // statelessly, a watermarked windowed aggregation keyed (window,
    // query, doc) folds the per-facet running max (state bounded by
    // each query's vector count, never corpus, 1e-4-grid finish), and
    // a CHAINED second windowed aggregation (window_time re-keying —
    // Spark's multi-stateful support) maintains the per-query top-k as
    // bounded ≤2k-candidate state, emitting each ranking exactly once
    // on window close. Same oracle as the batch MaxSim rows
    Q("streaming_maxsim",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val emb = Tables.embeddings(s, dir)
        val corpus = emb.select((col("vec_id") % 100).as("doc_id"),
          col("embedding"))
        val t0 = 1700000000000L
        val qRows = emb.where(col("vec_id") % 100 < 2)
          .select((col("vec_id") % 100).as("query_id"), col("vec_id"),
            col("embedding"))
          .collect().map(r => (r.getLong(0), r.getLong(1),
            r.getSeq[Float](2), new java.sql.Timestamp(t0))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Long, Seq[Float], java.sql.Timestamp)]
        ms.addData(qRows)
        val out = graft.streaming.StreamingMaxSim.topKPerQuery(
          graft.streaming.StreamingMaxSim.scoredPerQueryDoc(
            ms.toDS().toDF("query_id", "qvec_id", "q_emb", "ts"), corpus),
          k = 5)
        val qName = "graft_streaming_maxsim"
        val q = out.writeStream.format("memory").queryName(qName)
          .outputMode("append").start()
        try {
          q.processAllAvailable()
          ms.addData(Seq((-1L, -1L, qRows.head._3,
            new java.sql.Timestamp(t0 + 7200000L))))
          q.processAllAvailable()
          ms.addData(Seq.empty[(Long, Long, Seq[Float], java.sql.Timestamp)])
          q.processAllAvailable()
        } finally q.stop()
        s.table(qName).where(col("query_id") >= 0)
          .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some(graft.search.MaxSim.maxSimSql(nQueries = 2, k = 5))),

    // The IVF-pruned MaxSim scale tier at FULL PROBE (nprobe = nlist):
    // candidates route through the cluster join instead of the
    // broadcast NLJ, and the result must EXACTLY equal the exact route
    // — both tiers under one oracle; the pruning dial's recall
    // behavior lives in MaxSimSpec
    Q("q_maxsim_ivf_full_probe",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.search.MaxSim.maxSimTopKIvf(
          emb.select((col("vec_id") % 100).as("doc_id"), col("embedding")),
          col("doc_id"), col("embedding"),
          emb.where(col("vec_id") % 100 < 2)
            .select((col("vec_id") % 100).as("query_id"), col("vec_id"),
              col("embedding")),
          col("query_id"), col("vec_id"), col("embedding"), k = 5,
          nlist = 8, nprobe = 8)
      },
      Some(graft.search.MaxSim.maxSimSql(nQueries = 2, k = 5))),

    // Streaming MaxSim through the IVF route (the beyond-broadcast
    // tier): each arriving facet explodes its probe list and
    // EQUI-JOINS the cluster-keyed corpus — no corpus broadcast
    // anywhere in the plan — feeding the same windowed facet-max and
    // chained top-k state. Run at FULL PROBE (nprobe = nlist) the
    // route is exact, so it sits under the identical MaxSim oracle as
    // the broadcast streaming route; the pruning dial's containment
    // behavior is pinned in StreamingMaxSimSpec
    Q("streaming_maxsim_ivf",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val emb = Tables.embeddings(s, dir)
        val corpus = emb.select((col("vec_id") % 100).as("doc_id"),
          col("embedding"))
        val index = graft.vector.Ann.buildIvf(corpus, emb = "embedding",
          nlist = 8)
        val t0 = 1700000000000L
        val qRows = emb.where(col("vec_id") % 100 < 2)
          .select((col("vec_id") % 100).as("query_id"), col("vec_id"),
            col("embedding"))
          .collect().map(r => (r.getLong(0), r.getLong(1),
            r.getSeq[Float](2), new java.sql.Timestamp(t0))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Long, Seq[Float], java.sql.Timestamp)]
        ms.addData(qRows)
        val out = graft.streaming.StreamingMaxSim.topKPerQuery(
          graft.streaming.StreamingMaxSim.scoredPerQueryDocIvf(
            ms.toDS().toDF("query_id", "qvec_id", "q_emb", "ts"), index,
            nprobe = 8),
          k = 5)
        val qName = "graft_streaming_maxsim_ivf"
        val q = out.writeStream.format("memory").queryName(qName)
          .outputMode("append").start()
        try {
          q.processAllAvailable()
          ms.addData(Seq((-1L, -1L, qRows.head._3,
            new java.sql.Timestamp(t0 + 7200000L))))
          q.processAllAvailable()
          ms.addData(Seq.empty[(Long, Long, Seq[Float], java.sql.Timestamp)])
          q.processAllAvailable()
        } finally q.stop()
        s.table(qName).where(col("query_id") >= 0)
          .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some(graft.search.MaxSim.maxSimSql(nQueries = 2, k = 5))),

    // MAINTAINED-index streaming MaxSim: the streaming_ivf_maintained
    // layout (centroids batch-trained once, assignments appended by a
    // continuous stream) SERVES the IVF MaxSim route, across an index
    // refresh — phase 'a' answers against the half-corpus layout, the
    // second half then arrives on the SAME maintenance stream, and
    // phase 'b' re-asks the same queries against the refreshed compacted
    // layout. Both phases run at full probe, so each sits under the
    // exact MaxSim oracle over its phase's corpus; refresh monotonicity
    // (b-scores >= a-scores per (query, doc)) is pinned in
    // StreamingMaxSimSpec
    Q("streaming_maxsim_maintained",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val emb = Tables.embeddings(s, dir)
        val idx0 = Ann.buildIvf(emb.where(col("vec_id") < 250), nlist = 8)
        def rowsOf(pred: Column) = emb.where(pred)
          .select(col("vec_id"), col("embedding"))
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
        val tmp = java.nio.file.Files
          .createTempDirectory(graft.TempDirs.token + "smaxm-gate").toString
        val corp = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Seq[Float])]
        val maint = graft.streaming.StreamingIvf.assignAndWrite(
          corp.toDS().toDF("vec_id", "embedding"), idx0.centroids,
          s"$tmp/layout", s"$tmp/ckpt")
        val t0 = 1700000000000L
        val qRows = emb.where(col("vec_id") % 100 < 2)
          .select((col("vec_id") % 100).as("query_id"), col("vec_id"),
            col("embedding"))
          .collect().map(r => (r.getLong(0), r.getLong(1),
            r.getSeq[Float](2), new java.sql.Timestamp(t0))).toSeq
        def serve(phase: String): DataFrame = {
          // phase-versioned serving dir: partition-preserving compaction
          // of whatever the maintenance stream has appended so far
          graft.sources.Layout.compactPartitioned(s, s"$tmp/layout",
            s"$tmp/serve_$phase", Seq("cluster_id"))
          val index = Ann.IvfIndex(
            s.read.parquet(s"$tmp/serve_$phase")
              .select((col("vec_id") % 100).as("doc_id"), col("embedding"),
                col("cluster_id")),
            idx0.centroids)
          val ms = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[(Long, Long, Seq[Float], java.sql.Timestamp)]
          ms.addData(qRows)
          val out = graft.streaming.StreamingMaxSim.topKPerQuery(
            graft.streaming.StreamingMaxSim.scoredPerQueryDocIvf(
              ms.toDS().toDF("query_id", "qvec_id", "q_emb", "ts"), index,
              nprobe = 8),
            k = 5)
          val table = s"graft_smaxs_$phase"
          val q = out.writeStream.format("memory").queryName(table)
            .outputMode("append").start()
          try {
            q.processAllAvailable()
            ms.addData(Seq((-1L, -1L, qRows.head._3,
              new java.sql.Timestamp(t0 + 7200000L))))
            q.processAllAvailable()
            ms.addData(Seq.empty[(Long, Long, Seq[Float], java.sql.Timestamp)])
            q.processAllAvailable()
          } finally q.stop()
          s.table(table).where(col("query_id") >= 0)
            .select(lit(phase).as("phase"), col("query_id"), col("doc_id"),
              col("score"), col("rank"))
        }
        try {
          corp.addData(rowsOf(col("vec_id") < 250)); maint.processAllAvailable()
          val a = serve("a")
          // the refresh: second half arrives on the SAME stream
          corp.addData(rowsOf(col("vec_id") >= 250)); maint.processAllAvailable()
          val b = serve("b")
          a.unionByName(b).orderBy("phase", "query_id", "rank")
        } finally maint.stop()
      },
      Some(maxsimMaintainedOracle)),

    // Int8 scalar quantization — the 4×-smaller storage form of the
    // vector corpus; per-vector symmetric scale, bounded recon error.
    // The codes array is compared as a comma-joined string: the driver
    // harness sorts/hashes compare columns and cannot order raw array
    // payloads, and integer CSV is bit-identical across both engines.
    Q("v_quantize_int8",
      (s, dir) => {
        val q = graft.vector.Quantize.int8(col("embedding").cast("array<float>"))
        Tables.embeddings(s, dir)
          .select(col("vec_id"), q.getField("scale").as("scale"),
            concat_ws(",", q.getField("codes")).as("codes_csv"),
            q.getField("recon_err").as("recon_err"))
          .orderBy("vec_id")
      },
      Some {
        val (scale, codes, err) = graft.vector.Quantize.int8Sql("embedding")
        s"""SELECT vec_id, $scale AS scale,
           | array_to_string($codes, ',') AS codes_csv, $err AS recon_err
           |FROM embeddings ORDER BY vec_id""".stripMargin
      }),

    // Corpus covariance of the embedding column — exact integer
    // moments in one pass (explode → map-side partial agg; shuffle is
    // ~dim²/2 rows per partition regardless of corpus size)
    Q("emb_covariance",
      (s, dir) => EmbStats.covariance(Tables.embeddings(s, dir),
          col("embedding").cast("array<float>"), dim = 64)
        .orderBy("i", "j"),
      Some(EmbStats.covarianceSql("embeddings", "embedding", dim = 64)
        + " ORDER BY i, j")),

    // Top principal component — integer power iteration over the
    // dim²-bounded covariance (driver-side, like the IVF/PQ codebook
    // training); the oracle replays the identical arithmetic as
    // unrolled CTEs, so every double is bit-identical
    Q("emb_pca_power",
      (s, dir) => EmbStats.pcaTop(Tables.embeddings(s, dir),
          col("embedding").cast("array<float>"), dim = 64)
        .orderBy("i"),
      Some(EmbStats.pcaTopSql("embeddings", "embedding", dim = 64)
        + " ORDER BY i")),

    // Corpus-scale PCA apply: per-vector first-principal score via an
    // exact integer dot against the broadcast component — narrow map,
    // the 100 TB-shaped half of the PCA pair
    Q("emb_pca_project",
      (s, dir) => EmbStats.pcaProject(Tables.embeddings(s, dir),
          col("vec_id"), col("embedding").cast("array<float>"), dim = 64)
        .orderBy("id"),
      Some(EmbStats.pcaProjectSql("embeddings", "vec_id", "embedding", dim = 64)
        + " ORDER BY id")),

    // Randomized (Halko) PCA scores — the d-LINEAR route to the same
    // per-row quantity as emb_pca_project: sign-sketch to k=8, exact
    // cross moments (Cov·S, one pass, d·k state — never a d² object),
    // quantized Gram–Schmidt basis, exact k×k subspace moments, the
    // same integer power iteration. At d=1536 the exact route's d²
    // per-row accumulation costs 24.4s on 20k rows (DIMCHECK r7); this
    // is the scale sibling. Rayleigh–Ritz exactness at k ≥ rank is
    // spec-gated (EmbStatsRandomizedSpec); the hash gate replays every
    // quantized step in DuckDB bit-identically.
    Q("emb_pca_randomized",
      (s, dir) => EmbStats.pcaRandomized(Tables.embeddings(s, dir),
          col("vec_id"), col("embedding").cast("array<float>"), dim = 64, k = 8)
        .orderBy("id"),
      Some(EmbStats.pcaRandomizedSql("embeddings", "vec_id", "embedding",
          dim = 64, k = 8)
        + " ORDER BY id")),

    // Per-dimension z-score standardization — the whitening front step
    // over the same exact-integer moment pass as emb_covariance (train
    // is d-bounded; apply is a narrow map against broadcast (μ, σ)).
    // The gate serializes z at 6dp integer CSV: floor() of
    // bit-identical doubles is engine-stable, and CSV sidesteps the
    // driver compare's scalar-column contract (the v_quantize_int8
    // pattern)
    Q("emb_standardize",
      (s, dir) => EmbStats.standardize(Tables.embeddings(s, dir),
          col("vec_id"), col("embedding").cast("array<float>"), dim = 64)
        .select(col("id"),
          concat_ws(",", transform(col("z"),
            z => floor(z * 1e6d + 0.5d).cast("long").cast("string")))
            .as("z6_csv"))
        .orderBy("id"),
      Some(s"""SELECT id, array_to_string(list_transform(z,
              |    zz -> CAST(CAST(floor(zz * 1000000 + 0.5) AS BIGINT) AS VARCHAR)), ',')
              |  AS z6_csv
              |FROM (${EmbStats.standardizeSql("embeddings", "vec_id", "embedding", dim = 64)})
              |ORDER BY id""".stripMargin)),

    // Diagonal-Mahalanobis outlier scores in the standardized space —
    // the embedding-space prune before clustering; E[m2] = dim for
    // in-distribution rows, flag at 2·dim
    Q("emb_outlier_scores",
      (s, dir) => EmbStats.outlierScores(Tables.embeddings(s, dir),
          col("vec_id"), col("embedding").cast("array<float>"), dim = 64)
        .orderBy("id"),
      Some(EmbStats.outlierScoresSql("embeddings", "vec_id", "embedding",
        dim = 64) + " ORDER BY id")),

    // Johnson–Lindenstrauss sign projection 64 → 16: seedless affine-
    // hash sign matrix, exact long accumulation, narrow map — the
    // pre-reduction step before LSH/clustering at the reference's
    // native dim 1536. Same 4dp integer-CSV gate shape
    Q("emb_random_projection",
      (s, dir) => EmbStats.randomProjection(Tables.embeddings(s, dir),
          col("vec_id"), col("embedding").cast("array<float>"),
          dim = 64, k = 16)
        .select(col("id"),
          concat_ws(",", transform(col("y"),
            y => floor(y * 1e4d + 0.5d).cast("long").cast("string")))
            .as("y4_csv"))
        .orderBy("id"),
      Some(s"""SELECT id, array_to_string(list_transform(y,
              |    yy -> CAST(CAST(floor(yy * 10000 + 0.5) AS BIGINT) AS VARCHAR)), ',')
              |  AS y4_csv
              |FROM (${EmbStats.randomProjectionSql("embeddings", "vec_id", "embedding", dim = 64, k = 16)})
              |ORDER BY id""".stripMargin)),

    // Binary (sign-bit) quantization — the 32×-smaller coarsest rung
    // of the quantization ladder; MSB-first 32-bit words so both
    // engines build identical integers with exact double powers
    Q("v_quantize_binary",
      (s, dir) => {
        val w = Quantize.binary(col("embedding").cast("array<float>"))
        Tables.embeddings(s, dir)
          .select(col("vec_id"),
            concat_ws(",", transform(w, x => x.cast("string"))).as("words_csv"),
            aggregate(w, lit(0L), (a, x) => a + bit_count(x).cast("long"))
              .as("n_set"))
          .orderBy("vec_id")
      },
      Some(s"""SELECT vec_id,
              | array_to_string(list_transform(${Quantize.binarySql("embedding")},
              |   x -> CAST(x AS VARCHAR)), ',') AS words_csv,
              | CAST(list_sum(list_transform(${Quantize.binarySql("embedding")},
              |   w -> bit_count(w))) AS BIGINT) AS n_set
              |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // Hamming search over the packed sign bits — the binary prune
    // stage; integer distances, exact oracle
    Q("ann_hamming_topk",
      (s, dir) => {
        val qb = Pipelines.queryVector(s, dir)
          .select(Quantize.binary(col("q_emb").cast("array<float>")).as("qw"))
        Tables.embeddings(s, dir).crossJoin(broadcast(qb))
          .select(col("vec_id"),
            Quantize.hamming(
              Quantize.binary(col("embedding").cast("array<float>")),
              col("qw")).as("ham"))
          .orderBy(col("ham"), col("vec_id")).limit(10)
      },
      Some(s"""WITH qb AS (
              |  SELECT ${Quantize.binarySql("q_emb")} AS qw
              |  FROM (${Sql.queryVector(0)}) q),
              |cb AS (
              |  SELECT vec_id, ${Quantize.binarySql("embedding")} AS cw
              |  FROM embeddings)
              |SELECT vec_id, ${Quantize.hammingSql("cw", "qw")} AS ham
              |FROM cb, qb ORDER BY ham, vec_id LIMIT 10""".stripMargin)),

    // The two-stage binary→exact pipeline: Hamming prunes the corpus
    // to 50 candidates (32× less data touched at the scan), exact
    // cosine re-ranks the survivors — the serving pattern binary
    // quantization exists for; both stages' orders are fully
    // tie-broken so the oracle replays them exactly
    Q("ann_binary_rerank",
      (s, dir) => {
        val qv = Pipelines.queryVector(s, dir)
          .select(col("q_emb"),
            Quantize.binary(col("q_emb").cast("array<float>")).as("qw"))
        val pool = Tables.embeddings(s, dir).crossJoin(broadcast(qv))
          .select(col("vec_id"), col("embedding"), col("q_emb"),
            Quantize.hamming(
              Quantize.binary(col("embedding").cast("array<float>")),
              col("qw")).as("ham"))
          .orderBy(col("ham"), col("vec_id")).limit(50)
        pool.select(col("vec_id"), col("ham"),
            round(Distance.cosine(col("embedding"), col("q_emb")), 4).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
      },
      Some(s"""WITH qv AS (
              |  SELECT q_emb, ${Quantize.binarySql("q_emb")} AS qw
              |  FROM (${Sql.queryVector(0)}) q),
              |pool AS (
              |  SELECT vec_id, embedding, q_emb,
              |    ${Quantize.hammingSql(Quantize.binarySql("embedding"), "qw")}
              |      AS ham
              |  FROM embeddings, qv ORDER BY ham, vec_id LIMIT 50)
              |SELECT vec_id, ham,
              |  ${Sql.cosine("embedding", "q_emb")} AS cos
              |FROM pool ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    // Matryoshka prefix search: cosine ranking on the first 16 dims
    // only (MRL-style truncation) — the cheap-first rung of a
    // dimension ladder; slicing is scale-invariant for cosine so no
    // renormalization is needed, and the oracle slices identically
    Q("ann_matryoshka_topk",
      (s, dir) => Tables.embeddings(s, dir)
        .crossJoin(broadcast(Pipelines.queryVector(s, dir)))
        .select(col("vec_id"),
          round(Distance.cosine(slice(col("embedding"), 1, 16),
            slice(col("q_emb"), 1, 16)), 4).as("msim"))
        .orderBy(col("msim").desc, col("vec_id")).limit(10),
      Some(s"""SELECT vec_id,
              | ${Sql.cosine("e.embedding[1:16]", "q.q_emb[1:16]")} AS msim
              |FROM embeddings e, (${Sql.queryVector(0)}) q
              |ORDER BY msim DESC, vec_id LIMIT 10""".stripMargin)),

    // MMR diversity re-rank over the cosine top-20 pool: the greedy
    // λ·relevance − (1−λ)·redundancy fold, replayed step-for-step by
    // the oracle's recursive CTE (anchor = best relevance, each
    // recursion step = the same LATERAL argmax). Pool via
    // TakeOrderedAndProject; the sequential-by-definition greedy loop
    // runs per query over that bounded pool — parallelism is across
    // queries, never within one query's state.
    Q("q_mmr_rerank",
      (s, dir) => {
        val pool = Tables.embeddings(s, dir)
          .crossJoin(broadcast(Pipelines.queryVector(s, dir)))
          .select(lit(0L).as("query_id"), col("vec_id").as("doc_id"),
            col("embedding").as("emb"),
            round(Distance.cosine(col("embedding"), col("q_emb")), 4).as("qsim"))
          .orderBy(col("qsim").desc, col("doc_id")).limit(20)
        Mmr.rerank(pool, k = 8, lambda = 0.7)
          .select("doc_id", "mmr_rank", "mmr_score").orderBy("mmr_rank")
      },
      Some(Mmr.rerankSql("embeddings", "vec_id", "embedding",
        queryId = 0L, poolSize = 20, k = 8, lambda = 0.7)
        + " ORDER BY mmr_rank")),

    // End-to-end RAG context assembly — the reference's actual serving
    // use case (retrieve → diversify → fit the context window) as ONE
    // composed plan: cosine top-20 pool → MMR re-rank (k=8, λ=0.7) →
    // join document token counts → keep the MMR-ordered prefix within
    // a 150-token context budget. Every stage is bounded (top-k heap,
    // 20-row greedy pool, 8-row window); the corpus is touched only by
    // the two scans
    Q("pipeline_rag_context",
      (s, dir) => {
        val pool = Tables.embeddings(s, dir)
          .crossJoin(broadcast(Pipelines.queryVector(s, dir)))
          .select(lit(0L).as("query_id"), col("vec_id").as("doc_id"),
            col("embedding").as("emb"),
            round(Distance.cosine(col("embedding"), col("q_emb")), 4).as("qsim"))
          .orderBy(col("qsim").desc, col("doc_id")).limit(20)
        val mmr = Mmr.rerank(pool, k = 8, lambda = 0.7)
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.nTokensWs(col("text")).as("n_tok"))
        val w = Window.orderBy(col("mmr_rank"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        mmr.join(toks, "doc_id")
          .withColumn("cum_tok", sum(col("n_tok")).over(w))
          .where(col("cum_tok") <= 150L)
          .select(col("mmr_rank"), col("doc_id"), col("n_tok"), col("cum_tok"))
          .orderBy("mmr_rank")
      },
      Some {
        val mmr = Mmr.rerankSql("embeddings", "vec_id", "embedding",
          queryId = 0L, poolSize = 20, k = 8, lambda = 0.7)
        s"""WITH mmr AS ($mmr),
           |tok AS (SELECT doc_id, ${TextAnalysis.nTokensWsSql("text")} AS n_tok
           |        FROM documents)
           |SELECT mmr_rank, doc_id, n_tok, cum_tok FROM (
           |  SELECT m.mmr_rank, m.doc_id, t.n_tok,
           |    CAST(sum(t.n_tok) OVER (ORDER BY m.mmr_rank
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
           |  FROM mmr m JOIN tok t USING (doc_id))
           |WHERE cum_tok <= 150 ORDER BY mmr_rank""".stripMargin
      }),

    // Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25)
    // and vector (cosine) routes. Each route is a bounded top-50 via
    // TakeOrderedAndProject; fusion touches ≤ 100 rows. Rank-based, so
    // the incomparable score scales need no calibration.
    Q("q_hybrid_rrf",
      (s, dir) => {
        val lexTop = TextAnalysis.bm25(Tables.documents(s, dir),
            col("doc_id"), col("text"), Seq("hash", "join", "vector"))
          .orderBy(col("score").desc, col("id").asc).limit(50)
        val vecTop = Ann.cosineTopK(Tables.embeddings(s, dir),
            Pipelines.queryVector(s, dir), col("embedding"), col("vec_id"), 50)
          .select(col("vec_id").as("id"), col("sim"))
        Hybrid.rrfFuse(Seq(
            Hybrid.ranked(lexTop, col("id"),
              Seq(col("score").desc, col("id").asc)),
            Hybrid.ranked(vecTop, col("id"),
              Seq(col("sim").desc, col("id").asc))))
          .orderBy(col("rrf").desc, col("id").asc).limit(10)
      },
      Some(s"""WITH lex AS (
              |  SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank
              |  FROM (${TextAnalysis.bm25Sql("documents", "doc_id", "text",
                     Seq("hash", "join", "vector"))}
              |        ORDER BY score DESC, id LIMIT 50)
              |), vec AS (
              |  SELECT vec_id AS id,
              |         row_number() OVER (ORDER BY sim DESC, vec_id) AS rank
              |  FROM (SELECT e.vec_id, ${Sql.cosine("e.embedding", "q.q_emb")} AS sim
              |        FROM embeddings e, (${Sql.queryVector(0)}) q
              |        ORDER BY sim DESC, vec_id LIMIT 50)
              |)
              |SELECT COALESCE(l.id, v.id) AS id,
              | round(coalesce(1.0 / (60 + l.rank), 0)
              |   + coalesce(1.0 / (60 + v.rank), 0), 4) AS rrf
              |FROM lex l FULL OUTER JOIN vec v ON l.id = v.id
              |ORDER BY rrf DESC, id LIMIT 10""".stripMargin)),

    // Hybrid RRF through the CONTINUOUS route: one query (embedding +
    // terms) arrives on a MemoryStream, both routes generate
    // candidates statelessly (vector = broadcast corpus fan-out with
    // the L2 kernel; lexical = term → postings equi-join with the
    // shared bm25Contrib), and ONE windowed RrfAggregator owns the
    // per-route ranking + fusion. Candidate pools are FULL here (no
    // per-route top-50 like the batch gate), so the oracle ranks the
    // whole corpus per route: vector ascending rounded L2, lexical =
    // bm25Sql over the query terms (term order is token-sorted, so
    // the float fold matches the aggregator's token-sorted sum).
    Q("streaming_hybrid_rrf",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val docs = Tables.documents(s, dir)
        val corpus = Tables.embeddings(s, dir)
          .select(col("vec_id").as("id"), col("embedding"))
        val terms = Seq("hash", "join", "vector")
        // corpus stats straight off the documents (one narrow pass, no
        // postings explode); postings/dfs only ever join on the
        // query's terms — pre-bounding them is the module's documented
        // state-tightening move (df per kept token is unchanged by
        // dropping other tokens' rows). Spread the one-file source
        // before the tokenize, same move as buildBm25Index.
        val spread = docs.repartition(s.sparkContext.defaultParallelism)
        val toks = split(lower(trim(col("text"))), "\\s+")
        val stats = Materialize(spread
          .agg(count(lit(1)).as("n"), avg(size(toks).cast("long")).as("avgdl")))
        val postings = Materialize(TextAnalysis.bm25Postings(spread, col("doc_id"),
            col("text"))
          .where(col("token").isin(terms: _*)))
        val dfs = Materialize(postings.groupBy("token")
          .agg(count(lit(1)).as("df")))
        val qEmb = Pipelines.queryVector(s, dir)
          .collect().head.getSeq[Float](0)
        val t0 = 1700000000000L
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Seq[Float], Seq[String], java.sql.Timestamp)]
        ms.addData(Seq((0L, qEmb, terms,
          new java.sql.Timestamp(t0))))
        val out = graft.streaming.StreamingHybrid.rrfPerQuery(
          ms.toDS().toDF("query_id", "q_emb", "terms", "ts"),
          corpus, postings, dfs, stats, k = 10)
        val qName = "graft_streaming_hybrid"
        val q = out.writeStream.format("memory").queryName(qName)
          .outputMode("append").start()
        try {
          q.processAllAvailable()
          // close the query's window for append mode (processAll runs
          // the post-watermark no-data eviction batch itself)
          ms.addData(Seq((-1L, qEmb, Seq.empty[String],
            new java.sql.Timestamp(t0 + 3600000L))))
          q.processAllAvailable()
        } finally q.stop()
        s.table(qName).where(col("query_id") === 0)
          .select(col("doc_id"), col("rrf"), col("rank"))
          .orderBy("rank")
      },
      Some(s"""WITH lex AS (
              |  SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank
              |  FROM (${TextAnalysis.bm25Sql("documents", "doc_id", "text",
                     Seq("hash", "join", "vector"))})
              |), vec AS (
              |  SELECT e.vec_id AS id,
              |    row_number() OVER (ORDER BY ${Sql.l2("e.embedding", "q.q_emb")},
              |      e.vec_id) AS rank
              |  FROM embeddings e, (${Sql.queryVector(0)}) q
              |), fused AS (
              |  SELECT COALESCE(l.id, v.id) AS doc_id,
              |    round(coalesce(1.0 / (60 + l.rank), 0)
              |      + coalesce(1.0 / (60 + v.rank), 0), 4) AS rrf
              |  FROM lex l FULL OUTER JOIN vec v ON l.id = v.id
              |)
              |SELECT doc_id, rrf, CAST(row_number() OVER (
              |  ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank
              |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)),

    // Grouped top-k via the bounded-state aggregate (scale alternative
    // to window row_number): top-3 nearest per court level
    Q("grouped_topk_per_level",
      (s, dir) => {
        val scored = Knn.scored(Pipelines.caseCorpus(s, dir),
            Pipelines.queryVector(s, dir), col("embedding"), Distance.l2)
          .select(col("court_level"), col("vec_id").as("id"), col("score"))
        GroupedTopK.topKPerGroup(scored, col("court_level"), k = 3)
          .orderBy("court_level", "rank")
      },
      Some(s"""SELECT court_level, vec_id AS id, score, CAST(rn AS INTEGER) AS rank FROM (
              | SELECT c.court_level, c.vec_id, ${Sql.l2("c.embedding", "q.q_emb")} AS score,
              |  row_number() OVER (PARTITION BY c.court_level
              |    ORDER BY ${Sql.l2("c.embedding", "q.q_emb")}, c.vec_id) AS rn
              | FROM (${Sql.caseCorpus}) c, (${Sql.queryVector(0)}) q)
              |WHERE rn <= 3 ORDER BY court_level, rank""".stripMargin)),

    // IVF KNN join at full probe: the M×N probe path (codegen per-row
    // probe lists → explode → cluster equi-join → bounded top-k) under
    // the brute-force oracle — nprobe = nlist makes the index machinery
    // exactly equal to the exhaustive join, so the whole route is
    // hash-gated; partial probe is the same plan with a smaller scan
    Q("knn_ivf_join_full_probe",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id").as("id"), col("embedding"))
        val idx = Ann.buildIvf(Tables.embeddings(s, dir), nlist = 8)
        Ann.ivfKnnJoin(emb.where(col("id") < 20), idx, k = 3, nprobe = 8)
          .orderBy("left_id", "rank")
      },
      Some(knnTop3Sql)),

    // IVF maintenance through the CONTINUOUS route: centroids batch-
    // trained on the first half of the corpus, then BOTH halves stream
    // through StreamingIvf.assignAndWrite into the cluster-partitioned
    // layout (a streaming parquet sink owns the dir via its
    // _spark_metadata log — batch files appended beside it would be
    // invisible to readers, so everything goes through the sink). The
    // maintained layout served at FULL probe must equal brute force —
    // the same full-probe trick that gates the batch IVF machinery.
    Q("streaming_ivf_maintained",
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val emb = Tables.embeddings(s, dir)
        val idx0 = Ann.buildIvf(emb.where(col("vec_id") < 250), nlist = 8)
        def rowsOf(pred: Column) = emb.where(pred)
          .select(col("vec_id"), col("embedding"))
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
        val tmp = java.nio.file.Files
          .createTempDirectory(graft.TempDirs.token + "sivf-gate").toString
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Seq[Float])]
        val q = graft.streaming.StreamingIvf.assignAndWrite(
          ms.toDS().toDF("vec_id", "embedding"), idx0.centroids,
          s"$tmp/layout", s"$tmp/ckpt")
        try {
          ms.addData(rowsOf(col("vec_id") < 250)); q.processAllAvailable()
          ms.addData(rowsOf(col("vec_id") >= 250)); q.processAllAvailable()
        } finally q.stop()
        // partition-preserving compaction of the appended layout (one
        // file per cluster dir per batch otherwise grows unbounded);
        // the served probe below reads the COMPACTED layout, so the
        // compaction path sits under this hash gate
        graft.sources.Layout.compactPartitioned(s, s"$tmp/layout",
          s"$tmp/layout_c", Seq("cluster_id"))
        val maintained = Ann.IvfIndex(
          s.read.parquet(s"$tmp/layout_c"), idx0.centroids)
        Ann.ivfKnnJoin(emb.where(col("vec_id") < 20)
            .select(col("vec_id").as("id"), col("embedding")),
          maintained, k = 3, nprobe = 8)
          .orderBy("left_id", "rank")
      },
      Some(knnTop3Sql)),

    // The maintained IVF layout's ingest KILLED between its two
    // waves and resumed from the checkpoint by a new assignAndWrite
    // query on the SAME output dir (r12 kill-and-resume family): the
    // parquet sink's _spark_metadata log must hand the restarted query
    // exactly-once semantics — each row appended once, none lost —
    // or the served full-probe answer diverges from brute force.
    // Identical oracle as the uninterrupted streaming_ivf_maintained.
    Q("streaming_resume_ivf_maintained",
      (s, dir) => {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val emb = Tables.embeddings(s, dir)
        val idx0 = Ann.buildIvf(emb.where(col("vec_id") < 250), nlist = 8)
        def rowsOf(pred: Column) = emb.where(pred)
          .select(col("vec_id"), col("embedding"))
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
        val tmp = graft.TempDirs.create("resume-sivf").toString
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Seq[Float])]
        def start() = graft.streaming.StreamingIvf.assignAndWrite(
          ms.toDS().toDF("vec_id", "embedding"), idx0.centroids,
          s"$tmp/layout", s"$tmp/ckpt")
        val q1 = start()
        try {
          ms.addData(rowsOf(col("vec_id") < 250)); q1.processAllAvailable()
        } finally q1.stop()
        val q2 = start()
        try {
          ms.addData(rowsOf(col("vec_id") >= 250)); q2.processAllAvailable()
        } finally q2.stop()
        graft.sources.Layout.compactPartitioned(s, s"$tmp/layout",
          s"$tmp/layout_c", Seq("cluster_id"))
        val maintained = Ann.IvfIndex(
          s.read.parquet(s"$tmp/layout_c"), idx0.centroids)
        Ann.ivfKnnJoin(emb.where(col("vec_id") < 20)
            .select(col("vec_id").as("id"), col("embedding")),
          maintained, k = 3, nprobe = 8)
          .orderBy("left_id", "rank")
      },
      Some(knnTop3Sql)),

    // The Milvus create/load-collection lifecycle analog: the IVF
    // index persists as parquet (assignment PARTITIONED BY cluster_id
    // — probe-time scans prune to nprobe directories; centroids =
    // nlist rows) and the full-probe search through the RELOADED index
    // must equal brute force — same oracle as knn_ivf_join_full_probe,
    // proving persistence changes nothing
    Q("knn_ivf_persisted",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id").as("id"), col("embedding"))
        val built = Ann.buildIvf(Tables.embeddings(s, dir), nlist = 8)
        val path = java.nio.file.Files.createTempDirectory(graft.TempDirs.token + "ivf-q").toString
        Ann.saveIvf(built, path)
        val idx = Ann.loadIvf(s, path)
        Ann.ivfKnnJoin(emb.where(col("id") < 20), idx, k = 3, nprobe = 8)
          .orderBy("left_id", "rank")
      },
      Some(knnTop3Sql)),

    // COMPOSED SERVING RESTART — the operational story a 100 TB
    // deployment actually runs: one session builds the three
    // persisted serving artifacts (versioned corpus snapshot, IVF
    // assignment+centroids, bucketed BM25 postings+stats), then a
    // FRESH SparkSession restores all three FROM DISK and answers a
    // KNN + a BM25 + a MaxSim query with zero recompute — no
    // re-clustering (the restored plan scans the persisted
    // `assigned/` parquet), no re-tokenization, and no exchange on
    // the postings' token key (in-plan requires pin both). Oracle =
    // the batch answers over the raw tables, so restore-equals-build
    // sits under one hash gate
    Q("serving_restart",
      (s, dir) => {
        val tmp = java.nio.file.Files
          .createTempDirectory(graft.TempDirs.token + "restart").toString
        // ---- build phase: one session persists every artifact ----
        val emb = Tables.embeddings(s, dir)
        graft.sources.Layout.writeVersioned(emb, s"$tmp/corpus")
        Ann.saveIvf(Ann.buildIvf(emb, nlist = 8), s"$tmp/ivf")
        graft.sources.Bucketing.dropTable(s, "graft_restart_bm25")
        graft.sources.Bucketing.dropTable(s, "graft_restart_bm25_stats")
        TextAnalysis.buildBm25Index(Tables.documents(s, dir),
          col("doc_id"), col("text"), "graft_restart_bm25", s"$tmp/bm25",
          numBuckets = 8)
        // ---- restart: a fresh session restores from disk only ----
        val s2 = s.newSession()
        s2.conf.set("spark.sql.shuffle.partitions",
          s.conf.get("spark.sql.shuffle.partitions"))
        val corpus = graft.sources.Layout.readVersion(s2, s"$tmp/corpus")
        val idx = Ann.loadIvf(s2, s"$tmp/ivf")
        val knn = Ann.ivfKnnJoin(
          corpus.select(col("vec_id").as("id"), col("embedding"))
            .where(col("id") < 3), idx, k = 3, nprobe = 8)
        val knnPlan = knn.queryExecution.executedPlan.toString
        require(knnPlan.contains("assigned"),
          s"restored KNN must scan the persisted assignment, not recluster:\n$knnPlan")
        val bmQueries = {
          import s2.implicits._
          Seq((1L, Seq("hash", "join")), (2L, Seq("vector", "scan")))
            .toDF("query_id", "terms")
        }
        val bm = TextAnalysis.bm25JoinIndexed(s2, "graft_restart_bm25",
          bmQueries, k = 5)
        val bmPlan = bm.queryExecution.executedPlan.toString
        require(!"""Exchange hashpartitioning\([^)]*token""".r
            .findFirstIn(bmPlan).isDefined,
          s"restored BM25 serve must not re-shuffle postings on token:\n$bmPlan")
        val msim = graft.search.MaxSim.maxSimTopK(
          corpus.select((col("vec_id") % 100).as("doc_id"), col("embedding")),
          col("doc_id"), col("embedding"),
          corpus.where(col("vec_id") % 100 < 2)
            .select((col("vec_id") % 100).as("query_id"), col("vec_id"),
              col("embedding")),
          col("query_id"), col("vec_id"), col("embedding"), k = 5)
        knn.select(lit("knn").as("route"), col("left_id").as("qid"),
            col("right_id").as("id"), col("score"), col("rank"))
          .unionByName(bm.select(lit("bm25").as("route"),
            col("query_id").as("qid"), col("id"), col("score"), col("rank")))
          .unionByName(msim.select(lit("maxsim").as("route"),
            col("query_id").as("qid"), col("doc_id").as("id"),
            col("score"), col("rank")))
          .orderBy("route", "qid", "rank")
      },
      Some(servingRestartSql)),

    // IVF-PQ serving layout under BOTH degradation dials at their
    // exact settings: full probe (routing exhaustive) + full codebook
    // (codes decode to the identity) ⇒ the compressed-corpus ADC join
    // must equal brute force. 500-row slice bounds the codebook at any
    // sf; lossy recall behavior lives in PqSpec/AnnSpec.
    Q("knn_ivfpq_full_exact",
      (s, dir) => {
        val sub = Tables.embeddings(s, dir).where(col("vec_id") < 500)
        val idx = Ann.buildIvf(sub, nlist = 8)
        val pq = Quantize.trainPq(sub, m = 8, ksub = 1 << 20)
        val queries = sub.select(col("vec_id").as("id"), col("embedding"))
          .where(col("id") < 3)
        Ann.ivfPqKnnJoin(queries, idx, pq, k = 10, nprobe = 8)
          .orderBy("left_id", "rank")
      },
      Some(knnTop10Sql)),

    // Similarity join: top-3 neighbors for each of the first 20 vectors
    // (M×N generalization of the reference's 1×N search)
    Q("sim_join_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id").as("id"), col("embedding"))
        Knn.similarityJoin(emb.where(col("id") < 20), emb, k = 3)
          .orderBy("left_id", "rank")
      },
      Some(knnTop3Sql)),

    // Same semantics through the custom Catalyst route: KnnJoin logical
    // node → KnnJoinStrategy → BroadcastKnnExec (per-left-row bounded
    // heap over the broadcast right side; zero exchanges, M×k output
    // without materializing M×N). Shares the all-pairs oracle above.
    Q("knn_join_exec",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id").as("id"), col("embedding"))
        graft.plans.BroadcastKnn.similarityJoin(emb.where(col("id") < 20), emb, k = 3)
          .orderBy("left_id", "rank")
      },
      Some(knnTop3Sql)),

    // The same exact KNN through the CONTINUOUS route
    // (streaming/StreamingSearch.knnPerQuery): five query vectors
    // arrive on a MemoryStream, fan out over the broadcast static
    // corpus, and the bounded-state windowed top-k aggregate emits
    // each query's final ranking in append mode once a far-future
    // sentinel closes the window. Hash-gated against the brute-force
    // all-pairs oracle — stream and batch must agree row for row.
    Q("streaming_search_topk",
      (s, dir) => withStreamShuffle(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val corpus = Tables.embeddings(s, dir)
          .select(col("vec_id").as("id"), col("embedding"))
        val t0 = 1700000000000L
        val qRows = Tables.embeddings(s, dir).where(col("vec_id") < 5)
          .select(col("vec_id"), col("embedding"))
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1),
            new java.sql.Timestamp(t0))).toSeq
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
        ms.addData(qRows)
        val out = graft.streaming.StreamingSearch.knnPerQuery(
          ms.toDS().toDF("query_id", "q_emb", "ts"), corpus, k = 3)
        val qName = "graft_streaming_search"
        val q = out.writeStream.format("memory").queryName(qName)
          .outputMode("append").start()
        try {
          q.processAllAvailable()
          // sentinel an hour later: watermark (5 min delay) passes the
          // queries' 1-minute window end, closing it for append
          ms.addData(Seq((-1L, qRows.head._2,
            new java.sql.Timestamp(t0 + 3600000L))))
          q.processAllAvailable()
          ms.addData(Seq.empty[(Long, Seq[Float], java.sql.Timestamp)])
          q.processAllAvailable()
        } finally q.stop()
        s.table(qName).where(col("query_id") >= 0)
          .select(col("query_id"), col("corpus_id"), col("score"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some(s"""SELECT query_id, corpus_id, score, CAST(rn AS INTEGER) AS rank FROM (
              | SELECT q.vec_id AS query_id, r.vec_id AS corpus_id,
              |  ${Sql.l2("q.embedding", "r.embedding")} AS score,
              |  row_number() OVER (PARTITION BY q.vec_id
              |    ORDER BY ${Sql.l2("q.embedding", "r.embedding")}, r.vec_id) AS rn
              | FROM (SELECT * FROM embeddings WHERE vec_id < 5) q, embeddings r)
              |WHERE rn <= 3 ORDER BY query_id, rank""".stripMargin)),

    // IVF (KMeans coarse quantizer) probe search — approximate scale
    // path. Probe pruning has no SQL twin, so the declared output is
    // the search's recall gate: nprobe=8-of-16 results vs the
    // full-probe exact top-10 over a 20-QUERY panel (same index, only
    // the probe count differs). The bound runs on the panel MEAN —
    // single-query recall@10 swings 0.5-1.0 across data
    // regenerations, while the 20-query mean measured 0.795-0.83 on
    // four corpora (σ_mean ≈ 0.03, so ≥ 0.7 is a >3σ-stable gate;
    // SURVEY.md §8, round r06). IVF never fabricates distances —
    // probed candidates carry exact L2 — so approximate results are a
    // subset of the corpus ranking and recall is the one quality
    // dial. The oracle recomputes the panel size and query 0's exact
    // 10th-nearest distance from brute force. Exact machinery is
    // per-row hash-gated by ann_ivf_full_probe; per-probe-count
    // recall behavior by AnnSpec.
    Q("ann_ivf_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.select(col("vec_id").as("id"), col("embedding"))
          .where(col("id") < 20)
        val idx = Ann.buildIvf(emb, nlist = 16)
        val approx = Ann.ivfKnnJoin(queries, idx, k = 10, nprobe = 8)
          .select(col("left_id"), col("right_id"), lit(1).as("__a"))
        val exact = Ann.ivfKnnJoin(queries, idx, k = 10, nprobe = 16)
          .select(col("left_id"), col("right_id"), col("score"))
        exact.join(approx, Seq("left_id", "right_id"), "left")
          .agg(countDistinct(col("left_id")).as("__nq"),
            count(lit(1)).as("__n"),
            max(when(col("left_id") === 0L, col("score"))).as("__kth0"),
            count(col("__a")).as("__found"))
          .select(col("__nq").as("n_queries"),
            col("__n").as("n_results"),
            col("__kth0").as("exact_kth_l2_q0"),
            (col("__found") >= col("__n") * 0.7).as("mean_recall_ge_070"))
      },
      Some(s"""SELECT
              |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id < 20) AS n_queries,
              |  (SELECT CAST(count(*) * 10 AS BIGINT) FROM embeddings WHERE vec_id < 20) AS n_results,
              |  (SELECT max(score) FROM (
              |    SELECT ${Sql.l2("e.embedding", "q.q_emb")} AS score
              |    FROM embeddings e, (${Sql.queryVector(0)}) q
              |    ORDER BY score, e.vec_id LIMIT 10)) AS exact_kth_l2_q0,
              |  TRUE AS mean_recall_ge_070""".stripMargin)),

    // IVF with nprobe = nlist: probing every list degrades gracefully
    // to the exact scan, so the ENTIRE index machinery (quantizer
    // training, codegen centroid assignment, probe pruning, in-list
    // ranking) is oracle-gated against DuckDB's brute-force top-k —
    // the approximate path above then differs only in the probe count.
    Q("ann_ivf_full_probe",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv  = emb.where(col("vec_id") === 0L)
          .select(col("embedding")).head().getSeq[Float](0)
        Ann.buildIvf(emb, nlist = 16).searchL2(qv, k = 10, nprobe = 16)
          .select("vec_id", "label", "score")
      },
      Some(s"""SELECT e.vec_id, e.label,
              | ${Sql.l2("e.embedding", "q.q_emb")} AS score
              |FROM embeddings e, (${Sql.queryVector(0)}) q
              |ORDER BY score, vec_id LIMIT 10""".stripMargin)),

    // Product quantization under the exact-degradation gate: with
    // ksub ≥ the distinct subvector count, train→encode→decode is an
    // identity, so the ADC scan (L2 against reconstructions) must
    // reproduce the brute-force ranking bit-for-bit — the PQ analog of
    // the IVF full-probe gate. Fixed 500-vector slice keeps the
    // codebook bounded at any sf; lossy-setting behavior is bounded in
    // QuantizeSpec instead.
    Q("ann_pq_full_codebook",
      (s, dir) => {
        val sub = Tables.embeddings(s, dir).where(col("vec_id") < 500)
        val model = Quantize.trainPq(sub, m = 8, ksub = 1 << 20)
        val recon = sub.select(col("vec_id"),
          Quantize.pqDecode(model,
            Quantize.pqEncode(model, col("embedding"))).as("rvec"))
        val queries = sub.where(col("vec_id") < 3)
          .select(col("vec_id").as("left_id"), col("embedding").as("q_emb"))
        val cands = recon.crossJoin(broadcast(queries))
          .select(col("left_id"), col("vec_id").as("id"),
            round(Distance.l2(col("q_emb"), col("rvec")), 4).as("score"))
        GroupedTopK.topKPerGroup(cands, col("left_id"), 10)
          .select(col("left_id"), col("id").as("right_id"), col("score"),
            col("rank"))
          .orderBy("left_id", "rank")
      },
      Some(knnTop10Sql)),

    // All-pairs exact cosine top-k via block-GEMM ([[BlockMatrix]]):
    // every document's 5 nearest neighbors over the whole corpus in
    // one pass — B² tile tasks, M·B·k shuffle rows, never M².
    Q("blockmatrix_cosine_topk",
      (s, dir) => BlockMatrix.cosineTopK(Tables.embeddings(s, dir),
          col("vec_id"), col("embedding"), k = 5, numBlocks = 16)
        .orderBy("left_id", "rank"),
      Some(s"""SELECT left_id, right_id, score, CAST(rn AS INTEGER) AS rank FROM (
              | SELECT l.vec_id AS left_id, r.vec_id AS right_id,
              |  ${Sql.cosine("l.embedding", "r.embedding")} AS score,
              |  row_number() OVER (PARTITION BY l.vec_id
              |    ORDER BY ${Sql.cosine("l.embedding", "r.embedding")} DESC, r.vec_id) AS rn
              | FROM embeddings l JOIN embeddings r ON l.vec_id <> r.vec_id)
              |WHERE rn <= 5 ORDER BY left_id, rank""".stripMargin)),
  )

  // ---------------------------------------------------------------- //
  // Ingest pipeline + multimodal plumbing (rows-only: stateful chunk  //
  // fold and JVM-hash stubs have no SQL twins; semantics pinned by    //
  // IngestSpec / MultimodalSpec)                                      //
  // ---------------------------------------------------------------- //

  private val pipelineSpecs: Seq[Q] = Seq(
    // C4-style curation pass composed from the text-analysis operators:
    // quality floor + token-count band, then exact-dedup keeper
    // selection (min doc_id per normalized fingerprint) — the one-query
    // form of a training-data cleaning stage. All narrow except the
    // keeper aggregation (one shuffle on the fingerprint).
    Q("pipeline_curation",
      (s, dir) => {
        val d = TextAnalysis.docStats(col("text"))
        val scored = Tables.documents(s, dir).select(col("doc_id"),
          TextAnalysis.langIdF(d).as("lang"),
          TextAnalysis.qualityScoreF(d, length(col("text"))).as("quality"),
          TextAnalysis.nTokensWsF(d).as("ntok"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        val kept = scored.where(col("quality") >= 0.5 &&
          col("ntok").between(5, 2000))
        val keepers = kept.groupBy("fp").agg(min("doc_id").as("doc_id"))
        kept.join(keepers, Seq("fp", "doc_id"), "left_semi")
          .select(col("doc_id"), col("lang"), col("quality"))
          .orderBy("doc_id")
      },
      Some(s"""WITH scored AS (
              |  SELECT doc_id, ${TextAnalysis.langIdSql("text")} AS lang,
              |    ${TextAnalysis.qualityScoreSql("text")} AS quality,
              |    ${TextAnalysis.nTokensWsSql("text")} AS ntok,
              |    ${TextAnalysis.fingerprintSql("text")} AS fp
              |  FROM documents),
              |kept AS (SELECT * FROM scored
              |         WHERE quality >= 0.5 AND ntok BETWEEN 5 AND 2000)
              |SELECT k.doc_id, k.lang, k.quality FROM kept k
              |JOIN (SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY 1) g
              |  ON k.fp = g.fp AND k.doc_id = g.doc_id
              |ORDER BY k.doc_id""".stripMargin)),

    // The full training-data preparation pipeline as ONE declarative
    // plan: scrub-fingerprint dedup keeper + quality floor + token
    // band + repetition gates + deterministic hash split. Narrow maps
    // throughout except the fingerprint keeper aggregation — the
    // composed 100 TB curation job a training run actually submits.
    Q("pipeline_training_data",
      (s, dir) => {
        val d = TextAnalysis.docStats(col("text"))
        val r = TextAnalysis.repetitionStats(col("text"))
        val scored = Tables.documents(s, dir).select(col("doc_id"),
          TextAnalysis.qualityScoreF(d, length(col("text"))).as("quality"),
          TextAnalysis.nTokensWsF(d).as("ntok"),
          r.getField("distinct_ratio").as("distinct_ratio"),
          r.getField("top_share").as("top_share"),
          TextAnalysis.fingerprint(TextAnalysis.scrub(col("text"))).as("fp"))
        val kept = scored.where(col("quality") >= 0.5 &&
          col("ntok").between(5, 2000) &&
          col("distinct_ratio") >= 0.35 && col("top_share") <= 0.25)
        val keepers = kept.groupBy("fp").agg(min("doc_id").as("doc_id"))
        Splits.assignByHash(
            kept.join(keepers, Seq("fp", "doc_id"), "left_semi"),
            col("doc_id"))
          .select("doc_id", "split", "quality", "distinct_ratio", "ntok")
          .orderBy("doc_id")
      },
      Some(s"""WITH rep AS (${TextAnalysis.repetitionSqlFrom("documents", "doc_id", "text")}),
              |scored AS (
              |  SELECT d.doc_id,
              |    ${TextAnalysis.qualityScoreSql("d.text")} AS quality,
              |    ${TextAnalysis.nTokensWsSql("d.text")} AS ntok,
              |    r.distinct_ratio, r.top_share,
              |    ${TextAnalysis.fingerprintSql(TextAnalysis.scrubSql("d.text"))} AS fp
              |  FROM documents d JOIN rep r USING (doc_id)),
              |kept AS (SELECT * FROM scored
              |  WHERE quality >= 0.5 AND ntok BETWEEN 5 AND 2000
              |    AND distinct_ratio >= 0.35 AND top_share <= 0.25)
              |SELECT k.doc_id, ${Splits.assignByHashSql("k.doc_id")} AS split,
              |  k.quality, k.distinct_ratio, k.ntok
              |FROM kept k
              |JOIN (SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY 1) g
              |  ON k.fp = g.fp AND k.doc_id = g.doc_id
              |ORDER BY k.doc_id""".stripMargin)),

    // The r11 clip family made LOAD-BEARING end-to-end (r12): quality
    // screen → benchmark-decontamination clip → corpus self-dedup clip
    // (both hashed 100 TB tiers) → exact fingerprint dedup on the
    // CLIPPED text → deterministic hash split, one composed plan under
    // one composed oracle. This is the pipeline shape Lee et al.-style
    // span dedup actually ships in: the clips run BETWEEN the cheap
    // screens and the doc-level dedup, so fingerprints are computed on
    // decontaminated text. c1 is pinned: three downstream consumers
    // (self-clip seeds, clip tail, the n_removed join) would otherwise
    // re-run the whole benchmark gram join.
    Q("pipeline_training_data_v2",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val d = TextAnalysis.docStats(col("text"))
        val kept = docs.where(col("doc_id") >= 10)
          .select(col("doc_id"), col("text"),
            TextAnalysis.qualityScoreF(d, length(col("text"))).as("quality"),
            TextAnalysis.nTokensWsF(d).as("ntok"))
          .where(col("quality") >= 0.5 && col("ntok").between(5, 2000))
        val c1 = Materialize(graft.dedup.Spans.clipAgainst(
            kept, col("doc_id"), col("text"),
            docs.where(col("doc_id") < 10), col("text"),
            minTokens = 8, hashGrams = true))
        val c2 = graft.dedup.Spans.clipSpans(
          c1.select(col("doc_id"), col("clean_text")),
          col("doc_id"), col("clean_text"), minTokens = 8, hashGrams = true)
        val merged = c1
          .select(col("doc_id"), col("n_removed").as("n_removed_bench"))
          .join(c2.select(col("doc_id"), col("clean_text"),
            col("n_removed").as("n_removed_self")), "doc_id")
        val fp = merged.withColumn("fp",
          TextAnalysis.fingerprint(TextAnalysis.scrub(col("clean_text"))))
        val keepers = fp.groupBy("fp").agg(min("doc_id").as("doc_id"))
        Splits.assignByHash(
            fp.join(keepers, Seq("fp", "doc_id"), "left_semi"),
            col("doc_id"))
          .select(col("doc_id"), col("split"),
            col("n_removed_bench"), col("n_removed_self"))
          .orderBy("doc_id")
      },
      Some(pipelineTrainingV2Sql)),

    // Token-budget sequence packing for a pre-training loader:
    // documents shuffled deterministically (sha256 mix key), laid out
    // by cumulative token offset, and cut into 2048-token sequences —
    // all through the scalable two-phase prefix sum (no global
    // window). The oracle recomputes the layout with the serial
    // window-cumsum form; integer token counts make both exact.
    Q("pipeline_seq_pack",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"),
          TextAnalysis.nTokensWs(col("text")).as("ntok"),
          sha2(concat(lit("pack:"), col("doc_id").cast("string")), 256).as("mix"))
        graft.operators.Prefix.packSequences(docs, col("ntok"),
            budget = 2048L, col("mix"), col("doc_id"))
          .groupBy("seq_id")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("seq_tokens"),
            min("start_off").as("first_off"))
          .orderBy("seq_id")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, ${TextAnalysis.nTokensWsSql("text")} AS ntok,
              |    sha256('pack:' || CAST(doc_id AS VARCHAR)) AS mix
              |  FROM documents),
              |laid AS (
              |  SELECT doc_id, ntok,
              |    CAST(sum(ntok) OVER (ORDER BY mix, doc_id) AS BIGINT) - ntok
              |      AS start_off
              |  FROM toks)
              |SELECT CAST(floor(start_off / 2048) AS BIGINT) AS seq_id,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(ntok) AS BIGINT) AS seq_tokens,
              |  min(start_off) AS first_off
              |FROM laid GROUP BY 1 ORDER BY 1""".stripMargin)),

    // §3.2 ingest: documents → classify → chunk → embed → chunk table.
    // chunk_id (partition-dependent auto-id) is excluded from the
    // output so the result is deterministic under any parallelism, and
    // the embedding column is excluded from the COMPARE surface only:
    // DeterministicEmbedder is xxhash64-based, which DuckDB cannot
    // replay (the embedder is pinned by IngestSpec instead). Everything
    // else — chunk fold, sha256 file key, doc-type + decision-with-
    // retry cascades over S2 metadata — is hash-gated end to end.
    Q("ingest_chunk_table",
      // no orderBy: the differential compare sorts rows itself, and a
      // global sort's range-partitioning SAMPLING pass re-evaluates
      // this whole cascade+chunk subtree a second time for nothing
      (s, dir) => graft.api.Ingest.chunkTable(s,
          Tables.documents(s, dir), col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(10)),
          graft.embed.DeterministicEmbedder(dim = 16))
        .select(col("doc_key"), col("chunk_idx"), col("n_words"),
          col("file_name"), col("file_id"), col("court_level"),
          col("case_decision"), col("document_type")),
      Some {
        val ws = "' ' || chr(10) || chr(9) || chr(13)"
        val fileName = "'doc_' || CAST(doc_id AS VARCHAR) || '.pdf'"
        // metadata regexes scan the FIRST-PAGE prefix, as the reference
        // does (doc[0].get_text() — Ingest.FirstPageChars)
        val pg = "substr(text, 1, 3500)"
        val meta = "trim(concat_ws(' ', " +
          s"regexp_extract($pg, ${Sql.lit(CaseMetadata.caseNumberPattern)}, 1), " +
          s"trim(regexp_extract($pg, ${Sql.lit(CaseMetadata.partiesPattern)}, 1)), " +
          s"trim(regexp_extract($pg, ${Sql.lit(CaseMetadata.partiesPattern)}, 2))))"
        s"""WITH RECURSIVE paras AS (
           |  SELECT CAST(doc_id AS VARCHAR) AS key, CAST(1 AS INT) AS i, trim(text, $ws) AS para
           |  FROM documents WHERE length(trim(text, $ws)) > 0
           |), counts AS (SELECT key, max(i) AS n FROM paras GROUP BY key),
           |step AS (
           |  SELECT key, 0 AS i, '' AS cur, CAST(NULL AS VARCHAR) AS emit, 0 AS n_emitted FROM counts
           |  UNION ALL
           |  SELECT s.key, p.i,
           |    CASE WHEN len(regexp_extract_all(s.cur || p.para, '\\S+')) < 400
           |         THEN s.cur || chr(10) || p.para ELSE p.para END,
           |    CASE WHEN len(regexp_extract_all(s.cur || p.para, '\\S+')) < 400
           |         THEN CAST(NULL AS VARCHAR) ELSE trim(s.cur, $ws) END,
           |    s.n_emitted + CASE WHEN len(regexp_extract_all(s.cur || p.para, '\\S+')) < 400 THEN 0 ELSE 1 END
           |  FROM step s JOIN paras p ON p.key = s.key AND p.i = s.i + 1
           |), emitted AS (
           |  SELECT key, n_emitted - 1 AS chunk_idx, emit AS chunk FROM step WHERE emit IS NOT NULL
           |  UNION ALL
           |  SELECT s.key, s.n_emitted AS chunk_idx, trim(s.cur, $ws) AS chunk
           |  FROM step s JOIN counts c ON s.key = c.key AND s.i = c.n
           |  WHERE s.cur <> ''
           |), attrs AS (
           |  SELECT CAST(doc_id AS VARCHAR) AS key,
           |    $fileName AS file_name,
           |    sha256($fileName) AS file_id,
           |    CAST(doc_id % 10 AS INTEGER) AS court_level,
           |    ${Cascades.docTypeSql("text")} AS document_type,
           |    ${Cascades.decisionWithRetrySql("text", meta)} AS case_decision
           |  FROM documents
           |)
           |SELECT e.key AS doc_key, CAST(e.chunk_idx AS INTEGER) AS chunk_idx,
           |  CAST(len(regexp_extract_all(e.chunk, '\\S+')) AS BIGINT) AS n_words,
           |  a.file_name, a.file_id, a.court_level, a.case_decision, a.document_type
           |FROM emitted e JOIN attrs a ON e.key = a.key
           |ORDER BY doc_key, chunk_idx""".stripMargin
      }),

    // Multimodal: binary columns + per-partition decode/featurize stubs.
    // The stubs are deterministic integer functions of the payload
    // bytes, and the fixture payload is ASCII text — so the DuckDB
    // oracle replays the exact Java hash arithmetic over code points
    // (Multimodal.h32Sql / f0MillionthsSql) and the whole decode +
    // featurize surface is hash-gated, not rows-only. Feature 0 is
    // compared in integer MILLIONTHS: round(f0·1e6) on the float
    // recovers the stub's integer losslessly, sidestepping any
    // float-division formatting drift between engines.
    Q("mm_media_features",
      (s, dir) => {
        val media = Tables.documents(s, dir)
          .select(col("doc_id"), encode(col("text"), "utf-8").as("data"))
        val meta  = graft.multimodal.Multimodal.decodeMeta(s, media, "doc_id", "data").toDF()
        val feats = graft.multimodal.Multimodal.extractFeatures(s, media, "doc_id", "data", dim = 8)
          .toDF()
          .select(col("media_id"),
            round(element_at(col("features"), 1) * 1000000.0d).cast("long").as("f0_millionths"))
        meta.join(feats, "media_id").orderBy("media_id")
      },
      Some {
        val mm = graft.multimodal.Multimodal
        s"""WITH b AS (SELECT doc_id AS media_id, CAST(length(text) AS BIGINT) AS n_bytes,
           |             ${mm.codesSql("text")} AS codes FROM documents),
           |h AS (SELECT media_id, n_bytes, codes, ${mm.h32Sql("codes")} AS h32 FROM b)
           |SELECT media_id, n_bytes, ${mm.formatSql("h32")} AS format,
           |  CAST(${mm.widthSql("h32")} AS INTEGER) AS width,
           |  CAST(${mm.heightSql("h32")} AS INTEGER) AS height,
           |  1 AS n_frames,
           |  ${mm.f0MillionthsSql("codes")} AS f0_millionths
           |FROM h ORDER BY media_id""".stripMargin
      }),

    // Multimodal: thumbnail pass — per-partition resize, no shuffle;
    // dims + payload size + unsigned byte sum are the compare surface
    // (the stub payload is an integer function of the input bytes the
    // oracle can replay; a crc is not DuckDB-expressible)
    Q("mm_resize",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir)
          .select(col("doc_id"), encode(col("text"), "utf-8").as("data"))
        graft.multimodal.Multimodal.resize(s, media, "doc_id", "data",
            targetW = 64, targetH = 48)
          .map(r => (r.media_id, r.width, r.height, r.data.length,
            graft.multimodal.Multimodal.byteSumUnsigned(r.data)))
          .toDF("media_id", "width", "height", "out_bytes", "payload_sum")
          .orderBy("media_id")
      },
      // resizeStub: out_len = max(1, min(len, 64·48/8 = 384));
      // out[i] = data[(i·len)/out_len] XOR ((64 + 31·48) & 0xFF = 16)
      Some(s"""WITH b AS (SELECT doc_id AS media_id,
              |  ${graft.multimodal.Multimodal.codesSql("text")} AS codes,
              |  CAST(length(text) AS BIGINT) AS len FROM documents),
              |o AS (SELECT media_id, codes, len, greatest(1, least(len, 384)) AS out_len FROM b)
              |SELECT media_id, 64 AS width, 48 AS height,
              |  CAST(out_len AS INTEGER) AS out_bytes,
              |  CAST(list_sum(list_transform(range(0, out_len),
              |    i -> xor(codes[CAST((i * len) // out_len AS INT) + 1], 16))) AS BIGINT) AS payload_sum
              |FROM o ORDER BY media_id""".stripMargin)),

    // REAL image resize under the differential gate (the MediaFixture
    // move applied to stills): per doc, a real 24-bit BMP with
    // closed-form pixels is BUILT, decoded by JDK ImageIO, box-average
    // resampled to 4x3 (integer arithmetic — bit-stable across JREs,
    // unlike AWT rendering), re-encoded PNG, then DECODED BACK to
    // per-pixel RGB rows (raw PNG bytes are not comparable across
    // engines; decoded channels are). The oracle replays pixel formula
    // + box-average in SQL — a drift anywhere in BMP build -> ImageIO
    // decode -> resample -> PNG encode -> PNG decode breaks the hash.
    Q("mm_resize_real",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id =>
            (id, graft.multimodal.MediaFixture.bmpBytes(id))))
          .toDF("media_id", "data")
        val resized = graft.multimodal.Multimodal
          .resizeImages(s, media, "media_id", "data", targetW = 4, targetH = 3)
          .toDF()
        graft.multimodal.Multimodal
          .decodePixels(s, resized, "media_id", "data")
          .toDF().orderBy("media_id", "y", "x")
      },
      Some("""WITH d AS (SELECT doc_id AS media_id,
             |            CAST(8 + doc_id % 9 AS BIGINT) AS sw,
             |            CAST(6 + doc_id % 7 AS BIGINT) AS sh FROM documents),
             |ox AS (SELECT media_id, sw, sh, unnest(range(0, 4)) AS x FROM d),
             |oxy AS (SELECT media_id, sw, sh, x, unnest(range(0, 3)) AS y FROM ox),
             |box AS (SELECT media_id, x, y,
             |          (x * sw) // 4 AS x0,
             |          greatest((x * sw) // 4 + 1, ((x + 1) * sw) // 4) AS x1,
             |          (y * sh) // 3 AS y0,
             |          greatest((y * sh) // 3 + 1, ((y + 1) * sh) // 3) AS y1
             |        FROM oxy),
             |sx AS (SELECT media_id, x, y, y0, y1, unnest(range(x0, x1)) AS px FROM box),
             |sxy AS (SELECT media_id, x, y, px, unnest(range(y0, y1)) AS py FROM sx),
             |vals AS (SELECT media_id, x, y,
             |           (media_id * 7 + px * 13 + py * 31) % 256 AS r,
             |           (media_id * 11 + px * 3 + py * 17) % 256 AS g,
             |           (media_id * 5 + px * 29 + py * 23) % 256 AS b
             |         FROM sxy)
             |SELECT media_id, CAST(x AS INTEGER) AS x, CAST(y AS INTEGER) AS y,
             |  CAST(SUM(r) // COUNT(*) AS INTEGER) AS r,
             |  CAST(SUM(g) // COUNT(*) AS INTEGER) AS g,
             |  CAST(SUM(b) // COUNT(*) AS INTEGER) AS b
             |FROM vals GROUP BY media_id, x, y
             |ORDER BY media_id, y, x""".stripMargin)),

    // Multimodal: video frame sampling — bounded fan-out flatMap
    // (stride everyN, cap maxFrames), one frame live per task at a
    // time; frame index set + per-frame byte sums are the surface
    Q("mm_frame_sample",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir)
          .select(col("doc_id"), encode(col("text"), "utf-8").as("data"))
        graft.multimodal.Multimodal.sampleFrames(s, media, "doc_id", "data",
            everyN = 7, maxFrames = 5)
          .map(f => (f.media_id, f.frame_idx, f.frame.length,
            graft.multimodal.Multimodal.byteSumUnsigned(f.frame)))
          .toDF("media_id", "frame_idx", "frame_bytes", "frame_sum")
          .orderBy("media_id", "frame_idx")
      },
      // frameStub: flen = max(1, len/4); out[i] = data[(i + idx·7) % len] + idx
      // (mod 256 unsigned); n_frames = max(1, floorMod(31·w + h, 120))
      Some {
        val mm = graft.multimodal.Multimodal
        s"""WITH b AS (SELECT doc_id AS media_id, ${mm.codesSql("text")} AS codes,
           |             CAST(length(text) AS BIGINT) AS len FROM documents),
           |h AS (SELECT media_id, codes, len, ${mm.h32Sql("codes")} AS h32 FROM b),
           |m AS (SELECT media_id, codes, len, ${mm.widthSql("h32")} AS w,
           |        ${mm.heightSql("h32")} AS ht FROM h),
           |f AS (SELECT media_id, codes, len,
           |        greatest(1, ((w * 31 + ht) % 120 + 120) % 120) AS n_frames FROM m),
           |x AS (SELECT media_id, codes, len,
           |        CAST(unnest(array_slice(range(0, n_frames, 7), 1, 5)) AS INT) AS frame_idx
           |      FROM f)
           |SELECT media_id, frame_idx,
           |  CAST(greatest(1, len // 4) AS INTEGER) AS frame_bytes,
           |  CAST(list_sum(list_transform(range(0, greatest(1, len // 4)),
           |    i -> (codes[CAST((i + frame_idx * 7) % len AS INT) + 1] + frame_idx) % 256)) AS BIGINT) AS frame_sum
           |FROM x ORDER BY media_id, frame_idx""".stripMargin
      }),

    // REAL audio under the differential gate (the flagship_from_pdfs
    // move applied to media): per doc, a byte-exact RIFF/WAVE file is
    // BUILT from a closed-form sample formula (MediaFixture), parsed
    // back through the real WavParser arm (chunk walk → PCM decode →
    // integer-exact features), while the oracle computes RMS/peak/ZCR
    // straight from the formula — a drift anywhere in build → parse →
    // decode → feature arithmetic breaks the hash
    Q("mm_wav_features",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id =>
            (id, graft.multimodal.MediaFixture.wavBytes(id))))
          .toDF("media_id", "data")
        graft.multimodal.WavParser
          .extractAudioFeatures(s, media, "media_id", "data")
          .toDF().orderBy("media_id")
      },
      Some("""WITH f AS (
             |  SELECT doc_id, 800 + doc_id % 50 AS n FROM documents),
             |sv AS (
             |  SELECT doc_id, n, i,
             |    ((doc_id * 31 + i * 17) % 2001) - 1000 AS s
             |  FROM (SELECT doc_id, n, unnest(range(0, n)) AS i FROM f)),
             |agg AS (
             |  SELECT doc_id, any_value(n) AS n, SUM(s * s) AS ss,
             |    MAX(abs(s)) AS pk
             |  FROM sv GROUP BY doc_id),
             |zc AS (
             |  SELECT doc_id,
             |    COUNT(*) FILTER (pg IS NOT NULL AND g <> pg) AS z
             |  FROM (SELECT doc_id, sign(s) AS g,
             |          lag(sign(s)) OVER (PARTITION BY doc_id ORDER BY i) AS pg
             |        FROM sv WHERE s <> 0)
             |  GROUP BY doc_id)
             |SELECT a.doc_id AS media_id,
             |  CAST(a.n * 1000 // 8000 AS BIGINT) AS duration_ms,
             |  CAST(floor(sqrt(CAST(a.ss AS DOUBLE) / a.n) / 32767 * 1000000
             |             + 0.5) AS BIGINT) AS rms_millionths,
             |  CAST(floor(CAST(a.pk AS DOUBLE) / 32767 * 1000000 + 0.5)
             |    AS BIGINT) AS peak_millionths,
             |  CAST(coalesce(z.z, 0) AS BIGINT) AS zero_crossings
             |FROM agg a LEFT JOIN zc z ON a.doc_id = z.doc_id
             |ORDER BY media_id""".stripMargin)),

    // REAL MP4 under the differential gate: per doc, a spec-conformant
    // ISO BMFF file built from closed-form parameters, parsed back
    // through the real atom walk; the oracle states those parameters
    // directly (duration_ms exercises the timescale division)
    Q("mm_mp4_meta",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id =>
            (id, graft.multimodal.MediaFixture.mp4Bytes(id))))
          .toDF("media_id", "data")
        graft.multimodal.Mp4Parser
          .decodeVideoMeta(s, media, "media_id", "data")
          .toDF()
          .select(col("media_id"), col("brand"), col("codec"),
            col("timescale"), col("duration_ms"), col("width"),
            col("height"), col("n_samples"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, 'isom' AS brand, 'jpeg' AS codec,
             |  CAST(600 AS BIGINT) AS timescale,
             |  CAST((1500 + doc_id % 997) * 1000 // 600 AS BIGINT) AS duration_ms,
             |  CAST(16 + doc_id % 64 AS INTEGER) AS width,
             |  CAST(9 + doc_id % 32 AS INTEGER) AS height,
             |  CAST(1 + doc_id % 7 AS INTEGER) AS n_samples
             |FROM documents ORDER BY media_id""".stripMargin)),

    // REAL frame extraction under the gate: the stbl seek table
    // (stsc × stco × stsz) must slice sample i back out of mdat
    // byte-exactly — fixture sample i is i+1 bytes of (id+i) mod 256,
    // so length and byte-sum are closed-form for the oracle
    Q("mm_mp4_frames",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id =>
            (id, graft.multimodal.MediaFixture.mp4Bytes(id))))
          .toDF("media_id", "data")
        graft.multimodal.Mp4Parser
          .sampleFramesReal(s, media, "media_id", "data", everyN = 2)
          .map(f => (f.media_id, f.frame_idx, f.frame.length,
            graft.multimodal.Multimodal.byteSumUnsigned(f.frame)))
          .toDF("media_id", "frame_idx", "frame_bytes", "frame_sum")
          .orderBy("media_id", "frame_idx")
      },
      Some("""SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx,
             |  CAST(i + 1 AS INTEGER) AS frame_bytes,
             |  CAST((i + 1) * ((doc_id + i) % 256) AS BIGINT) AS frame_sum
             |FROM (SELECT doc_id,
             |        unnest(range(0, 1 + doc_id % 7, 2)) AS i
             |      FROM documents)
             |ORDER BY media_id, frame_idx""".stripMargin)),

    // REAL audio window sampling under the gate: 50 ms windows (400
    // frames at 8 kHz) sliced frame-aligned out of the built WAV; the
    // oracle reconstructs each window's little-endian byte sum from
    // the sample formula (16-bit two's complement split into lo/hi
    // unsigned bytes) — the seek arithmetic and the PCM layout both
    // sit under the hash
    Q("mm_wav_windows",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id =>
            (id, graft.multimodal.MediaFixture.wavBytes(id))))
          .toDF("media_id", "data")
        graft.multimodal.WavParser
          .sampleWindows(s, media, "media_id", "data", windowMs = 50)
          .map(w => (w.media_id, w.window_idx, w.start_frame, w.pcm.length,
            graft.multimodal.Multimodal.byteSumUnsigned(w.pcm)))
          .toDF("media_id", "window_idx", "start_frame", "pcm_bytes", "pcm_sum")
          .orderBy("media_id", "window_idx")
      },
      Some("""WITH f AS (
             |  SELECT doc_id, 800 + doc_id % 50 AS n FROM documents),
             |w AS (
             |  SELECT doc_id, n, unnest(range(0, (n + 399) // 400)) AS w FROM f),
             |sv AS (
             |  SELECT doc_id, w,
             |    CASE WHEN s < 0 THEN s + 65536 ELSE s END AS u
             |  FROM (SELECT doc_id, w,
             |          ((doc_id * 31 + i * 17) % 2001) - 1000 AS s
             |        FROM (SELECT doc_id, w,
             |                unnest(range(w * 400, least(n, (w + 1) * 400))) AS i
             |              FROM w)))
             |SELECT doc_id AS media_id, CAST(w AS INTEGER) AS window_idx,
             |  CAST(w * 400 AS BIGINT) AS start_frame,
             |  CAST(2 * count(*) AS INTEGER) AS pcm_bytes,
             |  CAST(SUM(u % 256 + u // 256) AS BIGINT) AS pcm_sum
             |FROM sv GROUP BY doc_id, w
             |ORDER BY media_id, window_idx""".stripMargin)),
  )

  /** Exact top-3 L2 neighbours of vectors 0-19: the oracle of every KNN-join route. */
  private def knnTop3Sql: String =
    s"""SELECT left_id, right_id, score, CAST(rn AS INTEGER) AS rank FROM (
      | SELECT l.vec_id AS left_id, r.vec_id AS right_id,
      |  ${Sql.l2("l.embedding", "r.embedding")} AS score,
      |  row_number() OVER (PARTITION BY l.vec_id
      |    ORDER BY ${Sql.l2("l.embedding", "r.embedding")}, r.vec_id) AS rn
      | FROM (SELECT * FROM embeddings WHERE vec_id < 20) l, embeddings r)
      |WHERE rn <= 3 ORDER BY left_id, rank""".stripMargin

  /** Exact top-10 L2 neighbours of vectors 0-2 among vectors 0-499. */
  private def knnTop10Sql: String =
    s"""SELECT left_id, right_id, score, CAST(rn AS INTEGER) AS rank FROM (
      | SELECT q.vec_id AS left_id, e.vec_id AS right_id,
      |  ${Sql.l2("e.embedding", "q.embedding")} AS score,
      |  row_number() OVER (PARTITION BY q.vec_id
      |    ORDER BY ${Sql.l2("e.embedding", "q.embedding")}, e.vec_id) AS rn
      | FROM (SELECT * FROM embeddings WHERE vec_id < 500) e,
      |      (SELECT * FROM embeddings WHERE vec_id < 3) q)
      |WHERE rn <= 10 ORDER BY left_id, rank""".stripMargin

  /** Each document's first near-duplicate (Jaccard 0.9) earlier in the corpus. */
  private def nearDupSelfSql: String =
    s"""WITH pairs AS (${graft.dedup.Dedup.ngramJaccardPairsIndexedSql(
        "documents", "doc_id",
        Enrich.dedupContentSql("text", "doc_id"), n = 3,
        minJaccard = 0.9)}),
      |best AS (SELECT id_b AS id, id_a AS dup_of, jaccard,
      |  row_number() OVER (PARTITION BY id_b ORDER BY id_a) AS rn
      |  FROM pairs)
      |SELECT d.doc_id AS id, b.dup_of, b.jaccard
      |FROM documents d
      |LEFT JOIN (SELECT id, dup_of, jaccard FROM best WHERE rn = 1) b
      |  ON b.id = d.doc_id
      |ORDER BY id""".stripMargin

  /** Near-duplicate clusters by full recursive reachability: the oracle of every clustering route. */
  private def dupClustersSql: String =
    s"""WITH RECURSIVE edges AS MATERIALIZED (
      |  ${Dedup.ngramJaccardPairsIndexedSql("documents", "doc_id",
           Enrich.dedupContentSql("text", "doc_id"))}
      |), sym AS (
      |  SELECT id_a AS src, id_b AS dst FROM edges
      |  UNION ALL
      |  SELECT id_b, id_a FROM edges
      |), reach AS (
      |  SELECT src AS id, src AS r FROM sym
      |  UNION
      |  SELECT sym.src, reach.r FROM sym JOIN reach ON sym.dst = reach.id
      |)
      |SELECT id, min(r) AS cluster_id, (id = min(r)) AS is_keeper
      |FROM reach GROUP BY id ORDER BY id""".stripMargin

  private def specs: Seq[Q] =
    vectorSpecs ++ relationalSpecs ++ classifySpecs ++ textSpecs ++
      dedupSpecs ++ pipelineSpecs

  /** A declared query ending in a global `orderBy` pays its subtree
    * TWICE: the range-partitioning exchange below SortExec first runs
    * a sampling pass over the child RDD (every partition, all rows,
    * down to the nearest shuffle boundary) to pick range bounds, then
    * the real pass re-executes the same subtree. For the map-shaped
    * tails that dominate this suite (regex cascades, levenshtein
    * verify, tokenizer encodes — expensive narrow work ABOVE the last
    * exchange) that is a ~30-50% tax, measured r17: dedup_edit_verified
    * 15.6→8.2s, f7_conclusion_extract 7.3→4.2s, mm_resize_real
    * 3.8→1.6s (steady-state pairs, OPTIMIZATION_r17.md Change 2).
    *
    * Fix: rebuild `<subtree>.orderBy(k)` as
    * `Materialize.inPlan(<subtree>).sort(k)` — the sampling pass caches
    * the subtree's rows and the real pass reads them. Rows AND declared
    * ordering are bit-identical (same Sort, same keys, same rows). The
    * cache is result-sized and sits in the plan, which still shows the
    * subtree. Applied to every declared query whose ROOT logical node
    * is a global Sort; Limit-over-Sort (semantic top-k) is left alone.
    */
  private def checkpointTrailingSort(
      fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => {
      val df = fn(s, dir)
      df.queryExecution.logical match {
        case org.apache.spark.sql.catalyst.plans.logical.Sort(order, true, child, _) =>
          Materialize.inPlan(org.apache.spark.sql.GraftColumnBridge.ofRows(s, child))
            .sort(order.map(org.apache.spark.sql.GraftColumnBridge.column): _*)
        case _ => df
      }
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> checkpointTrailingSort(q.fn)).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    specs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
