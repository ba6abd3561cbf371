package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Model-based quality signals for LLM training-data curation, built
  * entirely from corpus statistics — no external model weights, so the
  * whole family stays under the bit-exact DuckDB oracle gate.
  *
  * Two classic passes (extension surface beyond the reference, which
  * scores nothing — `/root/reference/extract_and_embed_v2.py` inserts
  * every chunk unconditionally):
  *
  *  - [[bigramLogPpl]] — the CCNet-style language-model perplexity
  *    filter (Wenzek et al., "CCNet: Extracting High Quality
  *    Monolingual Datasets from Web Crawl Data", 2020): score each
  *    document by the mean negative log-probability of its word
  *    bigrams under an add-one-smoothed bigram LM trained on the
  *    corpus itself, then cut the corpus into head/middle/tail
  *    terciles. Repetitive boilerplate scores low (predictable),
  *    gibberish scores high; both tails are what a curation recipe
  *    inspects.
  *
  *  - [[dsirLogWeights]] — Data Selection via Importance Resampling
  *    (Xie et al., 2023): hash every unigram/bigram occurrence into a
  *    fixed number of buckets, estimate bucket distributions over a
  *    TARGET slice (e.g. `lang = 'en'`) and over the raw corpus, and
  *    score each document by the summed log-ratio of its features —
  *    the log importance weight used to resample raw data toward the
  *    target distribution. Feeds [[graft.operators.Sampling
  *    .weightedSample]] for the actual resample.
  *
  * CROSS-ENGINE DETERMINISM: every per-feature cost is floored into
  * SCALED-INTEGER ten-thousandths (`floor(ln(·)·10⁴)` as long) before
  * the per-document sum — long addition commutes, so the document
  * scores are bit-identical under any shuffle order, partitioning, or
  * engine (the [[graft.operators.PageRank]] trick). A double sum could
  * not cross the hash gate: float addition does not commute, and Spark
  * and DuckDB fold in different orders. The `ln` inputs are exact
  * ratios of integers, so both engines evaluate `ln` on identical
  * doubles; a libm ULP difference only matters if the result sits
  * within ~1e-12 of a 1e-4 floor boundary (the same exposure the
  * BM25 idf gate already carries, green since round 3).
  *
  * SCALE SHAPE: both ops are explode → equi-join on token/bucket →
  * partially-aggregated sum — linear in corpus token count, shuffles
  * keyed on high-cardinality grams (LM stats) or joined via a B-row
  * broadcast (DSIR buckets). The tercile assignment uses
  * [[graft.operators.Prefix.withRowNumber]] (two-phase global rank)
  * rather than a PARTITION-BY-less window, so no single task ever
  * holds the corpus.
  */
object LmQuality {

  import TextAnalysis.WsClassSql

  private def toks(textCol: Column): Column =
    split(lower(trim(textCol)), "\\s+")

  /** (id, w1, w2) — one row per bigram OCCURRENCE. The token array is
    * lambda-bound once (the [[TextAnalysis.ngramCounts]] trick: a
    * direct `element_at(split(...), i)` inside the windowing lambda
    * would re-run the tokenizer per position — O(tokens²) regex work).
    * Documents shorter than two tokens contribute nothing.
    */
  private def bigramOcc(docs: DataFrame, idCol: Column,
                        textCol: Column): DataFrame = {
    val grams = element_at(
      transform(array(toks(textCol)), t =>
        when(size(t) >= 2,
          transform(sequence(lit(1), size(t) - 1),
            i => struct(element_at(t, i).as("w1"),
                        element_at(t, i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))), 1)
    docs.select(idCol.as("id"), explode(grams).as("g"))
      .select(col("id"), col("g.w1").as("w1"), col("g.w2").as("w2"))
  }

  private def bigramOccSql(table: String, idExpr: String,
                           textExpr: String): String =
    s"""SELECT id, t[i] AS w1, t[i + 1] AS w2 FROM (
       |  SELECT id, t, unnest(range(1, len(t))) AS i FROM (
       |    SELECT $idExpr AS id,
       |      string_split_regex(lower(trim($textExpr)), '$WsClassSql+') AS t
       |    FROM $table)
       |  WHERE len(t) >= 2)""".stripMargin

  /** Per-document bigram log-perplexity + CCNet tercile.
    *
    * Model: add-one-smoothed bigram LM over the corpus's own bigram
    * occurrences —
    *   p(w2 | w1) = (c(w1,w2) + 1) / (ctx(w1) + V)
    * with `ctx(w1)` = bigram occurrences starting at `w1` and `V` =
    * distinct successor vocabulary. Per-occurrence cost is
    * `floor(-ln p · 10⁴)` (long); a document's `logppl` is the integer
    * mean of its costs, rescaled (so both engines compute the SAME
    * double from the same two longs).
    *
    * Tercile: rank documents by `(logppl, id)` with the two-phase
    * global row number, then `tier` = head / middle / tail by
    * `3·rank ≤ n` / `≤ 2n` — head is the most-predictable third
    * (CCNet keeps head+middle, inspects tail).
    *
    * Output: (id, n_bigrams, logppl, tier), one row per document with
    * ≥ 1 bigram.
    */
  def bigramLogPpl(docs: DataFrame, idCol: Column,
                   textCol: Column): DataFrame = {
    // materialize the bigram stream once: the model build (`big`) and
    // the per-occurrence costing join both consume it, and each
    // reference otherwise re-runs the tokenize+explode corpus pass
    val occ = Materialize(bigramOcc(docs, idCol, textCol))
    val big = occ.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // ctx and vocab DERIVE from the distinct-bigram table: c(w1) =
    // Σ_w2 c(w1,w2) and V = |distinct w2| are identities over `big`,
    // so they aggregate model-sized state instead of re-running the
    // tokenizer+explode over the corpus (occ is otherwise evaluated
    // once per consumer — 4 corpus scans, measured 1.7x slower)
    val ctx = big.groupBy("w1").agg(sum("c12").as("c1"))
    val voc = big.agg(countDistinct(col("w2")).as("v"))
    val cost = occ
      .join(big, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(voc))
      .select(col("id"),
        floor(-log((col("c12") + lit(1.0)) / (col("c1") + col("v"))) * 10000)
          .cast("long").as("cost"))
    val scored = cost.groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"), sum("cost").as("sc"))
      .select(col("id"), col("n_bigrams"),
        (expr("sc div n_bigrams") / 10000.0).as("logppl"))
    val n = scored.agg(count(lit(1)).as("n_docs"))
    val ranked = graft.operators.Prefix.withRowNumber(
      scored, "rn", col("logppl"), col("id"))
    ranked.crossJoin(broadcast(n))
      .select(col("id"), col("n_bigrams"), col("logppl"),
        when(col("rn") * 3 <= col("n_docs"), lit("head"))
          .when(col("rn") * 3 <= col("n_docs") * 2, lit("middle"))
          .otherwise(lit("tail")).as("tier"))
  }

  /** DuckDB twin of [[bigramLogPpl]] (`//` floors on BIGINT; both
    * operands are non-negative here so it matches Spark's `div`;
    * sum→HUGEINT cast back).
    */
  def bigramLogPplSql(table: String, idExpr: String,
                      textExpr: String): String =
    s"""WITH occ AS MATERIALIZED (
       |${bigramOccSql(table, idExpr, textExpr)}
       |), big AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM occ GROUP BY 1, 2
       |), ctx AS (
       |  SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM occ GROUP BY 1
       |), voc AS (
       |  SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM occ
       |), cost AS (
       |  SELECT o.id,
       |    CAST(floor(-ln((b.c12 + 1.0) / (c.c1 + voc.v)) * 10000) AS BIGINT) AS cost
       |  FROM occ o
       |  JOIN big b ON o.w1 = b.w1 AND o.w2 = b.w2
       |  JOIN ctx c ON o.w1 = c.w1, voc
       |), scored AS (
       |  SELECT id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    (CAST(sum(cost) AS BIGINT) // CAST(count(*) AS BIGINT)) / 10000.0 AS logppl
       |  FROM cost GROUP BY id
       |), ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY logppl, id) AS rn,
       |    CAST(count(*) OVER () AS BIGINT) AS n_docs
       |  FROM scored
       |)
       |SELECT id, n_bigrams, logppl,
       |  CASE WHEN rn * 3 <= n_docs THEN 'head'
       |       WHEN rn * 3 <= n_docs * 2 THEN 'middle'
       |       ELSE 'tail' END AS tier
       |FROM ranked""".stripMargin

  /** (id, tgt, bucket) — one row per hashed unigram/bigram feature
    * OCCURRENCE (the DSIR feature space: unigrams ∪ bigrams hashed
    * into `buckets` bins). The hash is the first 8 hex chars of
    * sha256 — the same engine-portable uniform map the sampling
    * family uses ([[graft.operators.Sampling.hashKey]]). The target
    * flag rides along through the explode so no corpus-sized join is
    * needed to recover it.
    */
  private def featureOcc(docs: DataFrame, idCol: Column, textCol: Column,
                         isTarget: Column, buckets: Int): DataFrame = {
    val base = docs.select(idCol.as("id"), isTarget.as("tgt"),
      toks(textCol).as("t"))
    val grams = element_at(
      transform(array(col("t")), t =>
        when(size(t) >= 2,
          transform(sequence(lit(1), size(t) - 1),
            i => concat(element_at(t, i), lit(" "), element_at(t, i + 1))))
        .otherwise(array().cast("array<string>"))), 1)
    val unis = base.select(col("id"), col("tgt"), explode(col("t")).as("feat"))
    val bis = base.select(col("id"), col("tgt"), explode(grams).as("feat"))
    unis.unionAll(bis).select(col("id"), col("tgt"),
      pmod(conv(substring(sha2(col("feat"), 256), 1, 8), 16, 10).cast("long"),
        lit(buckets.toLong)).as("bucket"))
  }

  private def featureOccSql(table: String, idExpr: String, textExpr: String,
                            isTargetSql: String, buckets: Int): String =
    s"""SELECT id, tgt,
       |  CAST(CAST(('0x' || substring(sha256(feat), 1, 8)) AS UBIGINT)
       |       % $buckets AS BIGINT) AS bucket
       |FROM (
       |  SELECT $idExpr AS id, ($isTargetSql) AS tgt,
       |    unnest(string_split_regex(
       |      lower(trim($textExpr)), '$WsClassSql+')) AS feat FROM $table
       |  UNION ALL
       |  SELECT g.id, d.tgt, g.w1 || ' ' || g.w2 AS feat FROM (
       |${bigramOccSql(table, idExpr, textExpr)}
       |  ) g JOIN (SELECT $idExpr AS id, ($isTargetSql) AS tgt FROM $table) d
       |    ON g.id = d.id)""".stripMargin

  /** Per-document DSIR log importance weight toward the `isTarget`
    * slice.
    *
    * Bucket model (add-one smoothed over `buckets` bins):
    *   λ(b) = ln( p_target(b) / p_raw(b) )
    *        = ln( (t_b + 1)·(R + B) / ((r_b + 1)·(T + B)) )
    * where t/r are the slice/corpus occurrence counts of bucket b and
    * T/R their totals. Per-occurrence contribution is
    * `floor(λ·10⁴)` (long, negative λ floors toward -∞ identically in
    * both engines); `logweight` is the document's rescaled sum —
    * positive means the document looks more like the target slice
    * than the raw corpus. Resample with
    * `weightedSample(df, id, wPpm = f(logweight))`.
    *
    * Scale: bucket stats are a `buckets`-row table joined back by
    * BROADCAST — no corpus-sized state; everything else is a narrow
    * explode + one partial-aggregated sum per document.
    *
    * Output: (id, n_feats, logweight), one row per document with ≥ 1
    * token.
    */
  def dsirLogWeights(docs: DataFrame, idCol: Column, textCol: Column,
                     isTarget: Column, buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    // materialize the feature stream once: the per-bucket stats and the
    // per-doc weight join both consume it, and each unpinned reference
    // re-runs the sha256-per-feature hashing pass
    val occ = Materialize(featureOcc(docs, idCol, textCol, isTarget, buckets))
    val stats = occ.groupBy("bucket").agg(
      count(lit(1)).as("r_b"),
      sum(when(col("tgt"), 1L).otherwise(0L)).as("t_b"))
    val totals = stats.agg(sum("r_b").as("r_tot"), sum("t_b").as("t_tot"))
    val lam = stats.crossJoin(broadcast(totals)).select(col("bucket"),
      floor(log(((col("t_b") + lit(1.0)) * (col("r_tot") + lit(buckets))) /
                ((col("r_b") + lit(1.0)) * (col("t_tot") + lit(buckets))))
        * 10000).cast("long").as("lam"))
    occ.join(broadcast(lam), Seq("bucket"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_feats"), sum("lam").as("sl"))
      .select(col("id"), col("n_feats"), (col("sl") / 10000.0).as("logweight"))
  }

  /** DuckDB twin of [[dsirLogWeights]]. `isTargetSql` is a boolean
    * expression over `$table`'s columns (e.g. `lang = 'en'`).
    */
  def dsirLogWeightsSql(table: String, idExpr: String, textExpr: String,
                        isTargetSql: String, buckets: Int = 1024): String =
    s"""WITH occ AS MATERIALIZED (
       |${featureOccSql(table, idExpr, textExpr, isTargetSql, buckets)}
       |), stats AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS r_b,
       |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS t_b
       |  FROM occ GROUP BY bucket
       |), totals AS (
       |  SELECT CAST(sum(r_b) AS BIGINT) AS r_tot,
       |    CAST(sum(t_b) AS BIGINT) AS t_tot FROM stats
       |), lam AS (
       |  SELECT bucket,
       |    CAST(floor(ln(((t_b + 1.0) * (r_tot + $buckets)) /
       |                  ((r_b + 1.0) * (t_tot + $buckets))) * 10000) AS BIGINT) AS lam
       |  FROM stats, totals
       |)
       |SELECT o.id, CAST(count(*) AS BIGINT) AS n_feats,
       |  CAST(sum(l.lam) AS BIGINT) / 10000.0 AS logweight
       |FROM occ o JOIN lam l ON o.bucket = l.bucket
       |GROUP BY o.id""".stripMargin
}
