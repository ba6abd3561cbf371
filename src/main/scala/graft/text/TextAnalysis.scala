package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.oracle.Sql

/** Text-analysis operators for LLM training-data pipelines (the
  * BASELINE.json north star): token counting, quality scoring,
  * language identification, and document fingerprinting. Everything is
  * built from codegen'd expression primitives — narrow maps over the
  * scan, no UDFs, no shuffles — so each op is a constant-cost column at
  * any scale. Each op has a DuckDB-SQL twin generated here, used by the
  * oracle gate.
  */
object TextAnalysis {

  // ---- token counting ------------------------------------------------

  /** Whitespace tokens (Python `len(s.split())` semantics). */
  def nTokensWs(c: Column): Column =
    when(length(trim(c)) === 0, lit(0L))
      .otherwise(size(split(trim(c), "\\s+")).cast("long"))

  // DuckDB twins spell the whitespace class out: Java's `\s` includes
  // vertical tab (0x0B), RE2's does not — a bare `\s` would tokenize
  // VT-bearing text differently across the two engines
  private[text] val WsClassSql = "[ \\t\\n\\x0B\\f\\r]"
  /** The explicit whitespace class for SQL twins authored outside this
    * package (same string as the private alias above).
    */
  val WsClassSqlPublic: String = WsClassSql

  def nTokensWsSql(t: String): String =
    s"CASE WHEN length(trim($t)) = 0 THEN 0 ELSE len(string_split_regex(trim($t), '$WsClassSql+')) END"

  /** BPE-ish tokens: letter runs, digit runs, single punctuation. */
  // the whitespace class is explicit for cross-engine parity (see
  // WsClassSql): this one pattern string feeds BOTH Java regex and RE2
  val TokenRe = """[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"""

  def nTokensRe(c: Column): Column = regexp_count(c, lit(TokenRe)).cast("long")
  def nTokensReSql(t: String): String =
    s"len(regexp_extract_all($t, ${Sql.lit(TokenRe)}))"

  // ---- quality scoring ----------------------------------------------

  private val PunctRe = """[^A-Za-z0-9\s]"""
  private val AlphaRe = """[A-Za-z]"""

  /** 4-decimal truncation via floor: decimal `round()` modes differ
    * between engines at exact .00005 boundaries (small-integer ratios
    * hit them), while floor over identical IEEE doubles is engine-
    * independent. Used for all ratio outputs.
    */
  private def floor4(c: Column): Column = floor(c * 10000.0) / 10000.0
  private def floor4Sql(e: String): String = s"(floor(($e) * 10000.0) / 10000.0)"

  def punctRatio(c: Column): Column =
    floor4(regexp_count(c, lit(PunctRe)) / greatest(length(c), lit(1)))
  def punctRatioSql(t: String): String =
    floor4Sql(s"len(regexp_extract_all($t, ${Sql.lit(PunctRe)})) / greatest(length($t), 1)")

  def alphaRatio(c: Column): Column =
    floor4(regexp_count(c, lit(AlphaRe)) / greatest(length(c), lit(1)))
  def alphaRatioSql(t: String): String =
    floor4Sql(s"len(regexp_extract_all($t, ${Sql.lit(AlphaRe)})) / greatest(length($t), 1)")

  /** Mean word length: non-whitespace chars / whitespace tokens. */
  def avgWordLen(c: Column): Column =
    when(nTokensWs(c) === 0, lit(0.0))
      .otherwise(floor4(length(regexp_replace(trim(c), "\\s+", "")) / nTokensWs(c)))
  def avgWordLenSql(t: String): String =
    s"""CASE WHEN (${nTokensWsSql(t)}) = 0 THEN 0.0
       | ELSE ${floor4Sql(s"length(regexp_replace(trim($t), '$WsClassSql+', '', 'g')) / (${nTokensWsSql(t)})")} END""".stripMargin

  val Stopwords = Seq("a", "the", "and", "of", "is")

  def stopwordCount(c: Column): Column =
    size(filter(split(lower(trim(c)), "\\s+"),
      t => Stopwords.map(s => t === s).reduce(_ || _))).cast("long")
  def stopwordCountSql(t: String): String = {
    val set = Stopwords.map(Sql.lit).mkString(", ")
    s"len(list_filter(string_split_regex(lower(trim($t)), '$WsClassSql+'), x -> x IN ($set)))"
  }

  def stopwordRatio(c: Column): Column =
    floor4(stopwordCount(c) / greatest(nTokensWs(c), lit(1L)))
  def stopwordRatioSql(t: String): String =
    floor4Sql(s"(${stopwordCountSql(t)}) / greatest(${nTokensWsSql(t)}, 1)")

  /** Composite quality heuristic in [0,1]: mostly-alphabetic text of a
    * reasonable length with some (but not too many) stopwords.
    */
  def qualityScore(c: Column): Column =
    floor4(alphaRatio(c) * 0.5
      + least(nTokensWs(c) / lit(100.0), lit(1.0)) * 0.3
      + least(stopwordRatio(c) * lit(5.0), lit(1.0)) * 0.2)
  def qualityScoreSql(t: String): String =
    floor4Sql(s"""(${alphaRatioSql(t)}) * 0.5
       | + least((${nTokensWsSql(t)}) / 100.0, 1.0) * 0.3
       | + least((${stopwordRatioSql(t)}) * 5.0, 1.0) * 0.2""".stripMargin)

  // ---- Gopher-style quality rules -------------------------------------

  /** The Gopher paper's required-stopword set (Rae et al. 2021 §A1.1):
    * a kept document must contain at least [[GopherMinReqStopwords]]
    * distinct members.
    */
  val GopherReqStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinReqStopwords = 2

  private def gopherToks(c: Column): Column = split(lower(trim(c)), "\\s+")
  private def gopherToksSql(t: String): String =
    s"string_split_regex(lower(trim($t)), '$WsClassSql+')"
  private def gopherLines(c: Column): Column = split(c, "\n")
  private def gopherLinesSql(t: String): String = s"string_split($t, chr(10))"

  /** Fraction of whitespace tokens carrying a symbol marker (`#` or
    * `...`) — the paper's symbol-to-word ratio, rule threshold ≤ 0.1.
    */
  def gopherSymbolRatio(c: Column): Column =
    floor4(size(filter(gopherToks(c),
        t => t.contains("#") || t.contains("..."))).cast("long")
      / greatest(nTokensWs(c), lit(1L)))
  def gopherSymbolRatioSql(t: String): String =
    floor4Sql(s"""len(list_filter(${gopherToksSql(t)},
      | x -> contains(x, '#') OR contains(x, '...')))
      | / greatest(${nTokensWsSql(t)}, 1)""".stripMargin)

  /** Fraction of lines starting with a bullet marker, threshold ≤ 0.9. */
  def gopherBulletFrac(c: Column): Column =
    floor4(size(filter(gopherLines(c),
        l => l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• ")))
        .cast("long")
      / greatest(size(gopherLines(c)), lit(1)))
  def gopherBulletFracSql(t: String): String =
    floor4Sql(s"""len(list_filter(${gopherLinesSql(t)},
      | x -> starts_with(x, '- ') OR starts_with(x, '* ')
      |   OR starts_with(x, '• ')))
      | / greatest(len(${gopherLinesSql(t)}), 1)""".stripMargin)

  /** Fraction of lines ending with an ellipsis, threshold ≤ 0.3. */
  def gopherEllipsisFrac(c: Column): Column =
    floor4(size(filter(gopherLines(c),
        l => l.endsWith("...") || l.endsWith("…"))).cast("long")
      / greatest(size(gopherLines(c)), lit(1)))
  def gopherEllipsisFracSql(t: String): String =
    floor4Sql(s"""len(list_filter(${gopherLinesSql(t)},
      | x -> ends_with(x, '...') OR ends_with(x, '…')))
      | / greatest(len(${gopherLinesSql(t)}), 1)""".stripMargin)

  /** Fraction of tokens containing at least one alphabetic character,
    * threshold ≥ 0.8.
    */
  def gopherAlphaWordFrac(c: Column): Column =
    floor4(size(filter(gopherToks(c), t => t.rlike("[a-z]"))).cast("long")
      / greatest(nTokensWs(c), lit(1L)))
  def gopherAlphaWordFracSql(t: String): String =
    floor4Sql(s"""len(list_filter(${gopherToksSql(t)},
      | x -> regexp_matches(x, '[a-z]')))
      | / greatest(${nTokensWsSql(t)}, 1)""".stripMargin)

  /** Distinct required stopwords present (of [[GopherReqStopwords]]). */
  def gopherReqStopwordCount(c: Column): Column =
    size(array_intersect(array_distinct(gopherToks(c)),
      array(GopherReqStopwords.map(lit): _*))).cast("long")
  def gopherReqStopwordCountSql(t: String): String = {
    val set = GopherReqStopwords.map(Sql.lit).mkString(", ")
    s"len(list_intersect(list_distinct(${gopherToksSql(t)}), [$set]))"
  }

  /** The conjunction of all Gopher rules at the paper's thresholds.
    * Every operand is either an integer count or a [[floor4]]-truncated
    * ratio computed by identical IEEE arithmetic on both engines, so
    * the boolean is cross-engine deterministic.
    */
  def gopherKeep(c: Column, minWords: Long = 50L,
                 maxWords: Long = 100000L): Column =
    nTokensWs(c).between(minWords, maxWords) &&
      avgWordLen(c).between(3.0, 10.0) &&
      gopherSymbolRatio(c) <= 0.1 &&
      gopherBulletFrac(c) <= 0.9 &&
      gopherEllipsisFrac(c) <= 0.3 &&
      gopherAlphaWordFrac(c) >= 0.8 &&
      gopherReqStopwordCount(c) >= GopherMinReqStopwords
  def gopherKeepSql(t: String, minWords: Long = 50L,
                    maxWords: Long = 100000L): String =
    s"""((${nTokensWsSql(t)}) BETWEEN $minWords AND $maxWords
       | AND (${avgWordLenSql(t)}) BETWEEN 3.0 AND 10.0
       | AND (${gopherSymbolRatioSql(t)}) <= 0.1
       | AND (${gopherBulletFracSql(t)}) <= 0.9
       | AND (${gopherEllipsisFracSql(t)}) <= 0.3
       | AND (${gopherAlphaWordFracSql(t)}) >= 0.8
       | AND (${gopherReqStopwordCountSql(t)}) >= $GopherMinReqStopwords)""".stripMargin

  // ---- C4 cleaning rules ----------------------------------------------

  /** The C4 line filter (Raffel et al. 2020 §2.2): a line survives iff
    * it ends in terminal punctuation (`.` `!` `?` `"`), carries at
    * least 3 whitespace words, and does not mention "javascript"
    * (case-insensitive). Companion to the document-level [[c4Keep]];
    * distinct from the Gopher rules above (C4 edits INSIDE the page,
    * Gopher only gates whole pages).
    */
  def c4KeptLines(c: Column): Column =
    filter(split(c, "\n"), l =>
      (trim(l).endsWith(".") || trim(l).endsWith("!") ||
        trim(l).endsWith("?") || trim(l).endsWith("\"")) &&
        size(split(trim(l), "\\s+")) >= 3 &&
        !lower(l).contains("javascript"))
  def c4KeptLinesSql(t: String): String =
    s"""list_filter(string_split($t, chr(10)), l ->
       | (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
       |  OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
       | AND len(string_split_regex(trim(l), '$WsClassSql+')) >= 3
       | AND NOT contains(lower(l), 'javascript'))""".stripMargin

  /** Line-filtered page text (kept lines re-joined). */
  def c4CleanText(c: Column): Column = array_join(c4KeptLines(c), "\n")
  def c4CleanTextSql(t: String): String =
    s"coalesce(array_to_string(${c4KeptLinesSql(t)}, chr(10)), '')"

  /** Sentence count of the CLEANED page (terminal-punctuation marks —
    * the paper's "fewer than 5 sentences" gate counts after the line
    * filter).
    */
  def c4SentenceCount(c: Column): Column =
    regexp_count(c4CleanText(c), lit("[.!?]")).cast("int")
  def c4SentenceCountSql(t: String): String =
    s"CAST(len(regexp_extract_all(${c4CleanTextSql(t)}, '[.!?]')) AS INTEGER)"

  /** Document-level C4 verdict: the cleaned page still has ≥ 5
    * sentences, and the ORIGINAL page mentions neither "lorem ipsum"
    * (case-insensitive) nor a curly brace.
    */
  def c4Keep(c: Column): Column =
    c4SentenceCount(c) >= 5 &&
      !lower(c).contains("lorem ipsum") && !c.contains("{")
  def c4KeepSql(t: String): String =
    s"""((${c4SentenceCountSql(t)}) >= 5
       | AND NOT contains(lower($t), 'lorem ipsum')
       | AND NOT contains($t, '{'))""".stripMargin

  // ---- language identification ---------------------------------------

  /** Disjoint per-language stopword markers (n-gram-free heuristic:
    * membership counts over whitespace tokens). Order = tie-break
    * priority.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("and", "of", "is", "that", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "que", "por", "con"),
    "fr" -> Seq("le", "les", "et", "des", "dans"),
    "zh" -> Seq("wo", "ni", "ta", "men", "hao"))

  def langScore(c: Column, markers: Seq[String]): Column =
    size(filter(split(lower(trim(c)), "\\s+"),
      t => markers.map(m => t === m).reduce(_ || _))).cast("long")
  def langScoreSql(t: String, markers: Seq[String]): String = {
    val set = markers.map(Sql.lit).mkString(", ")
    s"len(list_filter(string_split_regex(lower(trim($t)), '$WsClassSql+'), x -> x IN ($set)))"
  }

  /** Predicted language: highest marker count, ties to the earlier
    * language in [[LangMarkers]]; `und` when nothing matches.
    */
  def langId(c: Column): Column =
    langPick(LangMarkers.map { case (lang, ms) => lang -> langScore(c, ms) })

  /** The marker-count → label cascade, shared by the HOF and fused
    * score forms (identical expression shape keeps them bit-equal).
    */
  private def langPick(scores: Seq[(String, Column)]): Column = {
    val allZero = scores.map(_._2 === 0L).reduce(_ && _)
    val picked = scores.zipWithIndex.map { case ((lang, s), i) =>
      val rest = scores.drop(i + 1).map(_._2)
      (lang, if (rest.isEmpty) lit(true) else rest.map(r => s >= r).reduce(_ && _))
    }.init.foldRight(lit(LangMarkers.last._1): Column) { case ((lang, cond), acc) =>
      when(cond, lit(lang)).otherwise(acc)
    }
    when(allZero, lit("und")).otherwise(picked)
  }

  // ---- fused doc-stats forms ------------------------------------------
  //
  // One codegen DocStats scan per document feeds every statistic below
  // (subexpression elimination collapses the repeated docStats(c) calls
  // within a projection — same-child instances semanticEqual). The
  // arithmetic REPLAYS the column forms' expression shapes exactly
  // (same operand types, same order, same floor4 wrappers), so each
  // fused column is bit-identical to its HOF/regex twin and sits under
  // the same DuckDB oracle.

  /** The group layout [[docStats]] uses: stopwords, then one group per
    * [[LangMarkers]] language.
    */
  private val DocStatsGroups: Seq[Seq[String]] =
    Stopwords +: LangMarkers.map(_._2)

  /** `[ntok_ws, non_ws_chars, alpha, punct, stop_hits, lang_0 …]`. */
  def docStats(c: Column): Column = TextKernels.docStats(c, DocStatsGroups)

  def nTokensWsF(d: Column): Column = element_at(d, 1)
  def punctRatioF(d: Column, rawLen: Column): Column =
    floor4(element_at(d, 4) / greatest(rawLen, lit(1)))
  def alphaRatioF(d: Column, rawLen: Column): Column =
    floor4(element_at(d, 3) / greatest(rawLen, lit(1)))
  def avgWordLenF(d: Column): Column =
    when(nTokensWsF(d) === 0, lit(0.0))
      .otherwise(floor4(element_at(d, 2) / nTokensWsF(d)))
  def stopwordRatioF(d: Column): Column =
    floor4(element_at(d, 5) / greatest(nTokensWsF(d), lit(1L)))
  def qualityScoreF(d: Column, rawLen: Column): Column =
    floor4(alphaRatioF(d, rawLen) * 0.5
      + least(nTokensWsF(d) / lit(100.0), lit(1.0)) * 0.3
      + least(stopwordRatioF(d) * lit(5.0), lit(1.0)) * 0.2)
  def langIdF(d: Column): Column =
    langPick(LangMarkers.zipWithIndex.map { case ((lang, _), i) =>
      lang -> element_at(d, 6 + i)
    })

  def langIdSql(t: String): String = {
    val scoreExprs = LangMarkers.map { case (lang, ms) => lang -> langScoreSql(t, ms) }
    val allZero = scoreExprs.map { case (_, e) => s"($e) = 0" }.mkString(" AND ")
    val whens = scoreExprs.zipWithIndex.init.map { case ((lang, e), i) =>
      val rest = scoreExprs.drop(i + 1).map { case (_, r) => s"($e) >= ($r)" }
      s"WHEN ${rest.mkString(" AND ")} THEN ${Sql.lit(lang)}"
    }
    s"""CASE WHEN $allZero THEN 'und'
       | ${whens.mkString(" ")}
       | ELSE ${Sql.lit(LangMarkers.last._1)} END""".stripMargin
  }

  // ---- lexical ranking (BM25) ----------------------------------------

  /** BM25 ranked retrieval over a document table (Robertson/Spärck
    * Jones, public literature): for a fixed query-term set, score every
    * matching document with Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b +
    * b·dl/avgdl)), idf(t) = ln(1 + (N−df+0.5)/(df+0.5)). The lexical
    * complement of the vector path ([[graft.vector.Knn]]): corpus
    * statistics (N, avgdl, per-term df) are ONE tiny global aggregate
    * broadcast back over the scan, term frequencies are per-row columnar
    * expressions — two passes over the corpus, no per-document state,
    * no shuffle beyond the single stats row. Scores round HALF_UP to
    * 4dp (continuous value — cross-engine safe); output keeps only
    * documents matching ≥ 1 term. Returns (id, score); rank with
    * `orderBy(desc("score"), asc("id")).limit(k)` — that plans as
    * TakeOrderedAndProject (per-partition heaps), never a global sort.
    */
  def bm25(docs: org.apache.spark.sql.DataFrame, idCol: Column, textCol: Column,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    // ONE fused codegen scan per row yields [dl, tf_0, …]; the
    // element_at projections below are CSE'd inside whole-stage
    // codegen (no lambdas → eligible), so the document is tokenized
    // once per pass — vs once per term for the interpreted HOF form
    val ts = TextKernels.termStats(textCol, terms)
    val baseCols = Seq(idCol.as("id"), element_at(ts, 1).as("dl")) ++
      terms.indices.map(i => element_at(ts, i + 2).as(s"tf_$i"))
    val base = docs.select(baseCols: _*)
    val aggCols = Seq(count(lit(1)).as("n"), avg(col("dl")).as("avgdl")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = base.agg(aggCols.head, aggCols.tail: _*)
    val scored = base.crossJoin(broadcast(stats))
    val score = terms.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val idf = log(lit(1.0) + (col("n") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
      idf * tf * (k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    scored
      .where(terms.indices.map(i => col(s"tf_$i")).reduce(_ + _) > 0)
      .select(col("id"), round(score, 4).as("score"))
  }

  /** Per-query BM25 retrieval JOIN — M queries × corpus through an
    * inverted index, the lexical sibling of
    * [[graft.vector.Ann.ivfKnnJoin]]: where [[bm25]] compiles a FIXED
    * term set into columnar expressions, this takes terms as DATA
    * (`queries`: (query_id, terms array<string>)) and turns retrieval
    * into joins — tokenize once into (doc, token, tf) postings, derive
    * per-token document frequencies, hash-join query terms to
    * postings, and top-k per query with the bounded-state aggregate.
    * Candidates ∝ postings of the queried tokens, never M×N.
    *
    * Determinism: the per-(query, doc) score is a LEFT FOLD over
    * token-SORTED contributions (float addition is not associative; a
    * plain SUM aggregate would be shuffle-order-dependent) — DuckDB's
    * `list_sum(list(x ORDER BY token))` left-folds identically.
    * Output (query_id, id, score, rank), score 4dp, ties by id.
    */
  def bm25Join(docs: org.apache.spark.sql.DataFrame, idCol: Column,
               textCol: Column, queries: org.apache.spark.sql.DataFrame,
               k: Int, k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val toks = split(lower(trim(textCol)), "\\s+")
    // tokenization is the multi-second stage: spread a narrow source
    // (one parquet file = one task) before it, and materialize the
    // inverted index ONCE — postings feed the term join, the df
    // derivation, and nothing else re-tokenizes.
    val spark = docs.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val src = if (docs.rdd.getNumPartitions < par) docs.repartition(par)
      else docs
    val stats = src.agg(count(lit(1)).as("n"),
      avg(size(toks).cast("long")).as("avgdl"))
    val postings = Materialize(src
      .select(idCol.as("id"), size(toks).cast("long").as("dl"),
        explode(toks).as("token"))
      .groupBy("id", "dl", "token").agg(count(lit(1)).as("tf")))
    val dfs = postings.groupBy("token").agg(count(lit(1)).as("df"))
    scoreAndRank(postings, dfs, stats, queries, k, k1, b)
  }

  /** Shared bm25Join tail: postings (id, dl, token, tf) + per-token
    * dfs + 1-row stats → ranked (query_id, id, score, rank).
    */
  private def scoreAndRank(postings: org.apache.spark.sql.DataFrame,
                           dfs: org.apache.spark.sql.DataFrame,
                           stats: org.apache.spark.sql.DataFrame,
                           queries: org.apache.spark.sql.DataFrame,
                           k: Int, k1: Double, b: Double): org.apache.spark.sql.DataFrame = {
    val qTerms = queries.select(col("query_id"),
      explode(array_distinct(col("terms"))).as("token"))
    val contrib = bm25Contrib(k1, b)
    val scored = broadcast(qTerms)
      .join(postings, "token")
      .join(broadcast(dfs.crossJoin(broadcast(stats))), "token")
      .select(col("query_id"), col("id"), col("token"), contrib.as("contrib"))
      .groupBy("query_id", "id")
      .agg(sort_array(collect_list(struct(col("token"), col("contrib")))).as("cs"))
      .select(col("query_id"), col("id"),
        (-round(aggregate(col("cs"), lit(0.0),
          (acc, x) => acc + x("contrib")), 4)).as("score"))
    graft.vector.GroupedTopK.topKPerGroup(scored, col("query_id"), k)
      .select(col("query_id"), col("id"), (-col("score")).as("score"),
        col("rank"))
  }

  /** One matched term's BM25 contribution, over columns
    * (tf, df, dl, n, avgdl) — shared by the batch join tail and the
    * streaming hybrid's lexical route.
    */
  private[graft] def bm25Contrib(k1: Double, b: Double): Column = {
    val tf = col("tf").cast("double")
    val idf = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    idf * tf * (k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
  }

  /** Materialize the bm25Join inverted index as a token-bucketed
    * catalog table plus a 1-row stats side table — the build-once /
    * query-many serving layout: subsequent [[bm25JoinIndexed]] calls
    * never re-tokenize the corpus, and the postings side of the term
    * join and the df aggregation both run WITHOUT an exchange (the
    * bucketing fixed the hash distribution at write time).
    */
  /** The postings derivation — (id, dl, token, tf) per document —
    * shared by the batch index build and the streaming maintainer
    * ([[graft.streaming.StreamingBm25]]). ONE definition on purpose:
    * tokenize = split on `\s+` with no empty-token filter (an empty
    * text yields the `""` token, so dl counts it), and any change here
    * reaches both sides — otherwise the streamed index silently
    * diverges from a full rebuild.
    */
  private[graft] def bm25Postings(docs: org.apache.spark.sql.DataFrame,
                                  idCol: Column, textCol: Column): org.apache.spark.sql.DataFrame = {
    val toks = split(lower(trim(textCol)), "\\s+")
    docs.select(idCol.as("id"), size(toks).cast("long").as("dl"),
        explode(toks).as("token"))
      .groupBy("id", "dl", "token").agg(count(lit(1)).as("tf"))
  }

  def buildBm25Index(docs: org.apache.spark.sql.DataFrame, idCol: Column,
                     textCol: Column, table: String, path: String,
                     numBuckets: Int = 32): Unit = {
    // spread a narrow source before the tokenize stage (same rationale
    // as bm25Join: one parquet file = one task otherwise)
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val src = if (docs.rdd.getNumPartitions < par) docs.repartition(par)
      else docs
    val postings = bm25Postings(src, idCol, textCol)
    graft.sources.Bucketing.writeBucketed(postings, table, path,
      key = "token", numBuckets = numBuckets)
    // corpus stats from the postings table just written, NOT a second
    // source scan: parquet pruning reads only (id, dl) — at scale the
    // text column dwarfs everything else, and re-tokenizing it would
    // double the build's corpus reads. Every doc appears in postings
    // (an empty text still yields the "" token), so the distinct
    // (id, dl) set is exactly the doc set.
    docs.sparkSession.table(table)
      .select(col("id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").option("path", s"$path/__stats")
      .saveAsTable(s"${table}_stats")
  }

  /** [[bm25Join]] served from a [[buildBm25Index]] table: same output
    * contract, zero corpus-side exchanges per query batch.
    */
  def bm25JoinIndexed(spark: org.apache.spark.sql.SparkSession,
                      table: String, queries: org.apache.spark.sql.DataFrame,
                      k: Int, k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val postings = spark.table(table)
    val dfs = postings.groupBy("token").agg(count(lit(1)).as("df"))
    scoreAndRank(postings, dfs, spark.table(s"${table}_stats"),
      queries, k, k1, b)
  }

  /** DuckDB twin of [[bm25Join]]: `qtValues` are the exploded
    * (query_id, token) pairs as SQL VALUES rows.
    */
  def bm25JoinSql(table: String, idExpr: String, textExpr: String,
                  qtValues: Seq[(Long, String)], k: Int,
                  k1: Double = 1.2, b: Double = 0.75): String = {
    val toksExpr = s"string_split_regex(lower(trim($textExpr)), '$WsClassSql+')"
    val vals = qtValues.map { case (q, t) => s"($q, ${Sql.lit(t)})" }.mkString(", ")
    s"""WITH qt(query_id, token) AS (VALUES $vals),
       |docs0 AS (SELECT $idExpr AS id, $toksExpr AS toks FROM $table),
       |stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM docs0),
       |base AS (SELECT id, len(toks) AS dl, unnest(toks) AS token FROM docs0),
       |tfs AS (SELECT id, dl, token, count(*) AS tf FROM base GROUP BY 1, 2, 3),
       |dfs AS (SELECT token, count(*) AS df FROM tfs GROUP BY 1),
       |matched AS (
       |  SELECT q.query_id, t.id, t.token,
       |    ln(1.0 + (n - df + 0.5) / (df + 0.5))
       |      * tf * ${k1 + 1.0}
       |      / (tf + $k1 * (${1.0 - b} + $b * dl / avgdl)) AS contrib
       |  FROM qt q JOIN tfs t USING (token) JOIN dfs USING (token), stats),
       |scored AS (
       |  SELECT query_id, id,
       |    round(list_sum(list(contrib ORDER BY token)), 4) AS score
       |  FROM matched GROUP BY 1, 2)
       |SELECT query_id, id, score, CAST(rn AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, id) AS rn FROM scored)
       |WHERE rn <= $k""".stripMargin
  }

  /** DuckDB twin of [[bm25]] for the oracle gate. The separator class
    * is written out explicitly: Java's `\s` includes vertical tab
    * (0x0B) but RE2's (DuckDB's) does not, so a bare `\s+` here would
    * tokenize VT-bearing text differently from the Spark side.
    */
  def bm25Sql(table: String, idExpr: String, textExpr: String,
              terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): String = {
    val toks = s"string_split_regex(lower(trim($textExpr)), '$WsClassSql+')"
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter($toks, x -> x = ${Sql.lit(t)})) AS tf_$i"
    }.mkString(", ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
    val score = terms.indices.map { i =>
      s"""(ln(1.0 + (n - df_$i + 0.5) / (df_$i + 0.5))
         | * tf_$i * ${k1 + 1.0}
         | / (tf_$i + $k1 * (${1.0 - b} + $b * dl / avgdl)))""".stripMargin
    }.mkString(" + ")
    val anyTf = terms.indices.map(i => s"tf_$i").mkString(" + ")
    s"""WITH base AS (
       |  SELECT $idExpr AS id, len($toks) AS dl, $tfCols FROM $table
       |), stats AS (
       |  SELECT count(*) AS n, avg(dl) AS avgdl, $dfCols FROM base
       |)
       |SELECT id, round($score, 4) AS score
       |FROM base, stats WHERE ($anyTf) > 0""".stripMargin
  }

  // ---- vocabulary / n-gram statistics ---------------------------------

  /** Corpus vocabulary: per-token document frequency (`df`) and
    * collection frequency (`cf`) — the vocabulary-build step of an LM
    * data pipeline (and the raw input to a BPE trainer's word counts).
    * Two-phase shape chosen for scale: per-(doc, token) counts first
    * (map-side partial aggregation collapses each document's repeats
    * before the shuffle), then per-token (count, sum) — no
    * `count_distinct` machinery, every aggregate partial-merges. Top-N
    * consumers should rank `(df desc, cf desc, token)` + limit, which
    * plans as TakeOrderedAndProject, never a global sort.
    */
  def vocab(docs: org.apache.spark.sql.DataFrame, idCol: Column,
            textCol: Column): org.apache.spark.sql.DataFrame = {
    val toks = split(lower(trim(textCol)), "\\s+")
    docs.select(idCol.as("id"), explode(toks).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
      .groupBy("token").agg(count(lit(1)).as("df"), sum("tf").as("cf"))
  }

  /** DuckDB twin of [[vocab]] (sum→HUGEINT cast back to BIGINT). */
  def vocabSql(table: String, idExpr: String, textExpr: String): String =
    s"""SELECT token, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
       |FROM (
       |  SELECT id, token, count(*) AS tf FROM (
       |    SELECT $idExpr AS id,
       |      unnest(string_split_regex(lower(trim($textExpr)), '$WsClassSql+')) AS token
       |    FROM $table)
       |  GROUP BY 1, 2)
       |GROUP BY token""".stripMargin

  /** Word n-gram counts over the corpus — LM training-data statistics
    * (bigram/trigram tables, contamination screens). Pure columnar:
    * tokenize once, window the token array with `transform(sequence)`
    * + `slice`, explode, one partial-aggregated count. Documents
    * shorter than `n` contribute nothing.
    *
    * The token array is BOUND to a lambda variable (via a one-element
    * `transform`) before the windowing lambda touches it: referencing
    * the `split` expression directly inside `slice(toks, i, n)` would
    * re-run the regex tokenizer once per window position — O(tokens²)
    * regex work per document (measured 10× slowdown at sf0.1).
    */
  def ngramCounts(docs: org.apache.spark.sql.DataFrame, textCol: Column,
                  n: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 2, "n must be at least 2 (token counts cover n = 1)")
    val toks = split(lower(trim(textCol)), "\\s+")
    val grams = element_at(
      transform(array(toks), t =>
        when(size(t) >= n,
          transform(sequence(lit(1), size(t) - (n - 1)),
            i => array_join(slice(t, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))), 1)
    docs.select(explode(grams).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
  }

  /** DuckDB twin of [[ngramCounts]]: 1-based inclusive list slicing,
    * `range(a, b)` half-open.
    */
  def ngramCountsSql(table: String, textExpr: String, n: Int): String =
    s"""SELECT ngram, CAST(count(*) AS BIGINT) AS cnt FROM (
       |  SELECT unnest(list_transform(range(1, len(t) - ${n - 2}),
       |    i -> array_to_string(t[i:i+${n - 1}], ' '))) AS ngram
       |  FROM (SELECT string_split_regex(lower(trim($textExpr)), '$WsClassSql+') AS t
       |        FROM $table)
       |  WHERE len(t) >= $n)
       |GROUP BY ngram""".stripMargin

  /** Per-document character entropy — `H = ln(n) − (Σ c·ln c)/n` in
    * nats over the document's character histogram (the algebraic form
    * keeps every ln argument an exact integer, so both engines emit
    * bit-identical doubles before the 4dp round). Low entropy marks
    * repeated-char / boilerplate / degenerate documents, high entropy
    * marks binary-ish noise — the cheap compressibility proxy quality
    * filters use where running a real compressor per doc is not
    * engine-replayable. One explode + two aggregates, all map-side
    * partial; cost ∝ corpus characters, one pass.
    */
  def charEntropy(docs: org.apache.spark.sql.DataFrame, idCol: Column,
                  textCol: Column): org.apache.spark.sql.DataFrame =
    docs.select(idCol.as("id"), explode(split(textCol, "")).as("ch"))
      .where(col("ch") =!= "")
      .groupBy("id", "ch").agg(count(lit(1)).as("c"))
      // char-sorted LEFT FOLD, not a float SUM aggregate: float
      // addition is non-associative and a plain sum would be
      // shuffle-order-dependent (the bm25Join determinism trick)
      .groupBy("id")
      .agg(sum("c").as("n"),
        sort_array(collect_list(struct(col("ch"), col("c")))).as("cs"))
      .select(col("id"), col("n").as("n_chars"),
        round(log(col("n").cast("double"))
          - aggregate(col("cs"), lit(0.0d),
              (a, x) => a + x("c").cast("double") * log(x("c").cast("double")))
            / col("n").cast("double"), 4).as("entropy"))

  /** DuckDB twin of [[charEntropy]] (`list(... ORDER BY ch)` +
    * `list_sum` left-folds in the same char order).
    */
  def charEntropySql(table: String, idExpr: String,
                     textExpr: String): String =
    s"""SELECT id, n AS n_chars,
       |  round(ln(CAST(n AS DOUBLE)) - clc / CAST(n AS DOUBLE), 4) AS entropy
       |FROM (
       |  SELECT id, CAST(sum(c) AS BIGINT) AS n,
       |    list_sum(list_transform(list(c ORDER BY ch),
       |      cc -> CAST(cc AS DOUBLE) * ln(CAST(cc AS DOUBLE)))) AS clc
       |  FROM (
       |    SELECT id, ch, CAST(count(*) AS BIGINT) AS c FROM (
       |      SELECT $idExpr AS id, unnest(string_split($textExpr, '')) AS ch
       |      FROM $table)
       |    WHERE ch <> '' GROUP BY 1, 2)
       |  GROUP BY 1)""".stripMargin

  /** PMI collocation mining — the top-`k` adjacent token pairs by
    * pointwise mutual information, `ln(c12·N / (l1·r2))`, over the
    * corpus bigram space: `c12` the bigram count, `l1`/`r2` the
    * left/right MARGINALS derived from the bigram table itself
    * (`l1(w1) = Σ_w2 c12`, `r2(w2) = Σ_w1 c12`, `N = Σ c12`) — so the
    * tokenizer runs ONCE and everything downstream aggregates
    * model-sized state, the [[graft.text.LmQuality.bigramLogPpl]]
    * derivation trick. `minCount` floors `c12` (PMI is noise-dominated
    * at singleton counts — the standard collocation-mining guard).
    * The phrase surface feeds tokenizer-vocabulary seeding and
    * boilerplate phrase detection (no reference analog; §2.7).
    *
    * Scale shape: one tokenize+explode pass → bigram hash-aggregate
    * (map-side partial), two vocabulary-sized re-aggregates, two
    * equi-joins on a token key each (AQE broadcasts when small), and
    * a global top-k (TakeOrderedAndProject — no full sort). Score 4dp;
    * total order (pmi desc, w1 asc, w2 asc) both engines.
    */
  def pmiCollocations(docs: org.apache.spark.sql.DataFrame, textCol: Column,
                      minCount: Long, k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0 && minCount >= 1, "k and minCount must be positive")
    val toks = split(lower(trim(textCol)), "\\s+")
    val grams = element_at(
      transform(array(toks), t =>
        when(size(t) >= 2,
          transform(sequence(lit(1), size(t) - 1),
            i => struct(element_at(t, i).as("w1"),
                        element_at(t, i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))), 1)
    // materialize the bigram table ONCE: marginals, the total, and the
    // scored join all consume it, and each unpinned reference would
    // re-run the tokenize+explode+aggregate corpus pass
    val big = Materialize(docs.select(explode(grams).as("g"))
      .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val left = big.groupBy("w1").agg(sum("c12").as("l1"))
    val right = big.groupBy("w2").agg(sum("c12").as("r2"))
    val n = big.agg(sum("c12").as("nb"))
    big.where(col("c12") >= minCount)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c12"),
        // marginal product in DOUBLE: l1·r2 overflows long past ~3e9
        // bigram occurrences (ANSI mode throws); identical double ops
        // both engines keep the 4dp round deterministic
        round(log(col("c12").cast("double") * col("nb").cast("double")
          / (col("l1").cast("double") * col("r2").cast("double"))), 4)
          .as("pmi"))
      .orderBy(desc("pmi"), asc("w1"), asc("w2")).limit(k)
  }

  /** DuckDB twin of [[pmiCollocations]]. */
  def pmiCollocationsSql(table: String, textExpr: String, minCount: Long,
                         k: Int): String =
    s"""WITH big AS MATERIALIZED (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM (
       |    SELECT t[i] AS w1, t[i + 1] AS w2 FROM (
       |      SELECT t, unnest(range(1, len(t))) AS i FROM (
       |        SELECT string_split_regex(lower(trim($textExpr)), '$WsClassSql+') AS t
       |        FROM $table)
       |      WHERE len(t) >= 2))
       |  GROUP BY 1, 2),
       |l AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS l1 FROM big GROUP BY 1),
       |r AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS r2 FROM big GROUP BY 1),
       |n AS (SELECT CAST(sum(c12) AS BIGINT) AS nb FROM big)
       |SELECT w1, w2, c12,
       |  round(ln(CAST(c12 AS DOUBLE) * CAST(nb AS DOUBLE)
       |           / (CAST(l1 AS DOUBLE) * CAST(r2 AS DOUBLE))), 4) AS pmi
       |FROM big JOIN l USING (w1) JOIN r USING (w2), n
       |WHERE c12 >= $minCount
       |ORDER BY pmi DESC, w1, w2 LIMIT $k""".stripMargin

  /** Span-level duplication signals: for every token n-gram POSITION in
    * every document, whether that n-gram occurs elsewhere in the corpus
    * and whether this position is its globally-first occurrence — the
    * per-document summary of Lee et al.'s exact-substring dedup
    * ("Deduplicating Training Data Makes Language Models Better",
    * 2022): `n_nonfirst` is exactly the span mass that pass would
    * remove. Document-level dedup misses these (a doc sharing one
    * boilerplate span with thousands of others is otherwise unique).
    *
    * Returns (id, n_shingles, n_repeated, n_nonfirst, repeated_frac);
    * documents shorter than `n` tokens contribute no rows.
    *
    * Scale shape: one shuffle on the gram (the count/first-occurrence
    * window — parallel across the corpus's distinct grams, no
    * corpus-sized state) and one on the doc id for the summary; the
    * token array is lambda-bound once (see [[ngramCounts]]).
    */
  def repeatedSpans(docs: org.apache.spark.sql.DataFrame, idCol: Column,
                    textCol: Column, n: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 2, "n must be at least 2")
    val toks = split(lower(trim(textCol)), "\\s+")
    val grams = element_at(
      transform(array(toks), t =>
        when(size(t) >= n,
          transform(sequence(lit(1), size(t) - (n - 1)),
            i => array_join(slice(t, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))), 1)
    val pos = docs.select(idCol.as("id"), posexplode(grams).as(Seq("idx", "gram")))
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
    pos
      .withColumn("cnt", count(lit(1)).over(byGram))
      .withColumn("rn", row_number().over(byGram.orderBy(col("id"), col("idx"))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_repeated"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_nonfirst"))
      .withColumn("repeated_frac",
        floor(col("n_repeated") / col("n_shingles") * 10000.0) / 10000.0)
  }

  /** DuckDB twin of [[repeatedSpans]]. */
  def repeatedSpansSql(table: String, idExpr: String, textExpr: String,
                       n: Int): String =
    s"""WITH t AS (
       |  SELECT $idExpr AS id,
       |    string_split_regex(lower(trim($textExpr)), '$WsClassSql+') AS toks
       |  FROM $table),
       |exploded AS (
       |  SELECT id, unnest(range(1, len(toks) - ${n - 2})) AS idx, toks
       |  FROM t WHERE len(toks) >= $n),
       |grams AS (
       |  SELECT id, idx, array_to_string(toks[idx:idx+${n - 1}], ' ') AS gram
       |  FROM exploded),
       |flagged AS (
       |  SELECT id,
       |    count(*) OVER (PARTITION BY gram) AS cnt,
       |    row_number() OVER (PARTITION BY gram ORDER BY id, idx) AS rn
       |  FROM grams)
       |SELECT id, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(count(*) FILTER (WHERE cnt > 1) AS BIGINT) AS n_repeated,
       |  CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_nonfirst,
       |  floor((count(*) FILTER (WHERE cnt > 1) / count(*)) * 10000.0) / 10000.0
       |    AS repeated_frac
       |FROM flagged GROUP BY id""".stripMargin

  /** The exact-substring dedup pass itself (Lee et al. 2022, §3 — the
    * pass [[repeatedSpans]] only summarizes): every duplicate n-gram
    * POSITION (one that is not its gram's globally-first occurrence,
    * first = lowest (id, idx)) marks its n tokens for removal; adjacent
    * and overlapping marked ranges inside a document merge into
    * MAXIMAL spans. Returns one row per maximal removed span:
    * (id, span_start, span_end, span_tokens), token positions 1-based
    * inclusive — the edit list a cleaning pass applies, keeping each
    * duplicated substring's first occurrence corpus-wide.
    *
    * Why spans and not cleaned text: the span list is the
    * idempotent, auditable artifact (apply = filter tokens by
    * position); emitting text would bake the tokenizer's whitespace
    * normalization into the output irreversibly.
    *
    * Scale shape (same skeleton as [[repeatedSpans]]): one shuffle on
    * the gram for the first-occurrence window — parallel over distinct
    * grams, no corpus-sized state — then one shuffle on the doc id
    * where DUPLICATE positions only (typically a small fraction of the
    * corpus) flow through the gaps-and-islands merge: a running-max
    * window, a flag, a running sum, a group-by — all linear, all
    * integer arithmetic, bit-exact under any partitioning.
    */
  def substringDedupSpans(docs: org.apache.spark.sql.DataFrame, idCol: Column,
                          textCol: Column, n: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 2, "n must be at least 2")
    val toks = split(lower(trim(textCol)), "\\s+")
    val grams = element_at(
      transform(array(toks), t =>
        when(size(t) >= n,
          transform(sequence(lit(1), size(t) - (n - 1)),
            i => array_join(slice(t, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))), 1)
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
      .orderBy(col("id"), col("idx"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("idx"))
    // covered-through-the-previous-row watermark: a marked range [idx,
    // idx+n-1] extends the current span iff it starts at or before
    // watermark+1 (overlap OR adjacency — the removed region stays
    // contiguous either way)
    val prevMax = max(col("end"))
      .over(byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    docs.select(idCol.as("id"), posexplode(grams).as(Seq("idx0", "gram")))
      .select(col("id"), (col("idx0") + 1).as("idx"), col("gram"))
      .withColumn("rn", row_number().over(byGram))
      .where(col("rn") > 1)
      .select(col("id"), col("idx"), (col("idx") + (n - 1)).as("end"))
      .withColumn("new_span",
        when(prevMax.isNull || col("idx") > prevMax + 1, 1).otherwise(0))
      .withColumn("span_no", sum(col("new_span")).over(byDoc))
      .groupBy(col("id"), col("span_no"))
      .agg(min(col("idx")).as("span_start"), max(col("end")).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** DuckDB twin of [[substringDedupSpans]] (integer-only windows —
    * hash-exact; positions cast back to INTEGER to match Spark).
    */
  def substringDedupSpansSql(table: String, idExpr: String, textExpr: String,
                             n: Int): String =
    s"""WITH t AS (
       |  SELECT $idExpr AS id,
       |    string_split_regex(lower(trim($textExpr)), '$WsClassSql+') AS toks
       |  FROM $table),
       |exploded AS (
       |  SELECT id, unnest(range(1, len(toks) - ${n - 2})) AS idx, toks
       |  FROM t WHERE len(toks) >= $n),
       |grams AS (
       |  SELECT id, idx, array_to_string(toks[idx:idx+${n - 1}], ' ') AS gram
       |  FROM exploded),
       |dup AS (
       |  SELECT id, idx, idx + ${n - 1} AS e FROM (
       |    SELECT id, idx,
       |      row_number() OVER (PARTITION BY gram ORDER BY id, idx) AS rn
       |    FROM grams)
       |  WHERE rn > 1),
       |flagged AS (
       |  SELECT id, idx, e,
       |    CASE WHEN max(e) OVER w IS NULL OR idx > max(e) OVER w + 1
       |         THEN 1 ELSE 0 END AS new_span
       |  FROM dup
       |  WINDOW w AS (PARTITION BY id ORDER BY idx
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |islands AS (
       |  SELECT id, idx, e,
       |    sum(new_span) OVER (PARTITION BY id ORDER BY idx) AS span_no
       |  FROM flagged)
       |SELECT id, CAST(min(idx) AS INTEGER) AS span_start,
       |  CAST(max(e) AS INTEGER) AS span_end,
       |  CAST(max(e) - min(idx) + 1 AS INTEGER) AS span_tokens
       |FROM islands GROUP BY id, span_no""".stripMargin

  /** Apply [[substringDedupSpans]]'s edit list: drop every token whose
    * 1-based position falls inside one of its document's removal
    * spans, keeping token order. Returns (id, n_tokens, n_removed,
    * clean_text) — together with the span pass this is the COMPLETE
    * Lee et al. cleaning stage (detect → remove, first occurrence
    * corpus-wide survives).
    *
    * Shape: the span list re-aggregates to ONE small array per
    * affected document (spans are maximal, so there are few), joins
    * back LEFT onto the corpus by id, and the removal itself is a
    * higher-order filter over the token array — a narrow per-row map,
    * no explode of corpus tokens through a shuffle. Membership via
    * `exists` is order-independent, so the unordered `collect_list`
    * is safe.
    */
  def substringDedupApply(docs: org.apache.spark.sql.DataFrame, idCol: Column,
                          textCol: Column, n: Int): org.apache.spark.sql.DataFrame = {
    val spans = substringDedupSpans(docs, idCol, textCol, n)
      .groupBy(col("id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    docs.select(idCol.as("id"), split(lower(trim(textCol)), "\\s+").as("toks"))
      .join(spans, Seq("id"), "left")
      .select(col("id"),
        when(size(col("toks")) === 1 && element_at(col("toks"), 1) === "", 0)
          .otherwise(size(col("toks"))).as("n_tokens"),
        filter(
          transform(sequence(lit(1), size(col("toks"))),
            i => struct(i.as("i"), element_at(col("toks"), i).as("tok"))),
          t => col("spans").isNull ||
            !exists(col("spans"), s =>
              t.getField("i") >= s.getField("span_start") &&
                t.getField("i") <= s.getField("span_end"))).as("kept"))
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))
          + when(col("n_tokens") === 0, 1).otherwise(0)).as("n_removed"),
        array_join(transform(col("kept"), t => t.getField("tok")), " ")
          .as("clean_text"))
  }

  /** DuckDB twin of [[substringDedupApply]]. One cross-engine quirk:
    * DuckDB's `array_to_string([])` is NULL where Spark's
    * `array_join` gives '' — the fully-boilerplate documents (every
    * token removed) hit exactly that, hence the coalesce.
    */
  def substringDedupApplySql(table: String, idExpr: String, textExpr: String,
                             n: Int): String =
    s"""WITH spans AS (
       |  SELECT id, list({'lo': span_start, 'hi': span_end}) AS spans
       |  FROM (${substringDedupSpansSql(table, idExpr, textExpr, n)})
       |  GROUP BY id),
       |toks AS (
       |  SELECT $idExpr AS id,
       |    string_split_regex(lower(trim($textExpr)), '$WsClassSql+') AS toks
       |  FROM $table),
       |joined AS (
       |  SELECT t.id, t.toks, s.spans,
       |    CASE WHEN len(t.toks) = 1 AND t.toks[1] = '' THEN 0
       |         ELSE len(t.toks) END AS n_tokens
       |  FROM toks t LEFT JOIN spans s ON s.id = t.id),
       |kept AS (
       |  SELECT id, n_tokens,
       |    list_filter(list_transform(range(1, len(toks) + 1),
       |        i -> {'i': i, 'tok': toks[CAST(i AS INTEGER)]}),
       |      t -> spans IS NULL OR len(list_filter(spans,
       |        s -> t.i >= s.lo AND t.i <= s.hi)) = 0) AS kept
       |  FROM joined)
       |SELECT id, CAST(n_tokens AS INTEGER) AS n_tokens,
       |  CAST(n_tokens - len(kept)
       |    + CASE WHEN n_tokens = 0 THEN 1 ELSE 0 END AS INTEGER) AS n_removed,
       |  coalesce(array_to_string(list_transform(kept, t -> t.tok), ' '), '')
       |    AS clean_text
       |FROM kept""".stripMargin

  /** Sliding-window chunking with overlap — the fixed-stride
    * alternative to the reference's greedy paragraph packer
    * ([[graft.text.ChunkPacker]], F2): window `w` tokens, stride `s`
    * (overlap `w − s`), the standard layout when chunks feed an
    * embedding model that wants context continuity across boundaries.
    * Window count for a doc of T ≥ 1 tokens is
    * `max(1, ceil((T − w) / s) + 1)` — the last window reaches the
    * tail and may run short; empty docs emit nothing. Returns
    * (id, win_idx 1-based, start 1-based, n_win, win_md5); a narrow
    * per-row transform (explode of bounded window descriptors, no
    * shuffle — plan-shape identical to the other curation passes).
    */
  def slidingChunks(docs: org.apache.spark.sql.DataFrame, idCol: Column,
                    textCol: Column, window: Int,
                    stride: Int): org.apache.spark.sql.DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val toks = split(lower(trim(textCol)), "\\s+")
    val nwin = greatest(lit(1),
      ceil((size(col("toks")) - window).cast("double") / stride).cast("int") + 1)
    docs.select(idCol.as("id"), toks.as("toks"))
      .where(!(size(col("toks")) === 1 && element_at(col("toks"), 1) === ""))
      .select(col("id"), col("toks"),
        posexplode(sequence(lit(1), nwin)).as(Seq("k", "win_idx")))
      .select(col("id"), col("win_idx"),
        (lit(1) + (col("win_idx") - 1) * stride).as("start"),
        slice(col("toks"), lit(1) + (col("win_idx") - 1) * stride, lit(window))
          .as("win"))
      .select(col("id"), col("win_idx"), col("start"),
        size(col("win")).as("n_win"),
        md5(array_join(col("win"), " ")).as("win_md5"))
  }

  /** DuckDB twin of [[slidingChunks]]. */
  def slidingChunksSql(table: String, idExpr: String, textExpr: String,
                       window: Int, stride: Int): String =
    s"""WITH t AS (
       |  SELECT $idExpr AS id,
       |    string_split_regex(lower(trim($textExpr)), '$WsClassSql+') AS toks
       |  FROM $table),
       |live AS (
       |  SELECT id, toks FROM t
       |  WHERE NOT (len(toks) = 1 AND toks[1] = '')),
       |wins AS (
       |  SELECT id, toks,
       |    unnest(range(1, greatest(1,
       |      CAST(ceil(CAST(len(toks) - $window AS DOUBLE) / $stride) AS INTEGER)
       |        + 1) + 1)) AS win_idx
       |  FROM live)
       |SELECT id, CAST(win_idx AS INTEGER) AS win_idx,
       |  CAST(1 + (win_idx - 1) * $stride AS INTEGER) AS start,
       |  CAST(len(toks[(1 + (win_idx - 1) * $stride):
       |               (1 + (win_idx - 1) * $stride + ${window - 1})])
       |    AS INTEGER) AS n_win,
       |  md5(array_to_string(
       |    toks[(1 + (win_idx - 1) * $stride):
       |         (1 + (win_idx - 1) * $stride + ${window - 1})], ' ')) AS win_md5
       |FROM wins""".stripMargin

  // ---- fingerprinting -------------------------------------------------

  /** Whitespace-normalized md5 fingerprint — the exact-dedup key. */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " "))
  def fingerprintSql(t: String): String =
    s"md5(regexp_replace(lower(trim($t)), '\\s+', ' ', 'g'))"

  // ---- paragraph-level corpus dedup (CCNet-style) ----------------------

  /** Drop repeated paragraphs corpus-wide, keeping each paragraph's
    * globally-first occurrence — the CCNet/Gopher boilerplate pass
    * (nav bars, cookie banners, shared footers appear in thousands of
    * documents; document-level dedup never sees them). Paragraphs
    * follow the reference's F1 semantics (split on blank line, trim,
    * drop empties — /root/reference/extract_and_embed.py:63); the
    * dedup key is the whitespace-normalized [[fingerprint]]; "first"
    * is the global (id, paragraph-index) order, so the output is
    * deterministic under any partitioning.
    *
    * Returns one row per document: `id`, `n_paras` (non-empty
    * paragraphs in), `n_kept`, and `clean_text` (the kept paragraphs
    * re-joined with blank lines in original order; empty string when
    * every paragraph was a repeat).
    *
    * Scale shape: one shuffle on the paragraph fingerprint (the
    * first-occurrence window — parallel across fingerprints) and one
    * on the document id (the reassembly aggregate). Both keys are
    * high-cardinality, so neither collapses; no corpus-sized state
    * anywhere.
    */
  def paragraphDedup(docs: org.apache.spark.sql.DataFrame, id: Column,
                     text: Column): org.apache.spark.sql.DataFrame = {
    val paras = docs
      .select(id.as("id"), posexplode(split(text, "\n\n")).as(Seq("idx", "para0")))
      .select(col("id"), col("idx"), trim(col("para0")).as("para"))
      .where(length(col("para")) > 0)
      .withColumn("fp", fingerprint(col("para")))
    val firstSeen = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("id"), col("idx"))
    paras.withColumn("__rn", row_number().over(firstSeen))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__rn") === 1,
              struct(col("idx"), col("para"))))),
            x => x.getField("para")),
          "\n\n").as("clean_text"))
  }

  /** DuckDB twin of [[paragraphDedup]]: lockstep unnest for the
    * paragraph index, the same first-occurrence window, ordered
    * string_agg for the reassembly.
    */
  def paragraphDedupSql(table: String, idExpr: String, textExpr: String): String =
    s"""WITH exploded AS (
       |  SELECT id, unnest(range(0, len(ps))) AS idx, unnest(ps) AS para0
       |  FROM (SELECT $idExpr AS id,
       |          string_split($textExpr, chr(10)||chr(10)) AS ps
       |        FROM $table)),
       |paras AS (
       |  SELECT id, idx, trim(para0) AS para,
       |    ${fingerprintSql("trim(para0)")} AS fp
       |  FROM exploded WHERE length(trim(para0)) > 0),
       |flagged AS (
       |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY id, idx) AS rn
       |  FROM paras)
       |SELECT id, CAST(count(*) AS BIGINT) AS n_paras,
       |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
       |  coalesce(string_agg(para, chr(10)||chr(10) ORDER BY idx)
       |             FILTER (WHERE rn = 1), '') AS clean_text
       |FROM flagged GROUP BY id""".stripMargin

  // ---- scrubbing (PII-style redaction) --------------------------------

  // One pattern string each for BOTH Java regex and RE2 — no
  // constructs the dialects disagree on (no backrefs, no lookaround,
  // explicit character classes only).
  val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val UrlRe = """https?://[^ \t\n\x0B\f\r]+"""
  val LongDigitsRe = """[0-9]{6,}"""

  /** Redact emails, URLs, and 6+-digit runs to typed placeholders —
    * the standard pre-training scrub pass. Order matters and is fixed:
    * emails first (an email is not left for the URL pass to mangle),
    * then URLs, then digit runs (which would otherwise match digits
    * inside a not-yet-redacted URL). Narrow codegen'd map over the
    * scan — constant cost per row at any corpus size.
    */
  def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        UrlRe, "<URL>"),
      LongDigitsRe, "<NUM>")

  def scrubSql(t: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($t,
       | ${Sql.lit(EmailRe)}, '<EMAIL>', 'g'),
       | ${Sql.lit(UrlRe)}, '<URL>', 'g'),
       | ${Sql.lit(LongDigitsRe)}, '<NUM>', 'g')""".stripMargin

  /** Occurrences of `pattern` in `text` (pre-scrub audit counts). */
  def patternCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).cast("long")
  def patternCountSql(t: String, pattern: String): String =
    s"len(regexp_extract_all($t, ${Sql.lit(pattern)}))"

  // ---- repetition signals (Gopher-style curation) ---------------------

  /** Per-document repetition stats over whitespace tokens:
    * `(n_tokens, n_distinct, distinct_ratio 4dp, top_share 4dp)` as a
    * struct. `top_share` is the corpus-frequency share of the most
    * repeated token within the document — the "stuck-in-a-loop"
    * generation signal. The token array is bound once via the
    * one-element-transform trick (see [[ngramCounts]]); the inner
    * count loop is O(distinct × tokens) per row, bounded and
    * shuffle-free.
    */
  def repetitionStats(text: Column): Column = {
    val stats = transform(array(split(lower(trim(text)), "\\s+")), t => {
      val counts = transform(array_distinct(t),
        u => size(filter(t, x => x === u)))
      struct(
        size(t).cast("long").as("n_tokens"),
        size(array_distinct(t)).cast("long").as("n_distinct"),
        round(size(array_distinct(t)).cast("double") / size(t), 4).as("distinct_ratio"),
        round(array_max(counts).cast("double") / size(t), 4).as("top_share"))
    })
    element_at(stats, 1)
  }

  /** DuckDB twin of [[repetitionStats]], flattened to select-list
    * expressions over an alias `t` bound in a subquery.
    */
  def repetitionSqlFrom(table: String, idExpr: String, textExpr: String): String =
    s"""SELECT id AS doc_id,
       | CAST(len(t) AS BIGINT) AS n_tokens,
       | CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
       | round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4) AS distinct_ratio,
       | round(CAST(list_max(list_transform(list_distinct(t),
       |   u -> len(list_filter(t, x -> x = u)))) AS DOUBLE) / len(t), 4) AS top_share
       |FROM (SELECT $idExpr AS id,
       |  string_split_regex(lower(trim($textExpr)), '$WsClassSql+') AS t
       |  FROM $table)""".stripMargin

  // ---- contamination screen -------------------------------------------

  /** Benchmark-contamination screen: flag corpus documents sharing any
    * word `n`-gram with a probe ("benchmark") document set, with the
    * shared-shingle count per flagged document. The probe side is tiny
    * by construction (a benchmark, not a corpus) — broadcast to the
    * corpus-side shingle stream, so the only exchange is the final
    * per-document count aggregation. Output: (doc_id, n_hits), probe
    * documents excluded.
    */
  def contaminationHits(docs: org.apache.spark.sql.DataFrame, idCol: Column,
                        textCol: Column, probeIds: Seq[Long],
                        n: Int = 3): org.apache.spark.sql.DataFrame = {
    require(probeIds.nonEmpty, "probe set must be non-empty")
    val sh = docs.select(idCol.cast("long").as("id"),
      explode(array_distinct(graft.dedup.Dedup.shingles(textCol, n))).as("shingle"))
    val probes = sh.where(col("id").isin(probeIds: _*))
      .select("shingle").distinct()
    sh.where(!col("id").isin(probeIds: _*))
      .join(broadcast(probes), "shingle")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Bloom-prefiltered twin of [[contaminationHits]] — the LARGE-probe-set
    * route. [[contaminationHits]] broadcasts the probe shingle STRINGS as
    * a hash map, which is right while the benchmark fits in executor
    * memory; when the probe side is itself large (a union of many eval
    * benchmarks — 10⁸⁺ n-grams), the exact join must shuffle BOTH sides,
    * and the corpus side of that exchange is the whole corpus's shingle
    * stream.
    *
    * This route cuts that exchange with a Bloom filter built over the
    * probe shingles' xxhash64 values (one distributed aggregation on the
    * probe side; the sketch is fixed-size bits — `fpp`-controlled, ~1.2 MB
    * per 10⁶ entries at 1% — independent of string lengths). The corpus
    * shingle stream is prefiltered by [[BloomKernel.mightContainLong]]
    * BEFORE the exchange, so shuffle volume is proportional to the
    * CONTAMINATED fraction (+ fpp), not the corpus. A Bloom filter has no
    * false negatives, and the exact equi-join verify that follows removes
    * the false positives — output is row-identical to
    * [[contaminationHits]] for every `fpp`, so both routes share one
    * oracle. No broadcast hint on the verify join: the probe side is
    * assumed big; AQE may still choose broadcast when it is not.
    */
  def contaminationHitsBloom(docs: org.apache.spark.sql.DataFrame, idCol: Column,
                             textCol: Column, probeIds: Seq[Long],
                             n: Int = 3,
                             fpp: Double = 0.01): org.apache.spark.sql.DataFrame = {
    require(probeIds.nonEmpty, "probe set must be non-empty")
    val sh = docs.select(idCol.cast("long").as("id"),
      explode(array_distinct(graft.dedup.Dedup.shingles(textCol, n))).as("shingle"))
    val probes = sh.where(col("id").isin(probeIds: _*))
      .select("shingle").distinct()
    // Benchmark-sized count job sizes the sketch; both jobs touch only
    // the probe documents (partition-pruned by the id filter upstream).
    val nProbe = math.max(probes.count(), 1L)
    val bloom = probes.stat.bloomFilter(xxhash64(col("shingle")), nProbe, fpp)
    sh.where(!col("id").isin(probeIds: _*))
      .where(BloomKernel.mightContainLong(xxhash64(col("shingle")), bloom))
      .join(probes, "shingle")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Per-document TF-IDF keyword extraction: the top-`k` terms of each
    * document by `tf · ln((N+1)/(df+1))` (add-one smoothed idf), score
    * at 4dp, ties broken by term ascending — the standard "what is
    * this document about" surface a curation pipeline uses for topic
    * caps and per-domain mixture audits (no reference analog; §2.7
    * extension surface).
    *
    * Scale shape: one tokenize pass → postings `(id, token, tf)`
    * (hash-aggregate, map-side partial), document frequencies from a
    * second vocabulary-keyed aggregate, one equi-join postings ⋈ dfs
    * on token (AQE picks broadcast only when the vocabulary is small
    * — heavy-tailed corpora keep it a shuffle join), and the per-doc
    * top-k is an AGGREGATE (sort_array + slice over the doc-bounded
    * term list), not a global window — partial-aggregation-friendly
    * and bounded by document vocabulary, never corpus vocabulary.
    * Same determinism story as [[bm25Join]]: both engines emit
    * bit-identical doubles for identical (tf, df, n) integer inputs,
    * and the rank order is total (score desc, token asc).
    */
  def tfidfTopK(docs: org.apache.spark.sql.DataFrame, idCol: Column,
                textCol: Column, k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0, "k must be positive")
    val toks = split(lower(trim(textCol)), "\\s+")
    val postings = docs
      .select(idCol.as("id"), explode(toks).as("token"))
      .where(col("token") =!= "")
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val n1 = docs.agg((count(lit(1)) + 1L).cast("double").as("n1"))
    tfidfTopKFromPostings(postings, n1, k)
  }

  /** The scoring tail of [[tfidfTopK]] over an arbitrary postings
    * frame `(id, token, tf)` and a 1-row `(n1)` group-count frame —
    * the same math labels any GROUPING (documents, duplicate
    * clusters, domains): df = groups containing the token, idf
    * add-one smoothed against n1 = group count + 1.
    */
  def tfidfTopKFromPostings(postings: org.apache.spark.sql.DataFrame,
                            n1: org.apache.spark.sql.DataFrame,
                            k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0, "k must be positive")
    val dfs = postings.groupBy("token").agg(count(lit(1)).as("df"))
    postings.join(dfs, "token").crossJoin(broadcast(n1))
      .select(col("id"), col("token"),
        round(col("tf").cast("double")
          * log(col("n1") / (col("df") + lit(1L)).cast("double")), 4)
          .as("score"))
      .groupBy("id")
      .agg(slice(sort_array(collect_list(
        struct((-col("score")).as("ns"), col("token").as("t")))), 1, k)
        .as("top"))
      .select(col("id"), posexplode(col("top")))
      .select(col("id"), col("col.t").as("token"),
        (-col("col.ns")).as("score"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** DuckDB twin of [[tfidfTopK]]. */
  def tfidfTopKSql(table: String, idExpr: String, textExpr: String,
                   k: Int): String =
    s"""WITH p AS MATERIALIZED (
       |  SELECT id, token, CAST(count(*) AS BIGINT) AS tf FROM (
       |    SELECT $idExpr AS id,
       |      unnest(string_split_regex(lower(trim($textExpr)), '$WsClassSql+')) AS token
       |    FROM $table)
       |  WHERE token <> '' GROUP BY 1, 2),
       |d AS MATERIALIZED (SELECT token, count(*) AS df FROM p GROUP BY 1),
       |nn AS (SELECT CAST(count(*) + 1 AS DOUBLE) AS n1 FROM $table),
       |scored AS (
       |  SELECT id, token,
       |    round(CAST(tf AS DOUBLE) * ln(n1 / CAST(df + 1 AS DOUBLE)), 4)
       |      AS score
       |  FROM p JOIN d USING (token), nn)
       |SELECT id, token, score,
       |  CAST(row_number() OVER (PARTITION BY id ORDER BY score DESC, token)
       |       AS INTEGER) AS rank
       |FROM scored
       |QUALIFY rank <= $k""".stripMargin

  /** DuckDB twin of [[contaminationHits]]. */
  def contaminationSql(table: String, idExpr: String, textExpr: String,
                       probeIds: Seq[Long], n: Int = 3): String = {
    val ids = probeIds.mkString(", ")
    s"""WITH sh AS (
       |  SELECT id, unnest(list_distinct(${graft.dedup.Dedup.shinglesSql(textExpr, n)})) AS shingle
       |  FROM (SELECT $idExpr AS id, $textExpr FROM $table)),
       |probes AS (SELECT DISTINCT shingle FROM sh WHERE id IN ($ids))
       |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_hits
       |FROM sh JOIN probes USING (shingle)
       |WHERE id NOT IN ($ids)
       |GROUP BY 1""".stripMargin
  }
}
