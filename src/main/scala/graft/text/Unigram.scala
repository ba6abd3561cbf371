package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Unigram-LM subword tokenization (the SentencePiece-style
  * counterpart of [[Bpe]], cf. Kudo 2018): a piece VOCABULARY scored
  * by corpus substring statistics, and an ENCODE step that segments
  * every word into the minimum-total-cost piece sequence by exact
  * Viterbi dynamic programming — where BPE replays greedy merges,
  * unigram picks the globally optimal segmentation under the piece
  * costs. No reference analog (the reference consumes a hosted
  * model's tokenization); with [[Bpe]] this completes the
  * from-scratch tokenizer family (§2.7).
  *
  * Scale shape — the [[Bpe]] word-histogram trick throughout: the only
  * corpus-scale passes are `groupBy(word)` histograms (Heaps-law
  * sublinear); candidate pieces, vocabulary selection, and the DP all
  * run over DISTINCT words (piece grid ≤ maxPieceLen·|word| rows per
  * word; the DP is one higher-order-function fold per word — narrow,
  * no shuffle beyond the piece join), and per-document results come
  * back through one histogram-sized join.
  *
  * Determinism contract: piece costs are scaled integers
  * (`floor(−ln(cnt/total)·10⁴)` — one double division + one `ln` +
  * one floor on exact integer operands, the
  * [[graft.text.LmQuality]] cost convention), the DP accumulates
  * exact longs ordered lexicographically by (cost, piece count), and
  * vocabulary selection is totally ordered (count desc, piece asc) —
  * so the DuckDB twin, which replays the DP as unrolled per-position
  * CTE steps (the [[Bpe.trainMergesSql]] pattern), is bit-exact.
  * Words longer than `MaxWordLen` take the single-character fallback
  * arm (cost = Σ char costs, pieces = length) — same arm both
  * engines. Characters are code units (ASCII-safe contract, as
  * documented on [[Bpe]]).
  */
object Unigram {

  /** DP unroll bound: words longer than this take the char fallback. */
  val MaxWordLen = 24

  /** Max piece length considered by vocabulary and DP. */
  val MaxPieceLen = 4

  /** Lowercased whitespace word histogram (word, cnt) — the corpus
    * pass; everything else is vocabulary-sized.
    */
  private def wordHistogram(docs: DataFrame, textCol: Column): DataFrame =
    docs.select(explode(split(lower(trim(textCol)), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  private val WordsSqlFrom =
    s"SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (" +
      s"SELECT unnest(string_split_regex(lower(trim(%s)), '%s+')) AS word " +
      s"FROM %s) WHERE word <> '' GROUP BY 1"

  private def wordsSql(table: String, textExpr: String): String =
    WordsSqlFrom.format(textExpr, TextAnalysis.WsClassSqlPublic, table)

  /** All substring occurrences of the histogram's words, weighted by
    * word count: (piece, cnt). Every position counts (a piece
    * occurring twice in a word contributes twice), lengths 1..MaxPieceLen.
    */
  private def pieceCounts(words: DataFrame): DataFrame = {
    val l = length(col("word"))
    val grid = flatten(transform(sequence(lit(1), l), i =>
      transform(sequence(lit(1), least(lit(MaxPieceLen), l - i + 1)),
        n => substring(col("word"), i, n))))
    words.select(explode(grid).as("piece"), col("cnt"))
      .groupBy("piece").agg(sum("cnt").as("cnt"))
  }

  /** The trained vocabulary: ALL single characters (guaranteeing the
    * DP is always feasible) plus the top-`k` multi-character pieces by
    * (count desc, piece asc), with scaled-integer costs
    * `floor(−ln(cnt/total)·10⁴)` where `total` is the selected
    * vocabulary's count mass. Returns (piece, cnt, cost).
    */
  def vocab(docs: DataFrame, textCol: Column, k: Int): DataFrame =
    vocabFromHistogram(wordHistogram(docs, textCol), k)

  /** [[vocab]] over an already-built (word, cnt) histogram — lets
    * [[encode]] derive it from its own per-document histogram instead
    * of scanning the corpus twice.
    */
  private def vocabFromHistogram(words: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    // piece candidates are derived once; chars + top-k both read them
    val cand = Materialize(pieceCounts(words))
    val sel = cand.where(length(col("piece")) === 1)
      .unionByName(cand.where(length(col("piece")) > 1)
        .orderBy(desc("cnt"), asc("piece")).limit(k))
    val total = sel.agg(sum("cnt").as("total"))
    sel.crossJoin(broadcast(total))
      .select(col("piece"), col("cnt"),
        floor(-log(col("cnt").cast("double") / col("total").cast("double"))
          * 10000d).cast("long").as("cost"))
  }

  /** CTE block ending in `vocab(piece, cnt, cost)` — the DuckDB twin
    * of [[vocab]]'s construction, shared by both oracle queries.
    */
  private def vocabCtes(table: String, textExpr: String, k: Int): String =
    s"""wh AS MATERIALIZED (${wordsSql(table, textExpr)}),
       |cand AS MATERIALIZED (
       |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
       |    SELECT substr(word, CAST(i AS INTEGER),
       |                  CAST(n.range AS INTEGER)) AS piece, cnt
       |    FROM (SELECT word, cnt, unnest(range(1, len(word) + 1)) AS i
       |          FROM wh),
       |         range(1, ${MaxPieceLen + 1}) n
       |    WHERE i + n.range - 1 <= len(word))
       |  GROUP BY 1),
       |sel AS MATERIALIZED (
       |  SELECT piece, cnt FROM cand WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM cand WHERE len(piece) > 1
       |    ORDER BY cnt DESC, piece LIMIT $k)),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM sel),
       |vocab AS MATERIALIZED (
       |  SELECT piece, cnt,
       |    CAST(floor(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
       |               * 10000) AS BIGINT) AS cost
       |  FROM sel, tot)""".stripMargin

  /** DuckDB twin of [[vocab]]. */
  def vocabSql(table: String, textExpr: String, k: Int): String =
    s"""WITH ${vocabCtes(table, textExpr, k)}
       |SELECT piece, cnt, cost FROM vocab""".stripMargin

  /** Encode the corpus against a `k`-piece trained vocabulary: per
    * document `(id, n_words, n_pieces, cost_total)` where each word
    * contributes its Viterbi-optimal segmentation (min total cost,
    * ties to fewer pieces) and `cost_total` is the exact scaled-integer
    * sum — the corpus-compression surface a tokenizer-budget planner
    * reads next to [[Bpe.encodeTokenCounts]].
    */
  def encode(docs: DataFrame, idCol: Column, textCol: Column,
             k: Int): DataFrame = {
    // per-doc word histogram: the ONE corpus pass — vocabulary
    // training re-aggregates it instead of re-scanning the corpus
    val wh = Materialize(docs
      .select(idCol.as("id"),
        explode(split(lower(trim(textCol)), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy("id", "word").agg(count(lit(1)).as("wcnt")))
    val v = vocabFromHistogram(
        wh.groupBy("word").agg(sum("wcnt").as("cnt")), k)
      .select(col("piece"), col("cost"))
    val words = wh.select("word").distinct()
    // piece grid over distinct words, joined to the (bounded) vocab
    val l = length(col("word"))
    val grid = flatten(transform(sequence(lit(1), l), i =>
      transform(sequence(lit(1), least(lit(MaxPieceLen), l - i + 1)),
        n => struct((i - 1).as("i0"), n.as("len"),
          substring(col("word"), i, n).as("piece")))))
    val pieces = words.select(col("word"), explode(grid).as("g"))
      .select(col("word"), col("g.i0").as("i0"), col("g.len").as("len"),
        col("g.piece").as("piece"))
      .join(broadcast(v), "piece")
      .groupBy("word")
      .agg(collect_list(struct(col("i0"), col("len"), col("cost"))).as("ps"))
    // Viterbi fold: best(j) = min over pieces ending at j of
    // best(i0) + (cost, 1), ordered by (cost, pieces); best is an
    // array built left-to-right (index j+1 holds position j)
    val dp = aggregate(
      sequence(lit(1), length(col("word"))),
      array(struct(lit(0L).as("c"), lit(0L).as("p"))),
      (acc, j) => concat(acc, array(array_min(
        transform(
          filter(col("ps"), x => x("i0") + x("len") === j),
          x => struct(
            (element_at(acc, x("i0").cast("int") + 1)("c") + x("cost")).as("c"),
            (element_at(acc, x("i0").cast("int") + 1)("p") + 1L).as("p")))))),
      acc => element_at(acc, -1))
    // fallback arm for words past the DP bound: single-char pieces
    val charCost = aggregate(
      filter(col("ps"), x => x("len") === 1),
      lit(0L), (a, x) => a + x("cost"))
    val wordCosts = pieces.select(col("word"),
      when(length(col("word")) <= MaxWordLen, dp)
        .otherwise(struct(charCost.as("c"),
          length(col("word")).cast("long").as("p"))).as("best"))
    wh.join(wordCosts, "word")
      .groupBy("id")
      .agg(sum(col("wcnt")).as("n_words"),
        sum(col("wcnt") * col("best.p")).as("n_pieces"),
        sum(col("wcnt") * col("best.c")).as("cost_total"))
  }

  /** DuckDB twin of [[encode]]: the identical vocabulary CTEs, the
    * identical piece grid over distinct words, and the Viterbi DP
    * unrolled as [[MaxWordLen]] chained CTE steps (per step: candidate
    * extensions ending at position j, a per-word argmin by
    * (cost, pieces), appended to the DP frontier).
    */
  def encodeSql(table: String, idExpr: String, textExpr: String,
                k: Int): String = {
    val steps = (1 to MaxWordLen).map { j =>
      s"""s$j AS MATERIALIZED (
         |  SELECT pc.word, d.c + pc.cost AS c, d.p + 1 AS p
         |  FROM p pc JOIN dp${j - 1} d ON d.word = pc.word AND d.j = pc.i0
         |  WHERE pc.i0 + pc.plen = $j),
         |b$j AS MATERIALIZED (
         |  SELECT word, c, p FROM (
         |    SELECT word, c, p,
         |      row_number() OVER (PARTITION BY word ORDER BY c, p) AS rn
         |    FROM s$j) WHERE rn = 1),
         |dp$j AS MATERIALIZED (
         |  SELECT * FROM dp${j - 1}
         |  UNION ALL SELECT word, $j AS j, c, p FROM b$j)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${vocabCtes(table, textExpr, k)},
       |dwh AS MATERIALIZED (
       |  SELECT id, word, CAST(count(*) AS BIGINT) AS wcnt FROM (
       |    SELECT $idExpr AS id,
       |      unnest(string_split_regex(lower(trim($textExpr)),
       |        '${TextAnalysis.WsClassSqlPublic}+')) AS word
       |    FROM $table)
       |  WHERE word <> '' GROUP BY 1, 2),
       |w AS MATERIALIZED (SELECT DISTINCT word FROM dwh),
       |p AS MATERIALIZED (
       |  SELECT g.word, g.i0, g.plen, v.cost FROM (
       |    SELECT word, CAST(i - 1 AS BIGINT) AS i0,
       |      CAST(n.range AS BIGINT) AS plen,
       |      substr(word, CAST(i AS INTEGER),
       |             CAST(n.range AS INTEGER)) AS piece
       |    FROM (SELECT word, unnest(range(1, len(word) + 1)) AS i FROM w),
       |         range(1, ${MaxPieceLen + 1}) n
       |    WHERE i + n.range - 1 <= len(word)) g
       |  JOIN vocab v ON g.piece = v.piece),
       |dp0 AS MATERIALIZED (
       |  SELECT word, CAST(0 AS BIGINT) AS j, CAST(0 AS BIGINT) AS c,
       |    CAST(0 AS BIGINT) AS p
       |  FROM w WHERE len(word) <= $MaxWordLen),
       |$steps,
       |res AS (
       |  SELECT d.word, d.c, d.p FROM dp$MaxWordLen d
       |  JOIN w ON d.word = w.word AND d.j = len(w.word)
       |  UNION ALL
       |  SELECT word, CAST(sum(cost) AS BIGINT) AS c, count(*) AS p
       |  FROM p WHERE plen = 1 AND len(word) > $MaxWordLen
       |  GROUP BY word)
       |SELECT id, CAST(sum(wcnt) AS BIGINT) AS n_words,
       |  CAST(sum(wcnt * r.p) AS BIGINT) AS n_pieces,
       |  CAST(sum(wcnt * r.c) AS BIGINT) AS cost_total
       |FROM dwh JOIN res r USING (word)
       |GROUP BY id""".stripMargin
  }
}
