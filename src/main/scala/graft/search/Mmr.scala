package graft.search

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.DataFrame

/** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998)
  * — the diversity pass a retrieval serving layer runs AFTER the
  * vector top-k: greedily select k results maximizing
  * `λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)`, so near-duplicate hits
  * (the reference corpus's "two filings of the same case",
  * `/root/reference/extract_and_search.py:104-110`) don't crowd out
  * the result page. Complements the hybrid-RRF fusion in [[Hybrid]]:
  * RRF merges rankers, MMR de-redundifies one ranking.
  *
  * Distribution shape: MMR is sequential in k BY DEFINITION (each
  * pick changes the next pick's penalty), so the greedy loop runs
  * per-query inside `flatMapGroups` over a candidate POOL that is
  * bounded by construction (the upstream top-N; `maxPool` fails
  * loudly if a caller feeds an unbounded frame). Parallelism comes
  * from the query dimension — thousands of concurrent queries spread
  * across tasks, one bounded greedy loop each — never from sharing
  * one query's state across executors. Per-task cost is
  * O(k·N·dim + N·k) per query with NO pairwise-sim materialization:
  * each remaining candidate carries one running `max sim to selected`
  * scalar, updated incrementally after each pick.
  *
  * Determinism contract (the DuckDB twin replays the same fold):
  * query and pairwise cosines are HALF_UP-rounded to 4dp BEFORE the
  * score arithmetic; the score is literally `λ·qsim − (1−λ)·maxSim`
  * in doubles on both engines; ties break on ascending doc id; the
  * first pick's penalty term is 0.
  */
object Mmr {

  /** Input row: one candidate for one query. */
  final case class Cand(query_id: Long, doc_id: Long, emb: Array[Float],
                        qsim: Double)
  /** Output row: selection order + the score that won the step. */
  final case class Picked(query_id: Long, doc_id: Long, mmr_rank: Int,
                          mmr_score: Double)

  private def round4dp(x: Double): Double =
    new JBigDecimal(java.lang.Double.toString(x))
      .setScale(4, RoundingMode.HALF_UP).doubleValue()

  /** Sequential-accumulation cosine, rounded 4dp — bit-identical to
    * [[graft.vector.VectorKernels.Cosine]] and the oracle's
    * `list_cosine_similarity` at the rounded precision.
    */
  private def cos4(a: Array[Float], b: Array[Float]): Double = {
    val d = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < d) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    var j = d
    while (j < a.length) { val x = a(j).toDouble; na += x * x; j += 1 }
    var k = d
    while (k < b.length) { val y = b(k).toDouble; nb += y * y; k += 1 }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else round4dp(dot / denom)
  }

  /** Re-rank each query's candidate pool down to its k most
    * relevant-yet-diverse members. `cands` carries (query_id, doc_id,
    * emb, qsim) — qsim is the already-4dp-rounded query similarity the
    * pool was built with. Output: (query_id, doc_id, mmr_rank,
    * mmr_score), rank 1..k in selection order, score rounded 4dp.
    */
  def rerank(cands: DataFrame, k: Int, lambda: Double,
             maxPool: Int = 10000): DataFrame = {
    require(k > 0, "k must be positive")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0, 1]")
    val spark = cands.sparkSession
    import spark.implicits._
    val kk = k
    val lam = lambda
    val cap = maxPool
    cands.as[Cand]
      .groupByKey(_.query_id)
      .flatMapGroups { (qid, it) =>
        val pool = it.toArray
        require(pool.length <= cap,
          s"MMR pool for query $qid holds ${pool.length} rows (cap $cap): " +
            "bound the upstream top-N before re-ranking")
        // deterministic scan order so equal scores resolve to the
        // lowest doc id regardless of shuffle arrival order
        java.util.Arrays.sort(pool, Ordering.by((c: Cand) => c.doc_id))
        val n = pool.length
        val selected = new Array[Boolean](n)
        val maxSim = new Array[Double](n) // max sim to the selected set
        val out = Vector.newBuilder[Picked]
        var step = 1
        val picks = math.min(kk, n)
        while (step <= picks) {
          var best = -1
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (!selected(i)) {
              val s = lam * pool(i).qsim - (1.0 - lam) * maxSim(i)
              // strict > keeps the first (lowest-id) of equal scores
              if (s > bestScore) { bestScore = s; best = i }
            }
            i += 1
          }
          selected(best) = true
          out += Picked(qid, pool(best).doc_id, step, round4dp(bestScore))
          // one pass updates every remaining candidate's penalty
          var j = 0
          while (j < n) {
            if (!selected(j)) {
              val s = cos4(pool(j).emb, pool(best).emb)
              if (s > maxSim(j)) maxSim(j) = s
            }
            j += 1
          }
          step += 1
        }
        out.result().iterator
      }
      .toDF()
  }

  /** DuckDB twin of a single-query [[rerank]] over a pool built as
    * cosine top-`poolSize` of `table` against query vector `queryId` —
    * the same greedy fold as a recursive CTE: the anchor picks the
    * best relevance, each step's LATERAL argmax applies the identical
    * score expression over the not-yet-chosen pool.
    */
  def rerankSql(table: String, idExpr: String, embExpr: String,
                queryId: Long, poolSize: Int, k: Int,
                lambda: Double): String = {
    val lam = lambda
    val oneMinus = 1.0 - lambda
    s"""WITH RECURSIVE pool AS (
       |  SELECT * FROM (
       |    SELECT e.$idExpr AS doc_id, e.$embExpr AS embedding,
       |      ${graft.oracle.Sql.cosine(s"e.$embExpr", "q.q_emb")} AS qsim
       |    FROM $table e, (${graft.oracle.Sql.queryVector(queryId)}) q
       |    ORDER BY qsim DESC, doc_id LIMIT $poolSize)
       |), sel AS (
       |  SELECT * FROM (
       |    SELECT 1 AS mmr_rank, p.doc_id, $lam * p.qsim AS mmr_score,
       |      [p.doc_id] AS chosen
       |    FROM pool p ORDER BY p.qsim DESC, p.doc_id LIMIT 1)
       |  UNION ALL
       |  SELECT s.mmr_rank + 1, nxt.d, nxt.sc, list_append(s.chosen, nxt.d)
       |  FROM sel s, LATERAL (
       |    SELECT p.doc_id AS d,
       |      $lam * p.qsim - $oneMinus * (
       |        SELECT max(${graft.oracle.Sql.cosine("p.embedding", "p2.embedding")})
       |        FROM pool p2 WHERE list_contains(s.chosen, p2.doc_id)) AS sc
       |    FROM pool p WHERE NOT list_contains(s.chosen, p.doc_id)
       |    ORDER BY sc DESC, p.doc_id LIMIT 1) nxt
       |  WHERE s.mmr_rank < $k
       |)
       |SELECT doc_id, mmr_rank, round(mmr_score, 4) AS mmr_score
       |FROM sel""".stripMargin
  }
}
