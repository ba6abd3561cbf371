package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.vector.Distance

/** Coreset / diversity selection over an embedding corpus — k-center
  * greedy (farthest-point traversal): start from a deterministic seed,
  * repeatedly add the point farthest from everything chosen so far.
  * The selected set is a 2-approximation of the optimal k-center
  * cover, and the last selection distance IS the achieved coverage
  * radius — the standard coreset/active-learning selection primitive
  * (Gonzalez's farthest-point heuristic; Sener & Savarese's k-Center
  * coreset) a training-data pipeline uses to pick a diverse subset
  * instead of a uniform sample. The reference has nothing in this
  * family — north-star extension surface beside the dedup/sampling
  * operators.
  *
  * Scale shape: the INCREMENTAL form — maintain each point's distance
  * to its nearest chosen center as a column, update it with ONE new
  * center per round (`least(mind, d(e, new))`, a narrow codegen map),
  * take the global argmax with a 1-row TakeOrdered. Cost is k narrow
  * scans + k tiny reductions — never the k·n² of recomputing
  * min-over-chosen per round, no shuffle at all (the argmax is a
  * reduction). A pin per round keeps the plan flat. At 100 TB the
  * k scans are the algorithm's real cost and stream at IO speed; the
  * standard practice for huge corpora — run the greedy over a
  * cluster-stratified sample — composes from [[graft.vector.Ann]]'s
  * assignment plus this routine unchanged.
  *
  * Determinism: per-pair distances round to 4dp (the house continuous-
  * value contract) and argmax ties break on ascending id, so both
  * engines select identical centers.
  *
  * @return (step, id, dist) — selection order, chosen point, and its
  *         min-distance-to-previous-centers at selection time (step 1
  *         = the seed, dist 0). `dist` of the LAST row bounds the
  *         corpus' distance to the selected set (coverage radius).
  */
object Coreset {

  def kCenterGreedy(corpus: DataFrame, idCol: Column, embCol: Column,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val pts = Materialize(corpus.select(idCol.cast("long").as("id"),
      embCol.cast("array<float>").as("e")))
    val seed = pts.orderBy("id").limit(1).collect()
    require(seed.nonEmpty, "corpus is empty")
    val seedId = seed(0).getLong(0)
    val seedE = seed(0).getSeq[Float](1)
    var chosen = List((1, seedId, 0.0))
    var chosenIds = Set(seedId)
    var state = Materialize(pts.withColumn("mind",
      round(Distance.l2(col("e"), typedLit(seedE)), 4)))
    var step = 2
    while (step <= k) {
      val win = state.where(!col("id").isInCollection(chosenIds))
        .orderBy(desc("mind"), asc("id")).limit(1)
        .select(col("id"), col("mind"), col("e")).collect()
      if (win.isEmpty) {
        step = k + 1 // fewer than k points: stop with what exists
      } else {
        val (wid, wmind, we) =
          (win(0).getLong(0), win(0).getDouble(1), win(0).getSeq[Float](2))
        chosen ::= ((step, wid, wmind))
        chosenIds += wid
        // the superseded round is no longer read: release it
        val next = Materialize(state.withColumn("mind",
          least(col("mind"), round(Distance.l2(col("e"), typedLit(we)), 4))))
        Materialize.release(state)
        state = next
        step += 1
      }
    }
    Materialize.release(pts, state)
    chosen.reverse.toDF("step", "id", "dist")
  }

  /** DuckDB twin of [[kCenterGreedy]] over `table`: the k rounds
    * UNROLLED as chained materialized CTEs (no recursion — each round
    * is one scalar-subquery distance update + one argmax), identical
    * 4dp rounding and id tie-break.
    */
  def kCenterGreedySql(table: String, idExpr: String, embExpr: String,
                       k: Int): String = {
    require(k >= 1 && k <= 64, "oracle unrolling supports 1 <= k <= 64")
    def l2(a: String, b: String): String =
      s"round(list_distance(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])), 4)"
    val sb = new StringBuilder
    sb.append(s"WITH p AS MATERIALIZED (SELECT $idExpr AS id, " +
      s"$embExpr AS e FROM $table),\n")
    sb.append("c1 AS MATERIALIZED (SELECT min(id) AS id, 0.0 AS mind FROM p),\n")
    sb.append("d1 AS MATERIALIZED (SELECT p.id, " +
      l2("p.e", "(SELECT p2.e FROM p p2 JOIN c1 ON p2.id = c1.id)") +
      " AS mind FROM p),\n")
    (2 to k).foreach { i =>
      val prevD = s"d${i - 1}"
      val inPrev = (1 until i).map(j => s"SELECT id FROM c$j").mkString(" UNION ALL ")
      sb.append(s"c$i AS MATERIALIZED (SELECT id, mind FROM $prevD " +
        s"WHERE id NOT IN ($inPrev) ORDER BY mind DESC, id LIMIT 1),\n")
      if (i < k)
        sb.append(s"d$i AS MATERIALIZED (SELECT $prevD.id, least($prevD.mind, " +
          l2("p.e", s"(SELECT p2.e FROM p p2 JOIN c$i ON p2.id = c$i.id)") +
          s") AS mind FROM $prevD JOIN p ON $prevD.id = p.id),\n")
    }
    val unions = (1 to k).map(i =>
      s"SELECT $i AS step, id, CAST(mind AS DOUBLE) AS dist FROM c$i")
      .mkString("\nUNION ALL\n")
    // drop the trailing comma of the last CTE
    val withs = sb.toString.stripSuffix(",\n")
    s"$withs\n$unions\nORDER BY step"
  }
}
