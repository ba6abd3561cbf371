package graft.dedup

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Synchronous label propagation over a near-duplicate pair graph —
  * the COMMUNITY view that complements [[Components]]' connectivity
  * view: connected components glue everything a chain of weak bridges
  * can reach into one cluster, while majority-vote propagation lets
  * densely-linked groups keep distinct labels across a thin bridge —
  * the granularity a curation pipeline wants when near-dup "clusters"
  * are really several boilerplate families sharing a template edge
  * (no reference analog; §2.7 extension surface, cf. Raghavan et
  * al.'s label propagation community detection, 2007).
  *
  * Determinism contract (sync LPA is famously order-sensitive; this
  * form is not): all nodes update TOGETHER each round from the
  * previous round's labels (Jacobi, not Gauss-Seidel), each node
  * takes the most frequent label among its neighbors with ties broken
  * by MINIMUM label, and the round count is FIXED — the surface is
  * "labels after exactly `rounds` synchronous rounds", which the
  * DuckDB twin replays as unrolled CTEs. (Synchronous majority voting
  * can 2-cycle on bipartite-ish structure rather than converge;
  * a fixed-round surface makes that a non-issue, and near-dup graphs
  * are clique-ish where 3-4 rounds stabilize.)
  *
  * Scale shape, per round: one equi-join of the symmetrized edge list
  * against the (node, label) frame, one (src, label) count aggregate
  * (map-side partial), one max_by argmax per node — bounded by degree,
  * never corpus-wide — and a left join back to the node frame.
  * Labels are pinned on a cadence (the [[graft.operators.PageRank]]
  * shape) so the plan stays flat at any round count.
  */
object LabelProp {

  /** Communities after `rounds` synchronous majority-vote rounds.
    * `nodes`: (id); `edges`: (id_a, id_b) undirected, self-pair-free.
    * Isolated nodes keep their own id. Returns (id, community).
    *
    * Each round's labels feed exactly ONE consumer (the next round's
    * vote join), so per-round materialization buys nothing — the pin
    * exists only to keep the plan flat at deep round counts. Pin at a
    * cadence instead (the [[graft.operators.PageRank]]
    * `checkpointEvery` shape): between pins the rounds unroll lazily
    * into one plan and execute once, and a superseded pin is released
    * as soon as the next lands (its blocks otherwise stay in the block
    * manager as long as the result's lineage).
    */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
                       rounds: Int = 4, checkpointEvery: Int = 2): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val e0 = Materialize(edges.select(col("id_a"), col("id_b")))
    val sym = e0.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(e0.select(col("id_b").as("src"), col("id_a").as("dst")))
    val n0 = Materialize(nodes.select(col("id")))
    var labels = n0.select(col("id"), col("id").as("lbl"))
    var prevCkpt: Option[DataFrame] = None
    for (t <- 1 to rounds) {
      val votes = sym
        .join(labels.select(col("id").as("dst"), col("lbl")), "dst")
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("cnt"))
      // argmax by (count desc, label asc): max over struct(cnt, -lbl)
      val winners = votes.groupBy(col("src"))
        .agg(max_by(col("lbl"),
          struct(col("cnt"), (-col("lbl")).as("nl"))).as("w"))
      labels = n0
        .join(winners.select(col("src").as("id"), col("w")), Seq("id"), "left")
        .select(col("id"), coalesce(col("w"), col("id")).as("lbl"))
      if (t % checkpointEvery == 0 && t < rounds) {
        val ck = Materialize(labels) // eager: materialized now
        prevCkpt.foreach(Materialize.release(_))
        prevCkpt = Some(ck)
        labels = ck
      }
    }
    labels.select(col("id"), col("lbl").as("community"))
  }

  /** DuckDB twin of [[labelPropagation]] — the identical rounds
    * unrolled as CTEs (window argmax mirrors the max_by tie-break).
    * `edgesSql` must yield (id_a, id_b); `nodesSql` must yield (id).
    */
  def labelPropagationSql(nodesSql: String, edgesSql: String,
                          rounds: Int = 4): String = {
    val steps = (1 to rounds).map { t =>
      s"""v$t AS (
         |  SELECT s.src, l.lbl, count(*) AS cnt
         |  FROM sym s JOIN l${t - 1} l ON s.dst = l.id GROUP BY 1, 2),
         |a$t AS (
         |  SELECT src, lbl FROM (
         |    SELECT src, lbl,
         |      row_number() OVER (PARTITION BY src ORDER BY cnt DESC, lbl) AS rn
         |    FROM v$t) WHERE rn = 1),
         |l$t AS (
         |  SELECT n.id, coalesce(a.lbl, n.id) AS lbl
         |  FROM n LEFT JOIN a$t a ON n.id = a.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($edgesSql),
       |sym AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM e
       |  UNION ALL SELECT id_b, id_a FROM e),
       |n AS MATERIALIZED (SELECT id FROM ($nodesSql)),
       |l0 AS (SELECT id, id AS lbl FROM n),
       |$steps
       |SELECT id, lbl AS community FROM l$rounds""".stripMargin
  }
}
