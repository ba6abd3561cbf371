package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Connected components over a near-duplicate pair graph — the step
  * every dedup pipeline needs AFTER pair generation: pairs chain
  * (A≈B, B≈C but A̸≈C), so "drop one of each pair" over-deletes and
  * under-deletes; the correct unit of deletion is the component, with
  * one keeper per component (the reference has no dedup at all; this
  * is the §2.7 extension surface).
  *
  * Algorithm: minimum-label propagation (the dataframe form of
  * small-star — cf. the MapReduce connected-components literature):
  * every node starts labeled with its own id; each round every node
  * takes the min label over itself and its neighbors; converged when
  * no label changes. Rounds = graph diameter, and each round is one
  * hash-join + partial-aggregation pass — no driver-side graph, no
  * vertex state beyond (node, label), so the pass scales like any
  * other aggregation. Near-dup graphs are clique-ish (diameter 1-3),
  * so in practice 2-4 rounds; `maxIters` bounds pathological chains,
  * and hitting it raises rather than silently emitting a partial
  * clustering.
  */
object Components {

  /** Connected components of the undirected graph given by `edges`
    * (columns `id_a`, `id_b`). Returns (id, component) where
    * `component` is the minimum node id reachable. The vertex set is
    * `nodes` ∪ edge endpoints — endpoints are implicitly nodes (both
    * routes propagate THROUGH them), but only ids present in `nodes`
    * appear in the output (pass the full corpus ids to include
    * singletons).
    *
    * Route dispatch: the edge multiset is materialized once (the
    * distributed loop needs that anyway for lineage truncation), and
    * its now-cheap count picks the route. At or below
    * `localEdgeLimit` integral-id edges, the component structure is
    * solved by a driver union-find over edge ENDPOINTS only — the
    * corpus-sized `nodes` frame never leaves the cluster; endpoint
    * labels come back as one broadcast join and singletons label
    * themselves. Above the limit (or for non-integral ids), the
    * iterative min-label propagation runs. The local route is the
    * common case for CONTRACTED graphs ([[incrementalComponents]])
    * and near-dup graphs after thresholding, where edges ≪ corpus;
    * the distributed route is the 100 TB guarantee.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIters: Int = 20,
                          localEdgeLimit: Long = 2000000L): DataFrame = {
    // Materialize the edge set ONCE, before symmetrizing: edge mining
    // is typically the expensive part (a similarity join), and a
    // union's two branches would otherwise each recompute it. The
    // pin also provides the count that picks the route.
    val e0 = Materialize(edges.select(col("id_a"), col("id_b")))
    // long ids only: a cast would change the output schema vs the
    // distributed route (which preserves the id type)
    val longIds = e0.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && e0.count() <= localEdgeLimit) {
      val spark = nodes.sparkSession
      import spark.implicits._
      val pairs = e0.as[(Long, Long)].collect()
      Materialize.release(e0)
      val lblDf = unionFindMinLabels(pairs).toSeq.toDF("id", "__cc_label")
      return nodes.select(col("id"))
        .join(broadcast(lblDf), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("__cc_label"), col("id")).as("component"))
    }
    // one pin per round: an iterative dataframe loop otherwise DOUBLES
    // its logical plan every round (labels appears in both the join
    // and the convergence check). sym is a cheap narrow union,
    // recomputed per round from e0's blocks.
    val sym = e0.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(e0.select(col("id_b").as("src"), col("id_a").as("dst")))
    // seed labels over nodes ∪ endpoints: propagation must pass
    // THROUGH endpoints absent from `nodes` (the union-find route
    // does so by construction; without this the routes would diverge)
    var labels = Materialize(nodes.select(col("id"))
      .unionAll(e0.select(col("id_a").as("id")))
      .unionAll(e0.select(col("id_b").as("id")))
      .distinct()
      .select(col("id"), col("id").as("component")))
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // each node adopts the min label among itself and its neighbors;
      // the `changed` flag rides along so convergence is a count over
      // the already-materialized pin, not an extra join
      val fromNeighbors = sym
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("component", "n_component"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("n_component").as("n_component"))
      val next = Materialize(labels.join(fromNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("component"),
            coalesce(col("n_component"), col("component"))).as("component"),
          (col("n_component") < col("component")).as("changed")),
        eager = false)
      // ONE job per round: the count both computes the lazy pin and
      // decides convergence
      converged = next.where(col("changed")).count() == 0L
      // release the superseded round: its blocks would otherwise stay
      // as long as the result's lineage (∝ rounds × labels)
      Materialize.release(labels)
      labels = next.select("id", "component")
      it += 1
    }
    Materialize.release(e0)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds " +
          "(graph diameter exceeds the bound); raise maxIters")
    // backed by the FINAL round's pin only, which the caller releases.
    // Restrict the output to `nodes` (implicit endpoints carried labels
    // internally but are not part of the caller's vertex set).
    labels.join(nodes.select(col("id")), Seq("id"), "left_semi")
  }

  /** Driver union-find over edge endpoints, labels = min member id.
    * Unioning always hangs the LARGER root under the smaller, so every
    * root IS its set's minimum — no relabel pass. Path compression
    * keeps finds amortized near-constant at the sizes the dispatch
    * admits. Result order never matters: the labeling is a pure
    * function of the edge SET.
    */
  private def unionFindMinLabels(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keysIterator.map(k => k -> find(k)).toMap
  }

  /** Incremental label maintenance: fold a DELTA edge batch into an
    * existing `(id, component)` labeling WITHOUT re-propagating over
    * the full graph — the streaming-ingest counterpart of
    * [[connectedComponents]] (new documents arrive, near-dup pairs
    * against the corpus are mined incrementally, clusters must follow).
    *
    * Key property: a new edge can only MERGE existing components (or
    * attach new nodes); it never splits one. So contract each previous
    * component to a super-node (its label), run full propagation on
    * the contracted delta graph — whose size is ∝ the delta, not the
    * corpus — and apply the resulting relabel map back with one
    * broadcast join over the big label table. Labels stay canonical
    * (min member id): previous labels are the min of their sets, so
    * the min over merged super-nodes is the global min.
    *
    * Scale shape: one pass over `deltaEdges` (two lookups against
    * `prevLabels` — hash joins on id), one iterative pass over the
    * contracted graph (delta-sized), one broadcast hash join over
    * `prevLabels` (the relabel map is delta-sized — broadcastable by
    * construction). The corpus-sized table is touched exactly once,
    * shuffle-free on the broadcast side.
    */
  def incrementalComponents(prevLabels: DataFrame,
                            deltaEdges: DataFrame,
                            maxIters: Int = 20): DataFrame =
    incrementalPlan(prevLabels, deltaEdges, maxIters)._1

  /** [[incrementalComponents]], materialized: the new labels pinned and
    * the fold's own pins (the contracted edge set, the contracted
    * propagation) released, so repeated folds keep one labels table.
    */
  def foldInto(prevLabels: DataFrame, deltaEdges: DataFrame,
               maxIters: Int = 20): DataFrame =
    fold(prevLabels, deltaEdges, maxIters, Materialize(_))

  /** [[foldInto]], pinning with `pin`: [[Materialize.reliably]] for
    * [[graft.streaming.ClusterMaintainer]], which folds without bound.
    */
  private[graft] def fold(prevLabels: DataFrame, deltaEdges: DataFrame,
                          maxIters: Int, pin: DataFrame => DataFrame): DataFrame = {
    val (res, temps) = incrementalPlan(prevLabels, deltaEdges, maxIters)
    val out = pin(res)
    Materialize.release(temps: _*)
    out
  }

  /** Shared fold plan: (result, pinned intermediates to release once the
    * result is materialized).
    */
  private def incrementalPlan(prevLabels: DataFrame,
                              deltaEdges: DataFrame,
                              maxIters: Int): (DataFrame, List[DataFrame]) = {
    val prev = prevLabels.select(col("id"), col("component"))
    // map each delta endpoint to its super-node: its previous
    // component, or itself when the node is new
    // pinned: the contracted edge set is referenced by the node
    // derivation, the propagation, and (via relabel) two downstream
    // joins — without it each reference re-runs the prev-label joins.
    // Delta-sized by construction.
    val e = Materialize(deltaEdges
      .join(prev.select(col("id").as("id_a"), col("component").as("ca")),
        Seq("id_a"), "left")
      .join(prev.select(col("id").as("id_b"), col("component").as("cb")),
        Seq("id_b"), "left")
      .select(coalesce(col("ca"), col("id_a")).as("id_a"),
        coalesce(col("cb"), col("id_b")).as("id_b")))
    val contractedEdges = e.where(col("id_a") =!= col("id_b"))
    val contractedNodes = e.select(col("id_a").as("id"))
      .unionAll(e.select(col("id_b").as("id"))).distinct()
    // (super, merged) for every super-node touched by the delta
    val ccLabels = connectedComponents(contractedNodes, contractedEdges, maxIters)
    val relabel = ccLabels
      .select(col("id").as("component"), col("component").as("merged"))
    val updatedOld = prev
      .join(broadcast(relabel), Seq("component"), "left")
      .select(col("id"), coalesce(col("merged"), col("component")).as("component"))
    // delta endpoints absent from prevLabels are NEW nodes: their
    // super-node is their own id, so the relabel map already carries
    // their final component
    val newNodes = deltaEdges.select(col("id_a").as("id"))
      .unionAll(deltaEdges.select(col("id_b").as("id"))).distinct()
      .join(prev.select(col("id")), Seq("id"), "left_anti")
      .join(broadcast(relabel.select(col("component").as("id"), col("merged"))),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("merged"), col("id")).as("component"))
    // releasables: e's pin, plus whatever backs the contracted
    // propagation result (its plan reaches e and, on the distributed
    // route, its own final-round pin)
    (updatedOld.unionAll(newNodes), List(e, ccLabels))
  }

  /** End-to-end duplicate-cluster collapse: near-dup pairs → connected
    * components → one keeper (min id) per component. Emits every
    * clustered document with its cluster id and keeper flag; singleton
    * documents (no near-dup) are omitted — they are all keepers.
    */
  /** Quality-aware keeper selection: given cluster labels `(id,
    * cluster_id)` and per-document scores `(id, score)`, pick each
    * cluster's highest-scoring member (ties to the LOWEST id — the
    * deterministic fallback that reduces to [[dupClusters]]' min-id
    * keeper under constant scores). THE curation refinement over
    * "keep the smallest id": near-dup clusters routinely contain one
    * clean original and several truncated or boilerplate-wrapped
    * copies, and the keeper should be the best one, not the first
    * one. ONE max_by hash aggregate — map-side partial, shuffle ≤ 1
    * candidate per (task, cluster), the same shape as
    * [[graft.operators.Upsert.latestByKey]].
    *
    * Members missing from `scores` still count toward `n_members`
    * (left join) but can never win keeper selection unless the whole
    * cluster is unscored — then the keeper falls back to the min id
    * and `keeper_score` is null.
    */
  def keeperByScore(clusterLabels: DataFrame,
                    scores: DataFrame): DataFrame =
    clusterLabels.select(col("id"), col("cluster_id"))
      .join(scores.select(col("id"), col("score")), Seq("id"), "left")
      .groupBy("cluster_id")
      .agg(
        max_by(col("id"),
            struct(coalesce(col("score"), lit(Double.NegativeInfinity)).as("s"),
              (-col("id")).as("ni")))
          .as("keeper_id"),
        max(col("score")).as("keeper_score"),
        count(lit(1)).as("n_members"))

  def dupClusters(corpus: DataFrame, idCol: Column, textCol: Column,
                  minJaccard: Double = 0.5): DataFrame = {
    // pin the mined pairs HERE: both the node derivation below and
    // connectedComponents reference the edge frame more than once, and
    // each unpinned reference would re-run the similarity join. The
    // pin is edge-sized and the result's plan reads it, so releasing
    // the result releases it too.
    val edges = Materialize(Dedup.ngramJaccardPairsPrefix(corpus, idCol, textCol,
      minJaccard = minJaccard).select("id_a", "id_b"))
    val nodes = edges.select(col("id_a").as("id"))
      .unionAll(edges.select(col("id_b").as("id"))).distinct()
    connectedComponents(nodes, edges)
      .select(col("id"), col("component").as("cluster_id"),
        (col("id") === col("component")).as("is_keeper"))
  }
}
