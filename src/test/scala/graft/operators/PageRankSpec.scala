package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class PageRankSpec extends AnyFunSuite with SparkSpec {

  /** Driver-side twin of the scaled-integer recurrence. */
  private def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rank = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val contribs = sym.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
        rank(u) * 850L / (deg(u) * 1000L)
      }.sum).toMap
      rank = deg.keys.map(v => v -> (150000L + contribs.getOrElse(v, 0L))).toMap
    }
    rank
  }

  test("pagerank: hub outranks leaves and matches the integer recurrence exactly") {
    import spark.implicits._
    // star with a 2-path appendage: 1 is the hub
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L))
    val out = PageRank.pagerank(e.toDF("id_a", "id_b"), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = reference(e, 5)
    assert(out == ref, s"spark=$out ref=$ref")
    assert(out(1L) > out(2L) && out(1L) > out(5L), out.toString)
    // leaves hanging off the hub are symmetric
    assert(out(2L) == out(3L))
  }

  test("pagerank is partitioning-invariant (exact equality, no tolerance)") {
    import spark.implicits._
    val e = (0L until 60L).map(i => (i % 20L, 20L + i % 7L))
    val once = PageRank.pagerank(e.toDF("id_a", "id_b"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val again = PageRank.pagerank(e.toDF("id_a", "id_b").repartition(13), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(once == again)
    assert(once == reference(e, 4))
  }

  test("deep iteration (20 rounds): exact, and lineage bounded by the cadence") {
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L), (5L, 6L), (2L, 6L))
    val df = PageRank.pagerank(e.toDF("id_a", "id_b"), iters = 20,
      checkpointEvery = 5)
    // rank checkpoints at t = 5/10/15 truncate the plan: the final
    // lineage holds only the last 5 join-agg rounds, not all 20
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size
    assert(joins <= 5, s"expected <= 5 joins in the post-checkpoint lineage, got $joins")
    val out = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == reference(e, 20))
  }

  test("pagerank rejects out-of-range iteration counts") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      PageRank.pagerank(Seq((1L, 2L)).toDF("id_a", "id_b"), iters = 0)
    }
  }
}
