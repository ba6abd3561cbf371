package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Components, LabelProp}
import graft.operators.PageRank
import graft.text.Bpe

/** The pin lifecycle of the iterative operators: once a loop returns and
  * its caller releases the result, no persisted RDD is left, and a late
  * round plans as many nodes as round 2.
  */
class MaterializeSpec extends AnyFunSuite with SparkSpec {

  private def nodes(p: LogicalPlan): Int = p.collect { case n => n }.size
  private def planSize(df: DataFrame): Int = nodes(df.queryExecution.analyzed)
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A path graph 0-1-...-n as (id_a, id_b) edges and its (id) nodes. */
  private def path(n: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    ((0L until n.toLong).map(i => (i, i + 1)).toDF("id_a", "id_b"),
      (0L to n.toLong).toDF("id"))
  }

  /** Runs `build` at rounds 2 and `n`: checks each released result
    * leaves no persisted RDD behind, and returns both plan sizes.
    */
  private def releasedPlanSizes(n: Int)(build: Int => DataFrame): (Int, Int) = {
    def one(rounds: Int): Int = {
      val before = persisted
      val out = build(rounds)
      out.collect()
      val size = planSize(out)
      Materialize.release(out)
      assert(persisted == before,
        s"pins left after releasing the $rounds-round result: ${persisted -- before}")
      size
    }
    (one(2), one(n))
  }

  test("PageRank: a released result leaves no pin, and round N plans as many nodes as round 2") {
    val (edges, _) = path(6)
    val (two, n) = releasedPlanSizes(7)(r => PageRank.pagerank(edges, iters = r, checkpointEvery = 1))
    assert(n == two, s"round 7 plans $n nodes, round 2 plans $two")
  }

  test("LabelProp: a released result leaves no pin, and round N plans as many nodes as round 2") {
    val (edges, ids) = path(6)
    val (two, n) = releasedPlanSizes(7)(r =>
      LabelProp.labelPropagation(ids, edges, rounds = r, checkpointEvery = 1))
    assert(n == two, s"round 7 plans $n nodes, round 2 plans $two")
  }

  test("distributed connected components: a released result leaves no pin, and round N plans as many nodes as round 2") {
    // a path of n edges converges in n + 1 rounds of min-label propagation
    val (two, n) = releasedPlanSizes(7) { rounds =>
      val (edges, ids) = path(rounds - 1)
      Components.connectedComponents(ids, edges, localEdgeLimit = 0)
    }
    assert(n == two, s"round 7 plans $n nodes, round 2 plans $two")
  }

  test("BPE merges past the checkpoint cadence leave no pin and no checkpoint file, and round N plans as many nodes as round 2") {
    import spark.implicits._
    val docs = Seq("low lower lowest", "newer newest wider", "low low new wide").toDF("text")
    val rounds = ArrayBuffer.empty[Int]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect") rounds.synchronized { rounds += nodes(qe.analyzed) }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val before = persisted
    spark.listenerManager.register(listener)
    val merges = try {
      val m = Bpe.trainMerges(docs, col("text"), steps = 6, checkpointEvery = 2).collect()
      // the listener bus is asynchronous: wait for the 6 rounds and the final collect
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (rounds.synchronized(rounds.size) < 7 && System.nanoTime() < deadline) Thread.sleep(50)
      m
    } finally spark.listenerManager.unregister(listener)
    assert(merges.length == 6)
    assert(persisted == before, s"pins left after trainMerges: ${persisted -- before}")
    val files = spark.sparkContext.getCheckpointDir.toSeq.flatMap(d =>
      Option(new java.io.File(new org.apache.hadoop.fs.Path(d).toUri.getPath).list()).toSeq.flatten)
    assert(files.isEmpty, s"checkpoint files left after trainMerges: $files")
    val perRound = rounds.synchronized(rounds.take(6).toList)
    assert(perRound.length == 6, s"saw ${perRound.length} rounds")
    assert(perRound(5) == perRound(1), s"round plan sizes $perRound")
  }
}
