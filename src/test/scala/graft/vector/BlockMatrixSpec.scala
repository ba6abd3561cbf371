package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.sources.Tables

/** Block-GEMM all-pairs cosine top-k vs the naive self-join + window
  * formulation, plus block-count invariance (the result must not
  * depend on the physical tiling).
  */
class BlockMatrixSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def corpus = Tables.embeddings(spark, dir).where(col("vec_id") < 60)

  private def brute(k: Int): DataFrame = {
    val e = corpus.select(col("vec_id").as("id"), col("embedding"))
    val w = Window.partitionBy("left_id").orderBy(col("score").desc, col("right_id").asc)
    e.as("l").join(e.as("r"), col("l.id") =!= col("r.id"))
      .select(col("l.id").as("left_id"), col("r.id").as("right_id"),
        round(Distance.cosine(col("l.embedding"), col("r.embedding")), 4).as("score"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  private def collectSorted(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select("left_id", "right_id", "score", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  test("chooseNumBlocks: tile-memory bound dominates the parallelism floor") {
    // tiny corpus → the floor wins
    assert(BlockMatrix.chooseNumBlocks(rows = 1000L, dim = 64) == 16)
    // 100M rows × 1536 dims ≈ 575 GB per side → memory bound wins:
    // ceil(575 GB / 256 MB) ≈ 2306 blocks, far above the floor
    val b = BlockMatrix.chooseNumBlocks(rows = 100000000L, dim = 1536)
    val sideBytes = 100000000L * (4L * 1536 + 40L)
    assert(b >= (sideBytes / (256L << 20)).toInt && b > 16)
    // block must fit the target tile size
    assert(sideBytes / b <= (256L << 20))
  }

  test("chooseBlockCounts: left split carries the memory bound, right split " +
    "the floor") {
    // huge buffered left vs small streamed right: bL is memory-driven,
    // bR collapses to 1 — square tiling would have replicated the right
    // side bL times for nothing
    val (bl1, br1) = BlockMatrix.chooseBlockCounts(
      leftRows = 100000000L, rightRows = 100000L, dim = 1536)
    val leftBytes = 100000000L * (4L * 1536 + 40L)
    assert(bl1 >= (leftBytes / (256L << 20)).toInt)
    assert(leftBytes / bl1 <= (256L << 20), "left block must fit the tile target")
    assert(br1 == 1, s"small streamed right needs no split, got $br1")
    // tiny left vs huge right: memory bound is trivially met at bL=1;
    // the right split supplies ALL parallelism and caps scan extent
    val (bl2, br2) = BlockMatrix.chooseBlockCounts(
      leftRows = 1000L, rightRows = 100000000L, dim = 128)
    assert(bl2 == 1)
    assert(br2 >= 16, "floor must be met through the right split")
    assert(100000000L / br2 <= 4000000L, "per-task scan extent must be capped")
    // tiles must always satisfy the parallelism floor
    assert(bl1.toLong * br1 >= 16 && bl2.toLong * br2 >= 16)
  }

  test("asymmetric tiling is result-identical to the square layout") {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding"))
    val left = emb.where(col("id") < 30)
    val square = collectSorted(BlockMatrix.l2Join(left, emb, k = 4, numBlocks = 4))
    val wideRight = collectSorted(BlockMatrix.l2JoinBlocks(left, emb, k = 4,
      leftBlocks = 1, rightBlocks = 13))
    val wideLeft = collectSorted(BlockMatrix.l2JoinBlocks(left, emb, k = 4,
      leftBlocks = 11, rightBlocks = 2))
    assert(wideRight == square)
    assert(wideLeft == square)
    val cosSquare = collectSorted(BlockMatrix.cosineTopK(corpus, col("vec_id"),
      col("embedding"), k = 3, numBlocks = 4))
    val cosAsym = collectSorted(BlockMatrix.cosineTopKBlocks(corpus, col("vec_id"),
      col("embedding"), k = 3, leftBlocks = 3, rightBlocks = 7))
    assert(cosAsym == cosSquare)
  }

  test("matches the brute-force window formulation exactly") {
    val blocked = BlockMatrix.cosineTopK(corpus, col("vec_id"), col("embedding"),
      k = 3, numBlocks = 4)
    assert(collectSorted(blocked) == collectSorted(brute(3)))
  }

  test("result is invariant to the block count") {
    val one = collectSorted(BlockMatrix.cosineTopK(corpus, col("vec_id"),
      col("embedding"), k = 3, numBlocks = 1))
    val seven = collectSorted(BlockMatrix.cosineTopK(corpus, col("vec_id"),
      col("embedding"), k = 3, numBlocks = 7))
    assert(one == seven)
  }

  test("null ids and embeddings are dropped, not ranked") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some(Array(1.0f, 0.0f))),
      (Some(2L), Some(Array(0.9f, 0.1f))),
      (Some(3L), Some(Array(0.0f, 1.0f))),
      (None: Option[Long], Some(Array(1.0f, 1.0f))),
      (Some(4L), None: Option[Array[Float]])
    ).toDF("id", "emb")
    val out = BlockMatrix.cosineTopK(df, col("id"), col("emb"), k = 2, numBlocks = 2)
    val leftIds = out.select("left_id").distinct().collect().map(_.getLong(0)).toSet
    assert(leftIds == Set(1L, 2L, 3L))
    assert(out.count() == 6) // 3 rows × 2 neighbors
  }

  test("k larger than the corpus emits all available neighbors") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 1.0f))).toDF("id", "emb")
    val out = BlockMatrix.cosineTopK(df, col("id"), col("emb"), k = 10, numBlocks = 2)
    assert(out.count() == 6) // each row has only 2 possible neighbors
  }

  test("l2Join matches the compositional broadcast similarity join exactly") {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding"))
    val left = emb.where(col("id") < 30)
    val viaWindow = collectSorted(
      Knn.similarityJoin(left, emb, k = 4))
    val viaBlocks = collectSorted(
      BlockMatrix.l2Join(left, emb, k = 4, numBlocks = 4))
    assert(viaBlocks == viaWindow)
    // identity pairs are included (score 0 at rank 1), like the
    // compositional form
    assert(viaBlocks.count { case (l, r, s, rk) => l == r && s == 0.0 && rk == 1 } == 30)
  }

  test("block occupancy stays bounded under adversarial strided ids") {
    // ids that are all ≡ 0 (mod b) — the distribution a plain `id % b`
    // residue collapses into ONE block (task memory = whole corpus,
    // chooseNumBlocks notwithstanding). The scrambled blockId must
    // spread them: with n = 64·b balanced assignment is mean n/b = 64
    // rows/block; cap occupancy at 3× the mean and require every block
    // non-empty.
    val b = 16
    val n = 64 * b
    val strided = (0 until n).map(i => i.toLong * b) // multiples of b
    val counts = strided.groupBy(BlockMatrix.blockId(_, b)).view.mapValues(_.size)
    assert(counts.size == b, s"only ${counts.size} of $b blocks populated")
    val worst = counts.values.max
    assert(worst <= 3 * (n / b), s"worst block holds $worst of $n rows")
    // same property for power-of-two strides (snowflake-style ids)
    val pow2 = (0 until n).map(i => i.toLong << 20)
    val worst2 = pow2.groupBy(BlockMatrix.blockId(_, b)).values.map(_.size).max
    assert(worst2 <= 3 * (n / b), s"worst block holds $worst2 of $n rows")
  }

  test("adversarial ids produce identical results to the window formulation") {
    // strided ids through the full tiled join — correctness must be
    // independent of how badly the raw residues would have clustered
    val emb = Tables.embeddings(spark, dir)
      .select((col("vec_id") * 16).as("id"), col("embedding"))
    val left = emb.where(col("id") < 480) // 30 rows, ids 0,16,…,464
    val viaWindow = collectSorted(Knn.similarityJoin(left, emb, k = 3))
    val viaBlocks = collectSorted(
      BlockMatrix.l2Join(left, emb, k = 3, numBlocks = 16))
    assert(viaBlocks == viaWindow)
  }

  test("similarityJoinAuto dispatches by right-side size with identical results") {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding"))
    val left = emb.where(col("id") < 10)
    val small = graft.plans.BroadcastKnn.similarityJoinAuto(left, emb, k = 3)
    assert(small.queryExecution.executedPlan.toString.contains("BroadcastKnn"),
      "small right side must take the custom broadcast exec")
    // force the block route with a 1-row budget
    val large = graft.plans.BroadcastKnn.similarityJoinAuto(left, emb, k = 3,
      maxBroadcastRows = 1L)
    assert(!large.queryExecution.executedPlan.toString.contains("BroadcastKnn"))
    assert(collectSorted(small) == collectSorted(large))
  }
}
