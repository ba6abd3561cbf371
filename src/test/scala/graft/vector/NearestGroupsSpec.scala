package graft.vector

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[Knn.nearestGroups]] against the declarative form it replaces on
  * the serve path, `topK(bestPerGroup(...))`: same rows, same order,
  * under every partitioning.
  */
class NearestGroupsSpec extends AnyFunSuite with SparkSpec {

  private val schema = StructType(Seq(
    StructField("chunk_id", LongType), StructField("file_id", StringType),
    StructField("file_name", StringType), StructField("score", DoubleType)))

  /** Rows land in partitions in the given order, `parts` contiguous slices. */
  private def frame(rows: Seq[(Long, String, Double)], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (c, f, s) => Row(c, f, s"$f.pdf#$c", s) }, parts), schema)

  private def oracle(df: DataFrame, k: Int): Seq[Row] =
    Knn.topK(Knn.bestPerGroup(df, col("file_id"), col("chunk_id")), k, col("file_id"))
      .collect().toSeq

  private def assertParity(rows: Seq[(Long, String, Double)], k: Int, clue: String): Seq[Row] = {
    var last: Seq[Row] = Nil
    for (parts <- Seq(1, 8)) {
      val df = frame(rows, parts)
      assert(df.rdd.getNumPartitions == parts)
      val got = Knn.nearestGroups(df, k, col("file_id"), col("chunk_id")).toSeq
      assert(got == oracle(df, k), s"$clue, $parts partitions")
      last = got
    }
    last
  }

  private def chunkIds(rows: Seq[Row]): Seq[Long] = rows.map(_.getLong(0))

  test("score ties across files and within one file: the tie-breaks decide") {
    // f1 and f2 tie at 0.5; f1 holds two 0.5 chunks, so chunk 3 (not 7) is its best
    val rows = Seq((7L, "f1", 0.5), (5L, "f2", 0.5), (3L, "f1", 0.5), (9L, "f3", 0.9))
    val got = assertParity(rows, 2, "ties")
    assert(chunkIds(got) == Seq(3L, 5L))
  }

  test("a file's best chunk in a later partition still wins the file") {
    // 8 slices of 2 rows: f1's chunks sit in every slice, its best in the last
    val rows = (0 until 14).map(i => (i.toLong, if (i % 2 == 0) "f1" else s"g$i", 0.8 + i / 100.0)) ++
      Seq((100L, "g100", 0.7), (101L, "f1", 0.1))
    val got = assertParity(rows, 3, "spread")
    assert(chunkIds(got).head == 101L)
    assert(got.map(_.getString(1)).distinct.size == 3)
  }

  test("more than k files tied at the k-th score: the group key decides") {
    val rows = Seq((1L, "a", 0.1)) ++ (2 to 9).map(i => (i.toLong, s"t$i", 0.4)).reverse
    val got = assertParity(rows, 4, "k-th ties")
    assert(got.map(_.getString(1)) == Seq("a", "t2", "t3", "t4"))
  }

  test("k larger than the number of files, and an empty input") {
    val rows = Seq((1L, "a", 0.3), (2L, "b", 0.2), (3L, "a", 0.1))
    assert(chunkIds(assertParity(rows, 10, "k > files")) == Seq(3L, 2L))
    assert(assertParity(Nil, 5, "empty").isEmpty)
  }

  test("random inputs with heavy ties agree with the declarative form") {
    val rnd = new Random(11)
    for (trial <- 1 to 12) {
      val files = 1 + rnd.nextInt(30)
      val rows = rnd.shuffle((0 until 1 + rnd.nextInt(120)).map { i =>
        (i.toLong, s"f${rnd.nextInt(files)}", rnd.nextInt(6) / 4.0)
      })
      assertParity(rows, 1 + rnd.nextInt(7), s"trial $trial")
    }
  }

  test("NULL scores never rank") {
    val rows = Seq(Row(1L, "a", "a.pdf", null), Row(2L, "a", "a.pdf", 0.5),
      Row(3L, "b", "b.pdf", 0.2), Row(4L, "c", "c.pdf", null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val got = Knn.nearestGroups(df, 5, col("file_id"), col("chunk_id"))
    assert(got.map(_.getLong(0)).toSeq == Seq(3L, 2L))
  }

  test("a partition holds at most k groups, whatever it is fed") {
    val k = 5
    val st = new BestGroups[Int, (Double, Int, Long)](k, _._2,
      Ordering.by(r => (r._1, r._3)), Ordering.by(r => (r._1, r._2)), identity)
    val rnd = new Random(3)
    var maxHeld = 0
    val all = scala.collection.mutable.ArrayBuffer.empty[(Double, Int, Long)]
    for (i <- 0 until 30000) {
      // 12,000 groups, arriving worst-first on average so the set churns
      val r = (rnd.nextInt(1000) / 10.0 + (30000 - i) / 1000.0, rnd.nextInt(12000), i.toLong)
      st.offer(r)
      all += r
      maxHeld = math.max(maxHeld, st.retained)
    }
    assert(maxHeld == k)
    val want = all.toSeq.groupBy(_._2).values.map(_.minBy(r => (r._1, r._3)))
      .toSeq.sortBy(r => (r._1, r._2)).take(k)
    assert(st.ranked == want)
  }
}
