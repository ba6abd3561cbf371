package graft.embed

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[DeterministicEmbedder]] pinned bit for bit: a digest of every
  * component's raw float bits, per text and dimension, and a plan whose
  * size does not grow with the vector width.
  */
class EmbedderSpec extends AnyFunSuite with SparkSpec {

  private val long3000 = Iterator.iterate(0)(_ + 1).map(i => ('a' + i * 7 % 26).toChar)
    .take(3000).mkString
  private val texts: Seq[(String, Option[String])] = Seq(
    "empty" -> Some(""),
    "a" -> Some("a"),
    "3000 chars" -> Some(long3000),
    "non-ASCII" -> Some("Tribunal — décision n° 7: 判决 ✓ Ωμέγα"),
    "NULL" -> None)

  /** Vectors per text, from a local relation (which the optimizer folds,
    * so the interpreted path computes them) and from an RDD scan (which
    * runs the generated code).
    */
  private def vectors(dim: Int): Seq[(String, Seq[Seq[Float]])] = {
    import spark.implicits._
    val local = texts.map(_._2).zipWithIndex.toDF("text", "i")
    val scanned = spark.createDataFrame(local.rdd, local.schema)
    Seq("interpreted" -> local, "generated" -> scanned).map { case (path, df) =>
      path -> df.select(col("i"), DeterministicEmbedder(dim).embed(col("text")).as("e"))
        .collect().sortBy(_.getInt(0)).map(_.getSeq[Float](1)).toSeq
    }
  }

  private def digest(v: Seq[Float]): String = {
    val buf = ByteBuffer.allocate(4 * v.length)
    v.foreach(f => buf.putInt(java.lang.Float.floatToRawIntBits(f)))
    MessageDigest.getInstance("SHA-256").digest(buf.array)
      .take(8).map("%02x".format(_)).mkString
  }

  // Captured from the unrolled per-dimension `array(...)` form that the
  // one-node kernel replaced: the first 8 bytes of SHA-256 over the
  // big-endian `floatToRawIntBits` of each component, in `texts` order.
  private val pinned = Map(
    16 -> Seq("411bd3f76c0d10a8", "f2f8e5f9bf101b2f", "9b9ca304406dd589",
      "3e22ce2ff2b4abce", "cec0c85182788986"),
    1536 -> Seq("d7522944b596f899", "3a0540c34d2205f8", "fce59fad85322f2b",
      "c6a2399deab77900", "dc1ae47ef0978362"))

  for (dim <- Seq(16, 1536)) {
    test(s"dim $dim vectors are bit-identical to the pinned digests") {
      for ((path, vs) <- vectors(dim)) {
        assert(vs.forall(_.length == dim))
        val got = texts.map(_._1).zip(vs.map(digest))
        assert(got.map(_._2) == pinned(dim), s"$path digests: $got")
      }
    }

    test(s"dim $dim vectors computed on the driver match the pinned digests") {
      val nonNull = texts.collect { case (_, Some(t)) => t }
      val got = DeterministicEmbedder(dim).vectors(spark, nonNull).map(v => digest(v.toSeq))
      assert(got == pinned(dim).take(nonNull.size))
      // the default, a local query, agrees
      val base = DeterministicEmbedder(dim)
      val viaQuery = new Embedder {
        val dim: Int = base.dim
        def embed(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = base.embed(text)
      }
      assert(viaQuery.vectors(spark, nonNull).map(v => digest(v.toSeq)) == got)
    }
  }

  test("the embedding expression has the same size at every dimension") {
    def nodes(dim: Int): Int = {
      val df = spark.range(1).select(col("id").cast("string").as("text"))
        .select(DeterministicEmbedder(dim).embed(col("text")).as("e"))
      df.queryExecution.analyzed.expressions.map(_.collect { case e => e }.size).sum
    }
    assert(nodes(16) == nodes(1536), s"16 -> ${nodes(16)}, 1536 -> ${nodes(1536)}")
  }
}
