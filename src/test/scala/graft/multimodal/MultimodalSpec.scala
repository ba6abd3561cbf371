package graft.multimodal

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class MultimodalSpec extends AnyFunSuite with SparkSpec {

  private def media = {
    import spark.implicits._
    Seq((1L, "first blob".getBytes("UTF-8")),
        (2L, "second longer binary blob".getBytes("UTF-8")))
      .toDF("media_id", "data")
  }

  test("decode stub emits plausible deterministic metadata") {
    val m1 = Multimodal.decodeMeta(spark, media, "media_id", "data").collect()
      .sortBy(_.media_id)
    val m2 = Multimodal.decodeMeta(spark, media, "media_id", "data").collect()
      .sortBy(_.media_id)
    assert(m1.toSeq == m2.toSeq)
    assert(m1.map(_.media_id).toSeq == Seq(1L, 2L))
    assert(m1.forall(m => m.width >= 64 && m.height >= 64 && m.n_bytes > 0))
    assert(m1.forall(m => Set("jpeg", "png", "webp").contains(m.format)))
  }

  test("feature extraction keeps fixed dimension and [-1,1] range") {
    val f = Multimodal.extractFeatures(spark, media, "media_id", "data", dim = 16)
      .collect().sortBy(_.media_id)
    assert(f.forall(_.features.length == 16))
    assert(f.forall(_.features.forall(v => v >= -1f && v <= 1f)))
    // different payloads → different features
    assert(!f(0).features.sameElements(f(1).features))
  }

  test("batched extraction: bounded batches, same features as the per-row path") {
    val many = spark.range(0, 25).repartition(1)
      .select(col("id").as("media_id"),
        concat(lit("payload "), col("id").cast("string")).cast("binary").as("data"))
    val batched = Multimodal.extractFeaturesBatched(spark, many,
        "media_id", "data", dim = 8, batchSize = 10)
      .collect().sortBy(_.media_id)
    // delivery shape: one partition of 25 rows → batches of 10/10/5
    assert(batched.forall(_.batch_size <= 10))
    assert(batched.map(b => b.batch_seq -> b.batch_size).distinct.sorted.toSeq ==
      Seq(0 -> 10, 1 -> 10, 2 -> 5))
    // values: batching changes delivery, never results
    val perRow = Multimodal.extractFeatures(spark, many, "media_id", "data", dim = 8)
      .collect().sortBy(_.media_id)
    assert(batched.length == perRow.length)
    batched.zip(perRow).foreach { case (b, r) =>
      assert(b.media_id == r.media_id && b.features.sameElements(r.features))
    }
  }

  test("resize: deterministic, bounded payload, dimension stamped") {
    val r1 = Multimodal.resize(spark, media, "media_id", "data", 32, 24)
      .collect().sortBy(_.media_id)
    val r2 = Multimodal.resize(spark, media, "media_id", "data", 32, 24)
      .collect().sortBy(_.media_id)
    assert(r1.map(_.media_id).toSeq == Seq(1L, 2L))
    r1.zip(r2).foreach { case (a, b) => assert(a.data.sameElements(b.data)) }
    assert(r1.forall(r => r.width == 32 && r.height == 24))
    // resize-down contract: output never larger than input payload
    val inLens = media.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).length).toMap
    assert(r1.forall(r => r.data.length <= inLens(r.media_id) &&
      r.data.length <= math.max(1, 32 * 24 / 8)))
    // different target dims → different payloads
    val other = Multimodal.resize(spark, media, "media_id", "data", 8, 8)
      .collect().sortBy(_.media_id)
    assert(!other(1).data.sameElements(r1(1).data))
  }

  test("frame sampling: stride/cap respected, deterministic frames") {
    val f = Multimodal.sampleFrames(spark, media, "media_id", "data",
        everyN = 5, maxFrames = 4)
      .collect().sortBy(f => (f.media_id, f.frame_idx))
    assert(f.nonEmpty)
    // per-media: indexes are 0,5,10,... and at most maxFrames of them
    f.groupBy(_.media_id).foreach { case (_, frames) =>
      assert(frames.length <= 4)
      assert(frames.map(_.frame_idx).toSeq ==
        frames.indices.map(_ * 5).toSeq)
    }
    // deterministic
    val g = Multimodal.sampleFrames(spark, media, "media_id", "data",
        everyN = 5, maxFrames = 4)
      .collect().sortBy(f => (f.media_id, f.frame_idx))
    f.zip(g).foreach { case (a, b) =>
      assert(a.media_id == b.media_id && a.frame_idx == b.frame_idx &&
        a.frame.sameElements(b.frame))
    }
  }
}
