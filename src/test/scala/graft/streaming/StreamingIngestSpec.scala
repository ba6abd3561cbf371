package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.embed.DeterministicEmbedder

/** File-drop streaming ingest: parquet files landing in a directory
  * flow through classification + embedding into the chunk-table sink.
  */
class StreamingIngestSpec extends AnyFunSuite with SparkSpec {

  test("drained file-drop ingest writes classified, embedded rows") {
    import spark.implicits._
    val in  = Files.createTempDirectory("graft-stream-in").toString
    val out = Files.createTempDirectory("graft-stream-out").toString
    val ckp = Files.createTempDirectory("graft-stream-ckp").toString

    val batch = Seq(
      (1L, "the appeal is allowed"),
      (2L, "appeal dismissed"),
      (3L, "no outcome at all")).toDF("doc_id", "text")
    batch.write.mode("overwrite").parquet(in)

    val q = StreamingIngest.start(spark, in, batch.schema, "doc_id", "text",
      lit(2), DeterministicEmbedder(dim = 8), out, ckp)
    q.awaitTermination(60000)

    val result = spark.read.parquet(out)
    assert(result.count() == 3)
    assert(result.select("case_decision").collect().map(_.getString(0)).sorted.toSeq
      == Seq("appellant_lost", "appellant_won", "invalid"))
    assert(result.select("court_level").collect().forall(_.getInt(0) == 2))
    assert(result.select("embedding").collect().forall(_.getSeq[Float](0).length == 8))
  }

  test("streamed ingest rows equal the batch chunk table without chunk_id") {
    import spark.implicits._
    val in  = Files.createTempDirectory("graft-stream-eq-in").toString
    val out = Files.createTempDirectory("graft-stream-eq-out").toString
    val ckp = Files.createTempDirectory("graft-stream-eq-ckp").toString

    // doc 4: the cascade misses on the text alone; the page-1 metadata
    // (case number "7/appeal" + parties "Dismissed Corp") reads
    // "7/appeal Dismissed Corp ...", which the C4 retry decides
    val retried = "Dismissed Corp versus State of Goa. Case no. 7/appeal"
    val docs = Seq[(Long, String)](
      (1L, "the appeal is allowed " + ("w " * 500)),
      (2L, "appeal dismissed with costs\n\nsecond paragraph"),
      (3L, "high court writ petition, nothing decisive"),
      (4L, retried),
      (5L, null),
      (6L, "")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(in)
    val docsIn = spark.read.parquet(in)
    assert(docsIn.where(col("doc_id") === 4)
      .select(graft.classify.Cascades.decision(col("text"))).as[String].head() == "invalid")

    val emb = DeterministicEmbedder(dim = 8)
    val level = pmod(col("doc_id"), lit(10))
    StreamingIngest.start(spark, in, docsIn.schema, "doc_id", "text", level, emb, out, ckp)
      .awaitTermination(60000)

    val batch = graft.api.Ingest.chunkTable(spark, docsIn, col("doc_id"), col("text"),
      level, emb).drop("chunk_id")
    val streamed = spark.read.parquet(out).select(batch.columns.toSeq.map(col): _*)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // NULL and empty text give no chunk rows (and no failure)
    assert(streamed.select("doc_key").distinct().as[String].collect().sorted.toSeq
      == Seq("1", "2", "3", "4"))
    assert(streamed.where(col("doc_key") === "4").select("case_decision")
      .as[String].collect().toSeq == Seq("appellant_lost"))
  }

  test("pdf drop directory streams extracted docs, batch == stream extraction") {
    val in  = Files.createTempDirectory("graft-pdf-stream-in")
    val out = Files.createTempDirectory("graft-pdf-stream-out").toString
    val ckp = Files.createTempDirectory("graft-pdf-stream-ckp").toString
    Files.write(in.resolve("u1.pdf"), Array.fill[Byte](300)(3))
    Files.write(in.resolve("u2.pdf"), "tiny".getBytes("UTF-8"))
    Files.write(in.resolve("skip.txt"), "nope".getBytes("UTF-8"))

    val q = StreamingIngest.pdfStream(spark, in.toString)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val streamed = spark.read.parquet(out)
      .select("file_name", "file_id", "n_bytes", "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    val batch = graft.sources.BinaryDocs.scanPdfDir(spark, in.toString)
      .collect().map(d => (d.file_name, d.file_id, d.n_bytes, d.text))
      .sortBy(_._1)
    assert(streamed.map(_._1).toSeq == Seq("u1.pdf", "u2.pdf"))
    assert(streamed.toSeq == batch.toSeq)
  }

  test("watermarked windowed counts bucket events into 10-minute windows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // same aggregation shape works on a batch frame; windows align to epoch
    val events = Seq(
      ("2024-01-01 00:01:00", "click"), ("2024-01-01 00:04:30", "click"),
      ("2024-01-01 00:12:00", "click"), ("2024-01-01 00:03:00", "view"))
      .toDF("ts_str", "event_type")
      .select(to_timestamp($"ts_str").as("ts"), $"event_type")
    val out = StreamingIngest.windowedEventCounts(events, $"ts", $"event_type")
      .select($"window.start".cast("string").as("start"), $"event_type", $"count")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(
      ("2024-01-01 00:00:00", "click", 2L),
      ("2024-01-01 00:10:00", "click", 1L),
      ("2024-01-01 00:00:00", "view", 1L)))
  }
}
