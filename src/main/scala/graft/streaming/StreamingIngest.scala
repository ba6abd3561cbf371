package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.api.Ingest
import graft.embed.Embedder
import graft.sources.BinaryDocs

/** Structured-Streaming extension (SURVEY §1.3: the reference is pure
  * request/response, so streaming is an extension, not parity): a
  * file-drop ingest directory replaces the reference's HTTP upload
  * endpoint (S3). New parquet files landing in `inputDir` flow through
  * the batch ingest's own chunk-row function ([[ingestColumns]]) and append to
  * the chunk table — the same rows as batch ingest minus `chunk_id`,
  * incremental execution, exactly-once via the checkpoint.
  */
object StreamingIngest {

  /** Streaming source over a drop directory of parquet document files. */
  def documentStream(spark: SparkSession, inputDir: String,
                     schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(inputDir)

  /** Streaming source over a drop directory of PDFs — the reference's
    * upload endpoint (S3) as a tailed directory of binary files. Each
    * new file becomes one extracted-document row through the same
    * [[graft.sources.BinaryDocs.extract]] projection as the batch scan;
    * `maxFilesPerTrigger` bounds per-batch work so a backlogged drop
    * directory drains in steady increments instead of one giant
    * micro-batch.
    */
  def pdfStream(spark: SparkSession, inputDir: String,
                maxFilesPerTrigger: Int = 100): DataFrame = {
    // binaryFile's schema is fixed by the format, but the streaming
    // source requires it stated explicitly
    val binarySchema = StructType.fromDDL(
      "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
    BinaryDocs.extract(spark.readStream.format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", "*.pdf")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(inputDir)).toDF()
  }

  /** The batch ingest rows of [[graft.api.Ingest.chunkTable]], built by
    * the same document attributes and chunk generator, minus
    * `chunk_id` (streaming plans reject `monotonically_increasing_id`).
    * Documents are independent, so chunking is stateless with respect
    * to the stream and runs incrementally — no stream-stream join, no
    * state store.
    */
  def ingestColumns(docs: DataFrame, idCol: Column, textCol: Column,
                    courtLevel: Column, embedder: Embedder): DataFrame =
    Ingest.chunkRows(Ingest.documentAttributes(docs, idCol, textCol, courtLevel),
      maxWords = 400, Some(embedder))

  /** Start the file-drop → chunk-table pipeline. `Trigger.AvailableNow`
    * drains everything present then stops — the batch-refresh pattern;
    * pass a processing-time trigger for continuous tailing.
    */
  def start(spark: SparkSession, inputDir: String, schema: StructType,
            idCol: String, textCol: String, courtLevel: Column,
            embedder: Embedder, outDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val src = documentStream(spark, inputDir, schema)
    ingestColumns(src, col(idCol), col(textCol), courtLevel, embedder)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Watermarked windowed counts over an event stream — the streaming
    * aggregation shape (10-minute windows, 30-minute late tolerance).
    * `tsCol` must be a timestamp column.
    */
  def windowedEventCounts(events: DataFrame, tsCol: Column,
                          keyCol: Column): DataFrame =
    events
      .withColumn("__ts", tsCol)
      .withWatermark("__ts", "30 minutes")
      .groupBy(window(col("__ts"), "10 minutes"), keyCol)
      .count()
}
