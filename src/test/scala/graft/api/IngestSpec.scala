package graft.api

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.embed.DeterministicEmbedder

/** §3.2 ingest pipeline: document-level attributes replicate onto every
  * chunk row, embeddings are deterministic, schema matches the
  * reference chunk table.
  */
class IngestSpec extends AnyFunSuite with SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the appeal is allowed " + ("w " * 500)),       // 2 chunks, won
      (2L, "appeal dismissed with costs"),                 // 1 chunk, lost
      (3L, "nothing decisive in this one")                 // 1 chunk, invalid
    ).toDF("doc_id", "text")
  }

  private def table = Ingest.chunkTable(spark, docs, col("doc_id"), col("text"),
    pmod(col("doc_id"), lit(10)), DeterministicEmbedder(dim = 8))

  test("chunk-table schema matches the reference collection") {
    // every field's (name, type, nullable), in order — the generator
    // must not loosen chunk_idx/n_words, nor tighten doc_key to the
    // caller's non-null id column
    val fields = table.schema.fields.toSeq.map(f => (f.name, f.dataType, f.nullable))
    assert(fields == Seq(
      ("chunk_id", LongType, false),
      ("text", StringType, true),
      ("embedding", ArrayType(FloatType, containsNull = true), false),
      ("file_name", StringType, false),
      ("file_id", StringType, true),
      ("court_level", IntegerType, true),
      ("case_decision", StringType, false),
      ("doc_key", StringType, true),
      ("chunk_idx", IntegerType, false),
      ("n_words", LongType, false),
      ("document_type", StringType, false)))
  }

  test("document attributes replicate onto every chunk of the document") {
    val rows = table.select("doc_key", "case_decision", "file_id").collect()
    val byDoc = rows.groupBy(_.getString(0))
    assert(byDoc("1").map(_.getString(1)).toSet == Set("appellant_won"))
    assert(byDoc("2").map(_.getString(1)).toSet == Set("appellant_lost"))
    assert(byDoc("3").map(_.getString(1)).toSet == Set("invalid"))
    // one decision + one file_id per document regardless of chunk count
    byDoc.values.foreach(g => assert(g.map(_.getString(2)).toSet.size == 1))
  }

  test("embeddings are deterministic and of the configured dimension") {
    val e1 = table.orderBy("doc_key", "chunk_idx")
      .select("embedding").collect().map(_.getSeq[Float](0))
    val e2 = table.orderBy("doc_key", "chunk_idx")
      .select("embedding").collect().map(_.getSeq[Float](0))
    assert(e1.map(_.toList).toSeq == e2.map(_.toList).toSeq)
    assert(e1.forall(_.length == 8))
    assert(e1.forall(_.forall(v => v >= -1f && v <= 1f)))
  }

  test("chunk ids are unique (Milvus auto-id guarantee)") {
    val ids = table.select("chunk_id").collect().map(_.getLong(0))
    assert(ids.distinct.length == ids.length)
  }

  test("court_level write partitioning turns the flagship filter into partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-chunks").toString
    Ingest.write(table, dir)
    val read = spark.read.parquet(dir).where(col("court_level") === 1)
    val plan = read.queryExecution.executedPlan.toString
    // the scan must prune on the partition column, not post-filter rows
    assert(plan.contains("PartitionFilters") &&
      plan.contains("court_level"), s"no partition pruning in plan:\n$plan")
    assert(read.count() > 0)
  }
}
