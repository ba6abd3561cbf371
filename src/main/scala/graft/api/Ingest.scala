package graft.api

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.classify.{Cascades, CaseMetadata}
import graft.embed.Embedder
import graft.text.ChunkPacker

/** The §3.2 ingest pipeline (`process_pdf_to_milvus`,
  * `/root/reference/extract_and_embed_v2.py:322-385`) as one
  * DataFrame composition:
  *
  *   document rows → document-level attributes (file_id hash, type,
  *   decision with metadata retry) → `inline` of the per-document
  *   chunk generator → per-chunk embedding → fixed chunk-table schema
  *   → parquet append.
  *
  * Whole-document operators compute once per document, in the
  * document row's projection; the chunk generator
  * ([[ChunkPacker.chunks]]) then expands that same row, so every
  * attribute rides onto its chunks with no join back to the documents
  * (a join would re-run the document source — scan, PDF extraction —
  * once per side). Embedding happens after chunking, chunk-parallel.
  * Batch ([[chunkTable]]) and streaming
  * ([[graft.streaming.StreamingIngest.ingestColumns]]) ingest build
  * their rows through the same [[chunkRows]].
  */
object Ingest {

  /** Document-level attributes of the ingest path:
    * file_name/file_id (F3), document_type (C2), case_decision with
    * metadata-enriched retry (C1+C4 over S2-extracted metadata).
    */
  def documentAttributes(docs: DataFrame, idCol: Column, textCol: Column,
                         courtLevel: Column): DataFrame =
    attributes(docs, idCol.cast("string"),
      concat(lit("doc_"), idCol.cast("string"), lit(".pdf")),
      textCol, courtLevel)

  /** [[documentAttributes]] for documents that arrive with a REAL file
    * name (the serving layer's S3 uploads, where
    * `file_id = sha256(original filename)` per
    * `/root/reference/extract_and_embed.py:95`); the name doubles as
    * the chunking key.
    */
  def namedDocumentAttributes(docs: DataFrame, nameCol: Column,
                              textCol: Column, courtLevel: Column): DataFrame =
    attributes(docs, nameCol, nameCol, textCol, courtLevel)

  /** First-page analog for the metadata regexes: the reference scopes
    * case-number/parties extraction to `doc[0].get_text()` — the FIRST
    * page only (`/root/reference/extract_and_embed_v2.py:397-398`).
    * Full-text scanning was both unfaithful and the ingest path's
    * dominant cost: the reference's parties pattern backtracks
    * quadratically on non-matching text (measured 7.5s per 5k docs
    * full-text vs ~0.2s on the page-1 prefix).
    */
  private[api] val FirstPageChars = 3500

  private def attributes(docs: DataFrame, keyExpr: Column, fileName: Column,
                         textCol: Column, courtLevel: Column): DataFrame = {
    val page1 = substring(textCol, 1, FirstPageChars)
    // The parties pattern backtracks quadratically per scan, so scan
    // ONCE for the full match (group 0, staged in its own projection —
    // CollapseProject keeps a non-cheap multi-referenced alias staged)
    // and re-extract both groups from the short matched substring:
    // identical values (the match re-splits the same way on its own
    // text — greedy group preference is deterministic), half the
    // quadratic cost. The oracle keeps the reference's direct
    // two-group form, so the gate hash PROVES the equivalence.
    val staged = docs.select(
      keyExpr.as("key"),
      textCol.as("doc_text"),
      fileName.as("file_name"),
      sha2(fileName, 256).as("file_id"),
      courtLevel.cast("int").as("court_level"),
      Cascades.docType(textCol).as("document_type"),
      CaseMetadata.partiesExtract(page1, 0).as("__pm"),
      CaseMetadata.caseNumber(page1).as("__cn"))
    val meta = concat_ws(" ",
      col("__cn"),
      trim(CaseMetadata.partiesExtract(col("__pm"), 1)),
      trim(CaseMetadata.partiesExtract(col("__pm"), 2)))
    staged.select(
      col("key"), col("doc_text"), col("file_name"), col("file_id"),
      col("court_level"), col("document_type"),
      Cascades.decisionWithRetry(col("doc_text"), trim(meta))
        .as("case_decision"))
  }

  /** Full ingest: returns the reference chunk-table rows
    * (`extract_and_embed_v2.py:44-52` schema; chunk_id is
    * assigned-on-write like Milvus auto-id — unique, not contiguous).
    */
  def chunkTable(spark: SparkSession, docs: DataFrame, idCol: Column,
                 textCol: Column, courtLevel: Column,
                 embedder: Embedder, maxWords: Int = 400): DataFrame =
    chunkTableOf(spark, documentAttributes(docs, idCol, textCol, courtLevel),
      embedder, maxWords)

  /** Chunk-table rows from precomputed [[documentAttributes]] /
    * [[namedDocumentAttributes]] rows.
    */
  def chunkTableOf(spark: SparkSession, attrs: DataFrame,
                   embedder: Embedder, maxWords: Int = 400): DataFrame =
    withChunkId(chunkRows(attrs, maxWords, Some(embedder)))

  /** Each document's chunks, expanded in place by the chunk generator,
    * in chunk-table column order without `chunk_id` (streaming plans
    * reject `monotonically_increasing_id`); with an `embedder`, the
    * `embedding` goes right after `text`.
    */
  private[graft] def chunkRows(attrs: DataFrame, maxWords: Int,
                               embedder: Option[Embedder]): DataFrame =
    attrs.select(col("*"), inline(ChunkPacker.chunks(col("doc_text"), maxWords)))
      .select(Seq(col("chunk_text").as("text")) ++
        embedder.map(_.embed(col("chunk_text")).as("embedding")) ++ Seq(
        col("file_name"), col("file_id"), col("court_level"),
        col("case_decision"),
        // extras beyond the reference schema, useful downstream;
        // doc_key is declared nullable whatever the caller's id column,
        // so the table's schema does not depend on it
        GraftColumnBridge.column(KnownNullable(GraftColumnBridge.expression(col("key"))))
          .as("doc_key"),
        col("chunk_idx"), col("n_words"), col("document_type")): _*)

  /** [[chunkRows]] led by the assigned-on-write `chunk_id`. */
  private def withChunkId(rows: DataFrame): DataFrame =
    rows.select(monotonically_increasing_id().as("chunk_id") +: rows.columns.toSeq.map(col): _*)

  /** [[chunkTableOf]] with the embedding computed OUT-OF-PLAN by the
    * batched HTTP client (F4's production arm,
    * `/root/reference/extract_and_embed_v2.py:352-369` fixed to one
    * RPC per batch instead of one per chunk): chunk rows are pinned
    * first with a reliable checkpoint (`monotonically_increasing_id`
    * must not renumber them between the embed pass and the join-back,
    * not even after a lost executor), the client
    * embeds (chunk_id, text) per-partition-batch, and the vectors
    * equi-join back on chunk_id. With `cfg.dropFailedBatches`, chunks
    * whose batch exhausted retries drop out of the table — the
    * reference's per-chunk `except: continue` at batch granularity.
    */
  def chunkTableRemote(spark: SparkSession, attrs: DataFrame,
                       cfg: graft.embed.HttpEmbedder.Config,
                       maxWords: Int = 400): DataFrame = {
    val base = Materialize.reliably(withChunkId(chunkRows(attrs, maxWords, None)))
    val vecs = graft.embed.HttpEmbedder.embed(spark, base, "chunk_id", "text", cfg)
    // embedding back in its chunk-table place, right after chunk_id, text
    base.join(vecs, "chunk_id")
      .select(base.columns.toSeq.patch(2, Seq("embedding"), 0).map(col): _*)
  }

  /** S5 sink analog: append to the chunk-table parquet, partitioned by
    * court_level (the only scalar filter the flagship query uses —
    * partition pruning replaces Milvus's bitset pre-filter). The atomic
    * job commit is the `flush()` durability barrier.
    */
  def write(chunkTable: DataFrame, path: String): Unit =
    chunkTable.write.mode("append").partitionBy("court_level").parquet(path)
}
