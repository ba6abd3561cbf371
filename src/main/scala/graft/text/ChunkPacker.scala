package graft.text

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types._

/** F1 + F2 — paragraph split and greedy chunk packing, the reference's
  * ingest-side text pipeline (`/root/reference/extract_and_embed.py:62-77`,
  * clones in all four services).
  *
  * The packer is an order-dependent stateful fold — not columnar — so
  * it runs per document inside one generator column ([[chunks]]):
  * document rows are independent, so the operation is embarrassingly
  * parallel and scales with the number of documents regardless of
  * per-doc size.
  *
  * Bit-for-bit quirks of the reference, preserved deliberately:
  *  - paragraphs accumulate via `current += "\n" + para` (no space), so
  *    for *counting* the last word of the buffer merges with the first
  *    word of the candidate paragraph (`len((current + para).split())`);
  *  - the comparison is strict `<` against the budget;
  *  - when the *first* paragraph alone reaches the budget, the empty
  *    buffer is flushed: an empty-string chunk is emitted (Python
  *    `chunks.append("".strip())`), and the oversized paragraph seeds
  *    the next chunk unsplit;
  *  - a trailing non-empty buffer is always emitted.
  */
object ChunkPacker {

  /** F1: `text.split("\n\n")` → strip → drop empties
    * (`extract_and_embed.py:63`).
    */
  def paragraphs(text: String): Seq[String] =
    text.split("\n\n", -1).toSeq.map(_.strip).filter(_.nonEmpty)

  /** Python `len(s.split())`: count whitespace-separated words. */
  private[text] def wordCount(s: String): Int = {
    var n = 0; var inWord = false
    var i = 0
    while (i < s.length) {
      val ws = Character.isWhitespace(s.charAt(i))
      if (!ws && !inWord) { n += 1; inWord = true }
      else if (ws) inWord = false
      i += 1
    }
    n
  }

  /** F2: greedy fold of paragraphs into ~maxWords chunks
    * (`extract_and_embed.py:62-77`). Direct transcription.
    */
  def pack(paras: Seq[String], maxWords: Int = 400): Seq[String] = {
    val chunks = scala.collection.mutable.ArrayBuffer[String]()
    var current = ""
    for (para <- paras) {
      if (wordCount(current + para) < maxWords)
        current += "\n" + para
      else {
        chunks += current.strip
        current = para
      }
    }
    if (current.nonEmpty) chunks += current.strip
    chunks.toSeq
  }

  def chunkText(text: String, maxWords: Int = 400): Seq[String] =
    pack(paragraphs(text), maxWords)

  /** Element type of [[chunks]]. `chunk_idx`/`n_words` are declared
    * non-nullable, and so is the array's element: `inline` marks every
    * field nullable when the array may hold NULL elements.
    */
  private val ChunkType = ArrayType(StructType(Seq(
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("chunk_text", StringType),
    StructField("n_words", LongType, nullable = false))), containsNull = false)

  /** F2 as a generator column: a document's text →
    * `array<struct<chunk_idx, chunk_text, n_words>>`, one element per
    * packed chunk (NULL or empty text → no chunks). Expand it with
    * `inline` in the document row's own `select`, so every other
    * column of the row rides onto its chunks — no join back to the
    * documents.
    */
  def chunks(text: Column, maxWords: Int = 400): Column =
    udf(new UDF1[String, Seq[Row]] {
      def call(t: String): Seq[Row] =
        if (t == null) Nil
        else chunkText(t, maxWords).zipWithIndex.map { case (c, i) =>
          Row(i, c, wordCount(c).toLong)
        }
    }, ChunkType)(text)
}
