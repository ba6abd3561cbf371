package graft.embed

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** F4 — the embedding transform
  * (`/root/reference/extract_and_embed.py:80-82`), as a pluggable
  * column operator.
  *
  * The reference calls OpenAI ada-002 once per chunk, sequentially —
  * the single worst scaling pathology in the reference (SURVEY §3
  * "performance pathologies"). Here embedding is a Column: it rides in
  * the chunk projection, is computed partition-parallel, and external
  * implementations batch per partition instead of per row.
  */
trait Embedder {
  def dim: Int

  /** Embedding of a text column as `array<float>` of [[dim]]. */
  def embed(text: Column): Column
}

/** Deterministic seeded hash-projection embedder — the offline
  * correctness stand-in for ada-002 (the external model is
  * non-deterministic and unavailable without egress; SURVEY §7.3).
  * The text hashes ONCE per row (h = xxhash64(text, seed)); component
  * j = xxhash64(h, j) folded into [-1, 1). Fixed text + seed → fixed
  * vector; fully codegen, no UDF.
  *
  * Built as an UNROLLED `array(...)` rather than a
  * `transform(sequence(...))` lambda on purpose: codegen's
  * common-subexpression elimination hoists the repeated
  * `xxhash64(text, seed)` subtree to one evaluation per row across
  * the array elements, while a lambda body re-evaluates it per
  * ELEMENT — the pre-r12 form hashed the full chunk text `dim` times
  * per row and was the bench's hottest row once the measured action
  * stopped letting Catalyst prune the embedding column
  * (ingest_chunk_table 35.8s → the per-dim hash now touches 16
  * bytes, not the text).
  */
final case class DeterministicEmbedder(dim: Int = 64, seed: Long = 42L) extends Embedder {
  private val Bucket = 2000001L

  def embed(text: Column): Column = {
    val h = xxhash64(text, lit(seed))
    array((0 until dim).map { j =>
      ((pmod(xxhash64(h, lit(j.toLong)), lit(Bucket)) - lit(1000000L))
        .cast("double") / 1000000.0).cast("float")
    }: _*)
  }
}
