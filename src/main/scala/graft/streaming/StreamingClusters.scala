package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

import graft.Materialize
import graft.dedup.Components

/** Continuous duplicate-cluster maintenance: near-dup pair batches
  * (e.g. [[StreamingDedup.nearDupsAgainstCorpus]] output, or any
  * (id_a, id_b) edge stream) fold into a live `(id, component)`
  * labeling via [[Components.incrementalComponents]] — per batch, work
  * is proportional to the DELTA (contracted-graph propagation + one
  * broadcast relabel join), never a full re-clustering.
  *
  * foreachBatch is the right harness: the labeling is cross-batch
  * mutable state of DataFrame shape — too big for the keyed state
  * store's per-key model at corpus scale, exactly right as a
  * pinned DataFrame swapped per batch. Each round's labels are pinned
  * [[graft.Materialize.reliably]] (the lineage ends at the previous
  * batch's checkpoint, however long the stream) and the superseded
  * round is released, so storage stays one labels-table.
  *
  * Replay safety: foreachBatch is at-least-once, and re-folding an
  * already-folded edge batch is structurally a NO-OP for connected
  * components (the union of an edge set with itself), so no batch-id
  * bookkeeping is needed — unlike the append-shaped
  * [[StreamingBm25]] sink, where a replay would double counts.
  */
final class ClusterMaintainer(spark: SparkSession) {

  import spark.implicits._

  @volatile private var current: DataFrame =
    Materialize(Seq.empty[(Long, Long)].toDF("id", "component"))

  /** Current labeling — safe to read between batches. */
  def labels: DataFrame = current

  /** Fold one edge batch (columns id_a, id_b) into the labeling.
    * [[Components.fold]] pins the new labels and releases its own
    * intermediates; the superseded labels are released here — only
    * the live table survives the batch.
    */
  def update(edgeBatch: DataFrame): Unit = synchronized {
    val next = Components.fold(current, edgeBatch, 20, Materialize.reliably)
    Materialize.release(current)
    current = next
  }

  /** Wire a streaming (id_a, id_b) edge frame into this maintainer. */
  def attach(edges: DataFrame): DataStreamWriter[Row] =
    edges.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      update(batch.select("id_a", "id_b"))
    }
}
