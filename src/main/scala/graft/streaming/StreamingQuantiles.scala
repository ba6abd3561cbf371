package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** APPEND-MODE grouped quantiles (the 17th streaming route) — the
  * watermarked windowed sibling of the complete-mode grouped sketch
  * (`streaming_quantiles_grouped`). Complete mode re-emits EVERY
  * group's full state each trigger: at real group cardinality the sink
  * write, not the state, becomes the unbounded cost. Here emission is
  * bounded as well as state, via the chained-windowed-aggregation
  * pattern of [[StreamingMaxSim]]:
  *
  *  1. first stateful operator — the log-bucket histogram keyed
  *     `(event window, group, bucket)`: per-key state is one
  *     `(min lower, count)` pair, keys per (window, group) bounded by
  *     the sketch's `≤ 64·2^(subBits+1)` bucket bound, and the
  *     watermark closes windows so append mode emits each bucket row
  *     exactly once;
  *  2. second stateful operator — chained on the upstream window via
  *     `window(window_time(...))` re-keying (Spark's multi-stateful
  *     support), folding a (window, group)'s closed bucket rows into
  *     one bounded map and FINISHING with the rank selection, so each
  *     group's quantile row emits exactly once per window.
  *
  * The selection arithmetic (`rank = max(1, ceil(q·n))`, first bucket
  * whose cumulative count reaches the rank) is bit-identical to
  * [[graft.operators.Sketches.quantilesFromBucketsBy]] — integer
  * counts and one double multiply both engines perform identically —
  * so the streamed result sits under the same DuckDB oracle as the
  * batch selection over the same window slice.
  */
object StreamingQuantiles {

  /** One closed bucket row of a (window, group). */
  case class BucketObs(bucket: Long, lower: Long, cnt: Long)

  /** One selected quantile. */
  case class QuantileVal(q: Double, value_lb: Long)

  /** Per-(window, group) fold of bucket rows → the full quantile
    * selection, state bounded by the sketch's bucket bound.
    */
  class QuantileSelect(qs: Seq[Double])
      extends Aggregator[BucketObs, Map[Long, (Long, Long)], Seq[QuantileVal]] {
    def zero: Map[Long, (Long, Long)] = Map.empty
    def reduce(m: Map[Long, (Long, Long)], b: BucketObs): Map[Long, (Long, Long)] = {
      val (lo, c) = m.getOrElse(b.bucket, (Long.MaxValue, 0L))
      m.updated(b.bucket, (math.min(lo, b.lower), c + b.cnt))
    }
    def merge(a: Map[Long, (Long, Long)], b: Map[Long, (Long, Long)]): Map[Long, (Long, Long)] =
      b.foldLeft(a) { case (acc, (k, (lo, c))) =>
        val (alo, ac) = acc.getOrElse(k, (Long.MaxValue, 0L))
        acc.updated(k, (math.min(alo, lo), ac + c))
      }
    def finish(m: Map[Long, (Long, Long)]): Seq[QuantileVal] = {
      if (m.isEmpty) return Seq.empty
      val sorted = m.toSeq.sortBy(_._1)
      val n = sorted.map(_._2._2).sum
      var out = List.empty[QuantileVal]
      qs.sorted.foreach { q =>
        // identical arithmetic to quantilesFromBucketsBy: one double
        // multiply + ceil, then integer cumulative comparison
        val rank = math.max(1L, math.ceil(q * n).toLong)
        var cum = 0L
        var done = false
        sorted.foreach { case (_, (lo, c)) =>
          cum += c
          if (!done && cum >= rank && cum - c < rank) {
            out ::= QuantileVal(q, lo)
            done = true
          }
        }
      }
      out.reverse
    }
    def bufferEncoder: Encoder[Map[Long, (Long, Long)]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[QuantileVal]] = ExpressionEncoder()
  }

  /** `stream`: STREAMING frame with (`groupName`: string, `valueCol`:
    * long-castable, ts: timestamp). Emits `(window, groupName, q,
    * value_lb)` in append mode — one row per (window, group, quantile),
    * exactly once, on window close.
    */
  def windowedQuantilesByGroup(stream: DataFrame, groupName: String,
                               valueCol: org.apache.spark.sql.Column,
                               qs: Seq[Double],
                               windowDuration: String = "1 minute",
                               watermarkDelay: String = "5 minutes",
                               subBits: Int = 6): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      "quantiles must be in (0, 1]")
    require(subBits >= 1 && subBits <= 16, "subBits must be in [1, 16]")
    // the same log-bucket projection as Sketches.bucketCountsBy
    val small = 1L << subBits
    val histo = stream
      .select(col(groupName), valueCol.cast("long").as("__v"), col("ts"))
      .where(col("__v").isNotNull && col("__v") >= 0)
      .withColumn("__msb", (length(bin(col("__v"))) - 1).cast("long"))
      .withColumn("__t", expr(s"shiftright(__v, CAST(__msb AS INT) - $subBits)"))
      .select(
        col(groupName), col("ts"),
        when(col("__v") < small, col("__v"))
          .otherwise(col("__msb") * (small * 2) + col("__t")).as("bucket"),
        when(col("__v") < small, col("__v"))
          .otherwise(expr(s"shiftleft(__t, CAST(__msb AS INT) - $subBits)"))
          .as("lower"))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDuration), col(groupName),
        col("bucket"))
      .agg(min(col("lower")).as("lower"), count(lit(1)).as("cnt"))
    val sel = udaf(new QuantileSelect(qs), ExpressionEncoder[BucketObs]())
    histo
      .groupBy(window(window_time(col("window")), windowDuration),
        col(groupName))
      .agg(sel(col("bucket"), col("lower"), col("cnt")).as("qv"))
      .select(col("window"), col(groupName), explode(col("qv")).as("x"))
      .select(col("window"), col(groupName), col("x.q").as("q"),
        col("x.value_lb").as("value_lb"))
  }
}
