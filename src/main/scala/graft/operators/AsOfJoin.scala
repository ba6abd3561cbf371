package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — for each left row, the latest right row whose timestamp
  * is ≤ the left row's, within the same key. The canonical "operator
  * Spark lacks" (SURVEY §4); rather than a custom physical node, it
  * composes as union + carry-forward window:
  *
  *   tag left/right → unionByName → window per key ordered by
  *   (ts, tag) → last(right value, ignoreNulls) carried forward →
  *   keep left rows.
  *
  * One shuffle on the key, a per-key sort, no range-join row explosion
  * — the classic distributed as-of shape. At equal timestamps the
  * right row sorts first (tag 0 < 1), so a same-instant right row is
  * visible to the left row, matching `ON r.ts <= l.ts` semantics.
  *
  * `right` must carry only (key, ts, value columns) with value names
  * distinct from `left`'s columns.
  */
object AsOfJoin {

  def asOf(left: DataFrame, right: DataFrame, key: String, ts: String,
           rightValues: Seq[String]): DataFrame = {
    val l = left.withColumn("__tag", lit(1))
    val r = right.withColumn("__tag", lit(0))
    val u = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightValues.foldLeft(u) { (df, v) =>
      df.withColumn(v, last(col(v), ignoreNulls = true).over(w))
    }
    carried.where(col("__tag") === 1).drop("__tag")
  }
}
