package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Latest-wins snapshot compaction — the MERGE/upsert step of an
  * incremental ingest pipeline expressed as a pure batch operator:
  * given a base snapshot and a stream of versioned updates, produce
  * the compacted snapshot where every key carries its highest-version
  * row (the reference's vector store re-inserts chunks blindly on
  * every ingest — `/root/reference/extract_and_embed.py` has no
  * update path at all; this is the §2.7 completion that makes
  * re-ingesting a corrected document a first-class operation instead
  * of a duplicate).
  *
  * Scale shape: ONE hash aggregate on the key with `max_by` — map-side
  * partial aggregation combines locally before the shuffle, so the
  * shuffle carries at most one candidate row per (task, key), not the
  * full update history; no window over the union (a window form
  * shuffles every version of every key to one task AND sorts it).
  * This is the shape that survives a 100 TB base + daily-delta merge:
  * cost ∝ rows scanned, state ∝ live keys.
  *
  * Determinism: callers must guarantee versions are unique per key
  * (an ingest sequence number or commit timestamp) — `max_by` on a
  * tied version is free to pick either row, same as DuckDB `arg_max`.
  */
object Upsert {

  /** Compact `base ∪ updates` to the highest-version row per key.
    * Both sides must share the schema `(key, version, payload…)`;
    * `payloadCols` names the carried columns. Output:
    * `(key, version, payload…)`, one row per key.
    */
  def latestByKey(base: DataFrame, updates: DataFrame, keyCol: String,
                  versionCol: String, payloadCols: Seq[String]): DataFrame = {
    val all = base.select(keyCol, (versionCol +: payloadCols): _*)
      .unionByName(updates.select(keyCol, (versionCol +: payloadCols): _*))
    all.groupBy(col(keyCol))
      .agg(max(col(versionCol)).as(versionCol),
        payloadCols.map(c => max_by(col(c), col(versionCol)).as(c)): _*)
  }

  /** DuckDB twin of [[latestByKey]] over two inline relations (SQL
    * text for the base and updates SELECTs).
    */
  def latestByKeySql(baseSql: String, updatesSql: String, keyExpr: String,
                     versionExpr: String, payloadCols: Seq[String]): String = {
    val pays = payloadCols
      .map(c => s"arg_max($c, $versionExpr) AS $c").mkString(", ")
    s"""SELECT $keyExpr, max($versionExpr) AS $versionExpr, $pays
       |FROM (($baseSql) UNION ALL BY NAME ($updatesSql))
       |GROUP BY $keyExpr""".stripMargin
  }

  /** CDC APPLY — fold a change feed carrying explicit operations into
    * the next snapshot: `changes` rows are `(key, version, op,
    * payload…)` with op ∈ {I, U, D} (insert/update treated alike:
    * last writer wins; D tombstones the key). The winner per key is
    * its highest-version change — base rows participate as version
    * −∞ upserts — and keys whose winner is a delete are dropped. This
    * is the Debezium/lakehouse merge shape [[latestByKey]] cannot
    * express (it has no delete path: a removed document would survive
    * every compaction forever).
    *
    * Same scale shape as [[latestByKey]]: ONE map-side-combining hash
    * aggregate on the key (`max_by` on version over the union), then a
    * filter on the winning op — shuffle carries one candidate per
    * (task, key), never the change history; no window, no join.
    * Version ties are caller-UB exactly as in [[latestByKey]].
    *
    * NULL-payload semantics: a change that sets a payload column to
    * NULL WINS with that NULL. Both engines are forced onto this
    * semantic by aggregating single-field STRUCTS (non-null even when
    * the field is null): bare `max_by`/`arg_max` diverge here — DuckDB
    * `arg_max` skips NULL arguments (the stale non-null value would
    * resurrect), which is exactly the wrong answer for a CDC feed.
    * Change versions equal to the `Long.MinValue` base sentinel are
    * rejected at runtime (they would tie with base rows and make the
    * winner nondeterministic).
    */
  def applyCdc(base: DataFrame, changes: DataFrame, keyCol: String,
               versionCol: String, opCol: String,
               payloadCols: Seq[String]): DataFrame = {
    // base rows ride as version Long.MinValue (loses to every real
    // change; the sentinel is rejected in the feed); base-only keys
    // surface a NULL version in the output
    val guardedV = {
      val v = col(versionCol).cast("long")
      when(v === Long.MinValue,
        raise_error(lit(s"applyCdc: change version ${Long.MinValue} " +
          "collides with the base sentinel")).cast("long"))
        .otherwise(v)
    }
    val all = base
      .select(Seq(col(keyCol), lit(Long.MinValue).as("__v"),
        lit("I").as("__op")) ++ payloadCols.map(col): _*)
      .unionByName(changes.select(Seq(col(keyCol),
        guardedV.as("__v"),
        col(opCol).as("__op")) ++ payloadCols.map(col): _*))
    all.groupBy(col(keyCol))
      .agg(max_by(col("__op"), col("__v")).as("__wop"),
        (max(col("__v")).as("__vmax") +:
          payloadCols.map(c =>
            max_by(struct(col(c).as("p")), col("__v")).getField("p").as(c))): _*)
      .where(col("__wop") =!= "D")
      .select(col(keyCol) +:
        when(col("__vmax") === Long.MinValue, lit(null).cast("long"))
          .otherwise(col("__vmax")).as(versionCol) +:
        payloadCols.map(col): _*)
  }

  /** DuckDB twin of [[applyCdc]] (same sentinel arithmetic and the
    * same struct-wrapped winner-takes-NULL payload semantics).
    */
  def applyCdcSql(baseSql: String, changesSql: String, keyExpr: String,
                  versionExpr: String, opExpr: String,
                  payloadCols: Seq[String]): String = {
    val minv = s"CAST(${Long.MinValue} AS BIGINT)"
    val pays = payloadCols
      .map(c => s"struct_extract(arg_max({'p': $c}, v), 'p') AS $c")
      .mkString(", ")
    s"""SELECT $keyExpr,
       |  CASE WHEN vmax = $minv THEN NULL ELSE vmax END AS $versionExpr,
       |  ${payloadCols.mkString(", ")} FROM (
       |  SELECT $keyExpr, arg_max(op, v) AS wop, max(v) AS vmax, $pays
       |  FROM (
       |    SELECT $keyExpr, $minv AS v,
       |      'I' AS op, ${payloadCols.mkString(", ")} FROM ($baseSql)
       |    UNION ALL BY NAME
       |    SELECT $keyExpr, CAST($versionExpr AS BIGINT) AS v,
       |      $opExpr AS op, ${payloadCols.mkString(", ")}
       |    FROM ($changesSql))
       |  GROUP BY $keyExpr)
       |WHERE wop <> 'D'""".stripMargin
  }

  /** Snapshot diff — the audit half of the merge story: which keys
    * were `added`, `removed`, or `changed` between two corpus
    * snapshots (payload equality via null-safe comparison of the
    * carried columns). The row-count of each class is what an
    * incremental pipeline reads before deciding to re-embed / re-index
    * — and the diff itself is the minimal update set to feed
    * [[latestByKey]]. Unchanged keys are dropped (at 100 TB the
    * overlap IS the corpus; emitting it would be the bug).
    *
    * One full-outer hash equi-join on the key, nothing else — both
    * sides pruned to `key + payload` at the scan, so the shuffle
    * carries compared bytes only.
    */
  def snapshotDiff(base: DataFrame, curr: DataFrame, keyCol: String,
                   payloadCols: Seq[String]): DataFrame = {
    val b = base.select(col(keyCol).as("k"),
      struct(payloadCols.map(col): _*).as("b_p"))
    val c = curr.select(col(keyCol).as("k"),
      struct(payloadCols.map(col): _*).as("c_p"))
    b.join(c, Seq("k"), "full_outer")
      .select(col("k").as(keyCol),
        when(col("b_p").isNull, "added")
          .when(col("c_p").isNull, "removed")
          .when(!(col("b_p") <=> col("c_p")), "changed")
          .otherwise("unchanged").as("status"))
      .where(col("status") =!= "unchanged")
  }

  /** DuckDB twin of [[snapshotDiff]]. */
  def snapshotDiffSql(baseSql: String, currSql: String, keyExpr: String,
                      payloadCols: Seq[String]): String = {
    val bp = payloadCols.map(c => s"b.$c").mkString("ROW(", ", ", ")")
    val cp = payloadCols.map(c => s"c.$c").mkString("ROW(", ", ", ")")
    s"""SELECT coalesce(b.$keyExpr, c.$keyExpr) AS $keyExpr,
       |  CASE WHEN b.$keyExpr IS NULL THEN 'added'
       |       WHEN c.$keyExpr IS NULL THEN 'removed'
       |       ELSE 'changed' END AS status
       |FROM ($baseSql) b FULL OUTER JOIN ($currSql) c
       |  ON b.$keyExpr = c.$keyExpr
       |WHERE b.$keyExpr IS NULL OR c.$keyExpr IS NULL
       |   OR $bp IS DISTINCT FROM $cp""".stripMargin
  }
}
