package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Winnowing document fingerprints — Schleimer, Wilkerson & Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting" (SIGMOD
  * 2003; the MOSS algorithm): hash every token k-gram, then in each
  * sliding window of `w` consecutive k-gram hashes keep only the
  * MINIMUM. The guarantee: any shared run of at least `w + k - 1`
  * tokens between two documents is caught by at least one shared
  * fingerprint, while the fingerprint density is ~2/(w+1) of the
  * k-gram count — position-aware overlap detection at a fraction of
  * the index size. Complements the set-similarity family
  * ([[Dedup.minhashPairs]] estimates GLOBAL Jaccard; winnowing
  * localises WHERE documents overlap and catches partial containment
  * MinHash dilutes away). The reference has nothing in this family.
  *
  * Hash choice: md5 of the k-gram with LEXICOGRAPHIC min — winnowing
  * only needs a deterministic total order on hashes, and md5 hex
  * strings order identically in Spark and DuckDB, which keeps the
  * oracle exact. At 100 TB the fingerprint becomes an 8-byte
  * xxhash64/rolling hash (same selection logic, numeric min) so the
  * inverted index shuffles longs, not hex strings — a constant-factor
  * swap the scaladoc'd tests pin the selection semantics for.
  *
  * Scale shape: fingerprint extraction is one codegen-friendly
  * array pipeline per row (no shuffle, no window functions — the
  * sliding min runs inside a `transform` over the per-doc hash
  * array); pairing is the standard inverted-index equi-join on
  * fingerprint (one shuffle keyed by fingerprint, candidate work
  * ∝ shared fingerprints — the [[Dedup.minhashPairs]] shape, NOT
  * all-pairs). The df-cut guard drops stop-fingerprints shared by
  * more than `maxDf` docs before the join, the same frequency
  * backstop the n-gram index route uses.
  */
object Winnow {

  /** Distinct winnowing fingerprints per document: `(doc_id, fp)`.
    * `k` = tokens per gram, `w` = window size in grams.
    */
  def fingerprints(df: DataFrame, idCol: Column, textCol: Column,
                   k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val toks = df.select(idCol.cast("long").as("doc_id"),
      split(trim(textCol), "\\s+").as("t"))
    // shingles idiom: short docs still emit one (short) gram
    val hashes = toks.withColumn("h",
      transform(sequence(lit(1), greatest(size(col("t")) - (k - 1), lit(1))),
        i => md5(array_join(slice(col("t"), i, lit(k)), " "))))
    val fps = hashes.select(col("doc_id"), explode(
      transform(sequence(lit(1), greatest(size(col("h")) - (w - 1), lit(1))),
        i => array_min(slice(col("h"), i, lit(w))))).as("fp"))
    fps.distinct()
  }

  /** The 100 TB fingerprint form the md5 route's scaladoc promises:
    * `xxhash64` k-gram hashes with NUMERIC window-min, so the inverted
    * index shuffles 8-byte longs instead of 32-char hex strings.
    * Selection picks DIFFERENT (equally valid) fingerprints than the
    * md5-lexicographic order, so this variant has no cross-engine
    * oracle — it is pinned by the winnowing GUARANTEE instead
    * (WinnowSpec: any shared run of ≥ w+k-1 tokens yields ≥ 1 shared
    * fingerprint, on seeded random corpora), which is the property the
    * algorithm actually promises.
    */
  def fingerprintsHashed(df: DataFrame, idCol: Column, textCol: Column,
                         k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val toks = df.select(idCol.cast("long").as("doc_id"),
      split(trim(textCol), "\\s+").as("t"))
    val hashes = toks.withColumn("h",
      transform(sequence(lit(1), greatest(size(col("t")) - (k - 1), lit(1))),
        i => xxhash64(array_join(slice(col("t"), i, lit(k)), " "))))
    hashes.select(col("doc_id"), explode(
      transform(sequence(lit(1), greatest(size(col("h")) - (w - 1), lit(1))),
        i => array_min(slice(col("h"), i, lit(w))))).as("fp"))
      .distinct()
  }

  /** [[winnowPairs]] over the long-keyed [[fingerprintsHashed]] index —
    * the shape that ships at corpus scale.
    */
  def winnowPairsHashed(df: DataFrame, idCol: Column, textCol: Column,
                        k: Int, w: Int, minScore: Double,
                        maxDf: Int = 1000): DataFrame =
    pairsFromFingerprints(
      Materialize(fingerprintsHashed(df, idCol, textCol, k, w)),
      minScore, maxDf)

  /** Document pairs ranked by shared winnowing fingerprints:
    * `(id_a, id_b, shared, score)` where `score = shared /
    * min(|fps_a|, |fps_b|)` (containment-style, floor 4dp — the house
    * continuous-value contract). Pairs below `minScore` are dropped;
    * fingerprints shared by more than `maxDf` documents are treated
    * as corpus boilerplate and excluded from pairing (df-cut).
    */
  def winnowPairs(df: DataFrame, idCol: Column, textCol: Column,
                  k: Int, w: Int, minScore: Double,
                  maxDf: Int = 1000): DataFrame =
    pairsFromFingerprints(
      Materialize(fingerprints(df, idCol, textCol, k, w)),
      minScore, maxDf)

  /** Shared pairing tail: df-cut (groupBy + equi-join, partial-
    * aggregated) then the inverted-index self-join — candidate work
    * ∝ shared fingerprints, never all-pairs.
    */
  private def pairsFromFingerprints(fps: DataFrame, minScore: Double,
                                    maxDf: Int): DataFrame = {
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
    // df via groupBy (partial-aggregates map-side, so a boilerplate
    // fingerprint shared by millions of docs collapses per task) then
    // an equi-join back — a count-over-window here would shuffle every
    // (doc, fp) row to its fp's partition and make the hottest
    // fingerprint a single straggler task
    val keepFps = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select("fp")
    val rare = fps.join(keepFps, "fp")
    val pairs = rare.as("a").join(rare.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("nfp", "nfp_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("nfp", "nfp_b"), "id_b")
      .withColumn("score", floor(col("shared") /
        least(col("nfp_a"), col("nfp_b")).cast("double") * 10000.0) / 10000.0)
      .where(col("score") >= minScore)
      .select(col("id_a"), col("id_b"), col("shared"), col("score"))
  }

  /** DuckDB twin of [[fingerprints]] as a `(doc_id, fp)` subquery. */
  def fingerprintsSql(table: String, idExpr: String, textExpr: String,
                      k: Int, w: Int): String =
    s"""SELECT DISTINCT doc_id, fp FROM (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(h) - ${w - 1}, 1) + 1),
       |    i -> list_min(list_slice(h, i, i + ${w - 1})))) AS fp
       |  FROM (
       |    SELECT CAST($idExpr AS BIGINT) AS doc_id, list_transform(
       |      range(1, greatest(len(t) - ${k - 1}, 1) + 1),
       |      i -> md5(array_to_string(list_slice(t, i, i + ${k - 1}), ' '))) AS h
       |    FROM (SELECT $idExpr, string_split_regex(trim($textExpr), '\\s+') AS t
       |          FROM $table)))""".stripMargin

  /** DuckDB twin of [[winnowPairs]]. */
  def winnowPairsSql(table: String, idExpr: String, textExpr: String,
                     k: Int, w: Int, minScore: Double,
                     maxDf: Int = 1000): String =
    s"""WITH fps AS MATERIALIZED (
       |  ${fingerprintsSql(table, idExpr, textExpr, k, w)}),
       |sizes AS (SELECT doc_id, count(*) AS nfp FROM fps GROUP BY 1),
       |rare AS (SELECT doc_id, fp FROM (
       |  SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fps)
       |  WHERE df <= $maxDf),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
       |  FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared, score FROM (
       |  SELECT id_a, id_b, shared,
       |    floor(shared / least(sa.nfp, sb.nfp)::DOUBLE * 10000.0) / 10000.0
       |      AS score
       |  FROM pairs JOIN sizes sa ON pairs.id_a = sa.doc_id
       |             JOIN sizes sb ON pairs.id_b = sb.doc_id)
       |WHERE score >= $minScore""".stripMargin
}
