package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-engine DETERMINISTIC cardinality/frequency sketches
  * (HyperLogLog — Flajolet, Fusy, Gandouet & Meunier 2007; count–min
  * — Cormode & Muthukrishnan 2005) — the
  * bounded-state summaries a 100 TB curation pass runs instead of
  * exact distinct/frequency shuffles, built so the estimate itself is
  * bit-replayable by the DuckDB oracle (unlike the engine-native
  * `approx_count_distinct`/`approx_percentile`, whose sketch values
  * are implementation-specific — those are gated only within
  * tolerance by `q_approx_sketches`).
  *
  * Determinism recipe (shared with [[Sampling]]): every hash is
  * sha256 over a salt ++ the value, and every derived quantity stays
  * in EXACT integer arithmetic until one final float division:
  *
  *  - hex nibbles → integers via base-16 digit folding (both engines
  *    agree on lowercase-hex sha256);
  *  - HLL rank ρ = leading zeros + 1 computed from the BIT LENGTH of
  *    the hash field (`length(bin(w))` — identical string semantics
  *    in Spark and DuckDB), never from a float log2;
  *  - register contributions 2^(R−ρ) as integer SHIFTS, so the
  *    harmonic-mean denominator is an exact BIGINT sum, order-free;
  *  - the one unavoidable float step (α·m²·2^R / S) divides two
  *    exactly-represented values with literal-identical constants in
  *    both engines — IEEE 754 gives the same double everywhere.
  *
  * Scale shape: both sketches reduce the corpus through map-side
  * partial aggregation into FIXED-size state (m registers / d·w
  * counters) — no corpus-wide distinct shuffle, no driver collect —
  * and both states merge commutatively (register max / counter sum),
  * so the same code is the streaming/multi-shard combiner.
  */
object Sketches {

  /** HLL geometry: p register bits (m = 2^p registers) and an R−1-bit
    * rank field. R = 41 keeps the scaled harmonic denominator
    * Σ 2^(R−ρ) ≤ m·2^R = 2^(p+41) exact in BIGINT *and* double for
    * p ≤ 12 — the overflow headroom is why the rank field is 40 bits
    * of the hash, not 64 (cardinality ceiling ~2^40 per register
    * stream, far past any per-group corpus here).
    */
  val HllP = 12
  val HllM = 1 << HllP          // 4096 registers
  val HllRankCap = 41           // 40-bit field ⇒ ρ ∈ [1, 41]

  /** α_m·m²·2^R computed ONCE in JVM doubles and embedded as a
    * shortest-round-trip literal in both engines (Spark `lit`, DuckDB
    * `CAST(... AS DOUBLE)`): bare decimal literals parse as DECIMAL
    * (not double) in both SQL dialects, with dialect-specific
    * precision rules — a pre-computed double sidesteps that entirely,
    * and strtod round-trips the literal to the identical bits.
    */
  private val HllAlphaNum: Double =
    0.7213 / (1.0 + 1.079 / HllM) * HllM.toDouble * HllM.toDouble *
      (1L << HllRankCap).toDouble

  /** Fold `len` lowercase-hex nibbles starting at 1-based `pos` of
    * column `h` into a long — Spark side (conv handles ≤ 15 nibbles
    * within Long range; len ≤ 10 here).
    */
  private def hexField(h: Column, pos: Int, len: Int): Column =
    conv(substring(h, pos, len), 16, 10).cast("long")

  /** DuckDB twin of [[hexField]]: base-16 digit folding via strpos
    * over the nibble alphabet. Powers 16^(len−1) ≤ 16^9 stay exact in
    * double, so the folded sum is exact before the BIGINT cast.
    */
  private def hexFieldSql(h: String, pos: Int, len: Int): String =
    s"""CAST(list_sum(list_transform(range(1, ${len + 1}), i ->
       |  (strpos('0123456789abcdef', substr($h, ${pos - 1} + i, 1)) - 1)
       |    * power(16.0, $len - i))) AS BIGINT)""".stripMargin

  /** Per-group HLL register state: (group, reg ∈ [0, m), mx = max
    * rank). The distributed form — one narrow projection, one
    * partial-agg exchange of ≤ m rows per group; merging two states
    * is `max` per register (commutative/idempotent — shard- and
    * stream-safe).
    */
  def hllRegisters(df: DataFrame, groupCol: Column, keyCol: Column,
                   salt: String = "hll"): DataFrame = {
    val h = sha2(concat(lit(salt), keyCol.cast("string")), 256)
    val w = hexField(col("__h"), 4, 10)   // 40-bit rank field
    df.select(groupCol.as("grp"), h.as("__h"))
      .select(col("grp"),
        hexField(col("__h"), 1, 3).as("reg"),   // 12-bit register index
        when(w === 0L, lit(HllRankCap))
          .otherwise(lit(HllRankCap) - length(bin(w))).cast("int").as("rank"))
      .groupBy(col("grp"), col("reg"))
      .agg(max(col("rank")).as("mx"))
  }

  /** Per-group HLL estimate from [[hllRegisters]] state:
    * (grp, v_zero, s_int, hll_est). `s_int` is the exact scaled
    * harmonic denominator Σ_j 2^(R−M[j]) (absent registers contribute
    * 2^R), `v_zero` the empty-register count, and `hll_est` the
    * Flajolet estimator with the standard small-range correction:
    * linear counting `m·ln(m/V)` when the raw estimate
    * `α·m²·2^R / s_int` is ≤ 2.5m and V > 0 (the raw form is biased
    * high while registers are still empty), the raw estimate
    * otherwise. The BRANCH decision compares bit-identical doubles
    * and exact integers, so both engines always take the same arm;
    * the correction's `ln` is the one cross-engine libm call on the
    * surface (≤ 1 ulp of slack before the 4dp round — validated on
    * the gate fixture; every other step is exact-integer or IEEE-
    * pinned). Accuracy (±1.04/√m relative in the raw regime, tighter
    * under LC) is pinned by SketchesSpec against exact counts.
    */
  def hllEstimate(df: DataFrame, groupCol: Column, keyCol: Column,
                  salt: String = "hll"): DataFrame = {
    val regs = hllRegisters(df, groupCol, keyCol, salt)
    val mD = HllM.toDouble
    regs.groupBy(col("grp"))
      .agg(
        sum(expr(s"shiftleft(1L, $HllRankCap - mx)")).as("s_present"),
        count(lit(1)).as("n_present"))
      .select(col("grp"),
        (lit(HllM.toLong) - col("n_present")).as("v_zero"),
        (col("s_present") +
          (lit(HllM.toLong) - col("n_present")) * lit(1L << HllRankCap)).as("s_int"))
      .select(col("grp"), col("v_zero"), col("s_int"),
        (lit(HllAlphaNum) / col("s_int").cast("double")).as("raw"))
      .select(col("grp"), col("v_zero"), col("s_int"),
        round(
          when(col("raw") <= lit(2.5 * HllM) && col("v_zero") > 0L,
            lit(mD) * log(lit(mD) / col("v_zero").cast("double")))
            .otherwise(col("raw")), 4).as("hll_est"))
  }

  /** DuckDB twin of [[hllEstimate]] over exploded (grp, key) rows
    * provided by `fromSql` (a FROM-able subquery text exposing columns
    * `grp` and `key`).
    */
  def hllEstimateSql(fromSql: String, salt: String = "hll"): String = {
    val h = s"sha256('$salt' || CAST(key AS VARCHAR))"
    s"""WITH hashed AS (
       |  SELECT grp, $h AS h FROM ($fromSql)
       |), fields AS (
       |  SELECT grp,
       |    ${hexFieldSql("h", 1, 3)} AS reg,
       |    ${hexFieldSql("h", 4, 10)} AS w
       |  FROM hashed
       |), ranked AS (
       |  SELECT grp, reg,
       |    CASE WHEN w = 0 THEN $HllRankCap
       |         ELSE $HllRankCap - length(bin(w)) END AS rank
       |  FROM fields
       |), regs AS (
       |  SELECT grp, reg, max(rank) AS mx FROM ranked GROUP BY 1, 2
       |), grouped AS (
       |  SELECT grp,
       |    CAST(sum(CAST(1 AS BIGINT) << ($HllRankCap - mx)) AS BIGINT) AS s_present,
       |    count(*) AS n_present
       |  FROM regs GROUP BY 1
       |), state AS (
       |  SELECT grp, CAST($HllM - n_present AS BIGINT) AS v_zero,
       |    CAST(s_present + ($HllM - n_present) * (CAST(1 AS BIGINT) << $HllRankCap) AS BIGINT) AS s_int
       |  FROM grouped
       |), raw AS (
       |  SELECT grp, v_zero, s_int,
       |    CAST($HllAlphaNum AS DOUBLE) / CAST(s_int AS DOUBLE) AS r
       |  FROM state
       |)
       |SELECT grp, v_zero, s_int,
       |  round(CASE WHEN r <= CAST(${2.5 * HllM} AS DOUBLE) AND v_zero > 0
       |    THEN CAST($HllM AS DOUBLE) * ln(CAST($HllM AS DOUBLE) / CAST(v_zero AS DOUBLE))
       |    ELSE r END, 4) AS hll_est
       |FROM raw""".stripMargin
  }

  /** Count–min sketch geometry: `CmsDepth` independent hash rows ×
    * `CmsWidth` counters (2^12 — one 3-nibble hash field per row).
    * Point-estimate error: overcount ≤ corpus_tokens·e/w with
    * probability 1−e^−d; never an undercount.
    */
  val CmsDepth = 4
  val CmsWidth = 1 << 12

  /** The d bucket indices of a key: bucket_i = first 12 hash bits of
    * sha256("cms" ++ i ++ key). Array column of `CmsDepth` ints.
    */
  private def cmsBuckets(keyCol: Column): Column =
    array((0 until CmsDepth).map { d =>
      hexField(sha2(concat(lit(s"cms$d"), keyCol.cast("string")), 256), 1, 3)
    }: _*)

  private def cmsBucketSql(keyExpr: String, d: Int): String =
    hexFieldSql(s"sha256('cms$d' || CAST($keyExpr AS VARCHAR))", 1, 3)

  /** The sketch itself: (depth, bucket, n) — at most d·w rows out of
    * any corpus, built by one explode(d)+partial-agg pass (counter
    * merge = sum, so shards/streams combine exactly).
    */
  def cmsSketch(df: DataFrame, keyCol: Column): DataFrame =
    df.select(posexplode(cmsBuckets(keyCol)).as(Seq("depth", "bucket")))
      .groupBy(col("depth"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Point estimates for `probes` (a frame with a `term` column):
    * cms_n = min over the d rows of the probed counter — the classic
    * CM upper bound, exact integers end-to-end, for ARBITRARY probe
    * terms: a probed bucket the corpus never touched reads as counter
    * 0 (probes LEFT-join the sketch; an inner join would drop or
    * collision-inflate absent terms and break the 'min over d
    * counters, never an undercount' contract). The sketch is d·w ≤
    * 16384 rows by construction — broadcast it; the probe side stays
    * distributed at any probe count.
    */
  def cmsEstimate(df: DataFrame, keyCol: Column, probes: DataFrame): DataFrame = {
    val probed = probes.select(col("term"),
      posexplode(cmsBuckets(col("term"))).as(Seq("depth", "bucket")))
    probed.as("p")
      .join(broadcast(cmsSketch(df, keyCol)).as("s"),
        col("s.depth") === col("p.depth") && col("s.bucket") === col("p.bucket"),
        "left")
      .groupBy(col("p.term").as("term"))
      .agg(min(coalesce(col("s.n"), lit(0L))).as("cms_n"))
  }

  /** DuckDB twin of [[cmsEstimate]] joined back with exact counts:
    * emits (term, exact_n, cms_n) for the top `topN` terms of the
    * corpus stream `fromSql` (a FROM-able subquery exposing column
    * `key`), ordered by (exact_n DESC, term).
    */
  def cmsTopTermsSql(fromSql: String, topN: Int): String = {
    val unions = (0 until CmsDepth).map { d =>
      s"SELECT $d AS depth, ${cmsBucketSql("key", d)} AS bucket, key FROM toks"
    }.mkString("\n    UNION ALL\n    ")
    val probeBuckets = (0 until CmsDepth).map { d =>
      s"SELECT term, $d AS depth, ${cmsBucketSql("term", d)} AS bucket FROM probes"
    }.mkString("\n    UNION ALL\n    ")
    s"""WITH toks AS (
       |  SELECT key FROM ($fromSql)
       |), sketch AS (
       |  SELECT depth, bucket, count(*) AS n FROM (
       |    $unions
       |  ) GROUP BY 1, 2
       |), exact AS (
       |  SELECT key AS term, count(*) AS exact_n FROM toks GROUP BY 1
       |), probes AS (
       |  SELECT term FROM exact ORDER BY exact_n DESC, term LIMIT $topN
       |), pb AS (
       |    $probeBuckets
       |), est AS (
       |  SELECT pb.term, min(coalesce(s.n, 0)) AS cms_n
       |  FROM pb LEFT JOIN sketch s ON s.depth = pb.depth AND s.bucket = pb.bucket
       |  GROUP BY 1
       |)
       |SELECT e.term, CAST(e.exact_n AS BIGINT) AS exact_n,
       |  CAST(est.cms_n AS BIGINT) AS cms_n
       |FROM exact e JOIN est ON e.term = est.term
       |ORDER BY e.exact_n DESC, e.term""".stripMargin
  }

  /** Convenience for the oracle texts: the exploded lowercase
    * whitespace-token stream of a documents-like table, as a
    * FROM-able subquery exposing (`grp`, `key`) / (`key`).
    */
  def tokenStreamSql(table: String, grpExpr: String, textExpr: String): String =
    s"""SELECT $grpExpr AS grp, t AS key FROM (
       |  SELECT $grpExpr, unnest(string_split_regex(lower(trim($textExpr)),
       |    '${graft.text.TextAnalysis.WsClassSqlPublic}+')) AS t FROM $table)
       |WHERE t <> ''""".stripMargin

  /** Deterministic mergeable QUANTILE sketch: base-2 log buckets with
    * `subBits` sub-buckets per octave — the bounded-state percentile
    * answer at 100 TB, where `percentile()` needs a per-group sort and
    * the engine-native t-digest/KLL sketches are sampling-based (not
    * replayable cross-engine). Every nonnegative value lands in the
    * bucket keyed by its bit length (`length(bin(v))` — the HLL trick,
    * no float log2) and its top `subBits` mantissa bits; the quantile
    * estimate is the LOWER BOUND of the bucket holding the rank-
    * `ceil(q·n)` value, under-estimating by a relative error of at
    * most 2^-subBits. Bucket ids order exactly like values, values
    * `< 2^subBits` get exact singleton buckets.
    *
    * Scale shape: one map-side partial `groupBy(bucket)` into at most
    * `64·2^(subBits+1)` counters (fixed-size, commutative merge — the
    * streaming/multi-shard combiner for free); the cumulative pass
    * runs on that bounded bucket table (a single-partition window over
    * ≤ ~8k rows, bounded by construction, not by data).
    *
    * Input contract: a LONG column; nulls and negatives are dropped
    * (count them upstream if they matter).
    */
  def logQuantiles(df: DataFrame, valueCol: Column, qs: Seq[Double],
                   subBits: Int = 6): DataFrame =
    quantilesFromBuckets(bucketCounts(df, valueCol, subBits), qs)

  /** THE mergeable sketch state: `(bucket, lower, cnt)` — bounded at
    * `64·2^(subBits+1)` rows, commutative under count-sum merge. This
    * aggregation runs unchanged as a streaming complete-mode groupBy
    * ([[graft.streaming]] `streaming_quantiles` gate), which is the
    * point: the batch state IS the streaming combiner.
    */
  def bucketCounts(df: DataFrame, valueCol: Column,
                   subBits: Int = 6): DataFrame = {
    require(subBits >= 1 && subBits <= 16, "subBits must be in [1, 16]")
    val small = 1L << subBits
    df.select(valueCol.cast("long").as("__v"))
      .where(col("__v").isNotNull && col("__v") >= 0)
      .withColumn("__msb", (length(bin(col("__v"))) - 1).cast("long"))
      .withColumn("__t", expr(s"shiftright(__v, CAST(__msb AS INT) - $subBits)"))
      .select(
        when(col("__v") < small, col("__v"))
          .otherwise(col("__msb") * (small * 2) + col("__t")).as("bucket"),
        when(col("__v") < small, col("__v"))
          .otherwise(expr(s"shiftleft(__t, CAST(__msb AS INT) - $subBits)"))
          .as("lower"))
      .groupBy("bucket")
      .agg(min(col("lower")).as("lower"), count(lit(1)).as("cnt"))
  }

  /** Rank selection over a `(bucket, lower, cnt)` state table —
    * bounded input by construction, so the single-partition cumulative
    * window is a deliberate non-issue.
    */
  def quantilesFromBuckets(buckets: DataFrame, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      "quantiles must be in (0, 1]")
    val spark = buckets.sparkSession
    import spark.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy("bucket")
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val cum = buckets
      .withColumn("__cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(buckets.agg(sum(col("cnt")).as("__n"))))
    val qframe = qs.sorted.toDF("q")
    cum.crossJoin(broadcast(qframe))
      .withColumn("__rank", greatest(lit(1L), ceil(col("q") * col("__n"))))
      .where(col("__cum") >= col("__rank") &&
        col("__cum") - col("cnt") < col("__rank"))
      .select(col("q"), col("lower").as("value_lb"))
      .orderBy("q")
  }

  /** Per-group [[logQuantiles]]: the same bucket arithmetic keyed by
    * `(group, bucket)` — state is `groups × ≤ 64·2^(subBits+1)` rows,
    * still commutative under count-sum merge (the grouped streaming
    * combiner for free). Rank selection runs per group under a
    * group-partitioned window (parallel across groups — no
    * single-partition stage), with per-group totals as a second
    * window aggregate over the same partitioning, so the whole
    * selection costs ONE shuffle of the bounded state table. This is
    * the per-domain percentile the curation caps consume (per-domain
    * length/quality distributions) without the engine-native
    * sort-per-group `percentile` path.
    *
    * Output: `(groupName, q, value_lb)` ordered by (group, q).
    */
  def logQuantilesBy(df: DataFrame, groupName: String, valueCol: Column,
                     qs: Seq[Double], subBits: Int = 6): DataFrame =
    quantilesFromBucketsBy(bucketCountsBy(df, groupName, valueCol, subBits),
      groupName, qs)

  /** Per-group rank selection over a `(group, bucket, lower, cnt)`
    * state table — the same table [[bucketCountsBy]] produces in batch
    * OR as a complete-mode streaming groupBy (the grouped state is
    * commutative, so the maintained stream state feeds this selection
    * unchanged).
    */
  def quantilesFromBucketsBy(buckets: DataFrame, groupName: String,
                             qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      "quantiles must be in (0, 1]")
    val spark = buckets.sparkSession
    import spark.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val wCum = W.partitionBy(groupName).orderBy("bucket")
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val wTot = W.partitionBy(groupName)
    val cum = buckets
      .withColumn("__cum", sum(col("cnt")).over(wCum))
      .withColumn("__n", sum(col("cnt")).over(wTot))
    val qframe = qs.sorted.toDF("q")
    cum.crossJoin(broadcast(qframe))
      .withColumn("__rank", greatest(lit(1L), ceil(col("q") * col("__n"))))
      .where(col("__cum") >= col("__rank") &&
        col("__cum") - col("cnt") < col("__rank"))
      .select(col(groupName), col("q"), col("lower").as("value_lb"))
      .orderBy(groupName, "q")
  }

  /** Grouped sketch state: `(group, bucket, lower, cnt)` — the
    * [[bucketCounts]] aggregation keyed by the group column.
    */
  def bucketCountsBy(df: DataFrame, groupName: String, valueCol: Column,
                     subBits: Int = 6): DataFrame = {
    require(subBits >= 1 && subBits <= 16, "subBits must be in [1, 16]")
    val small = 1L << subBits
    df.select(col(groupName), valueCol.cast("long").as("__v"))
      .where(col("__v").isNotNull && col("__v") >= 0)
      .withColumn("__msb", (length(bin(col("__v"))) - 1).cast("long"))
      .withColumn("__t", expr(s"shiftright(__v, CAST(__msb AS INT) - $subBits)"))
      .select(
        col(groupName),
        when(col("__v") < small, col("__v"))
          .otherwise(col("__msb") * (small * 2) + col("__t")).as("bucket"),
        when(col("__v") < small, col("__v"))
          .otherwise(expr(s"shiftleft(__t, CAST(__msb AS INT) - $subBits)"))
          .as("lower"))
      .groupBy(col(groupName), col("bucket"))
      .agg(min(col("lower")).as("lower"), count(lit(1)).as("cnt"))
  }

  /** DuckDB twin of [[logQuantilesBy]] — the [[logQuantilesSql]]
    * bucketing with the group key threaded through aggregation, both
    * windows, and rank selection.
    */
  def logQuantilesBySql(table: String, groupExpr: String, groupAlias: String,
                        valueExpr: String, qs: Seq[Double],
                        subBits: Int = 6): String = {
    val small = 1L << subBits
    val qList = qs.sorted.mkString(", ")
    s"""WITH vals AS (
       |  SELECT $groupExpr AS g, CAST($valueExpr AS BIGINT) AS v FROM $table
       |  WHERE $valueExpr IS NOT NULL AND $valueExpr >= 0),
       |b AS (
       |  SELECT g, CASE WHEN v < $small THEN v
       |           ELSE (len(bin(v)) - 1) * ${small * 2}
       |                + (v >> (len(bin(v)) - 1 - $subBits)) END AS bucket,
       |    min(CASE WHEN v < $small THEN v
       |          ELSE (v >> (len(bin(v)) - 1 - $subBits))
       |               << (len(bin(v)) - 1 - $subBits) END) AS lower,
       |    count(*) AS cnt
       |  FROM vals GROUP BY 1, 2),
       |c AS (
       |  SELECT g, bucket, lower, cnt,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY bucket
       |                   ROWS UNBOUNDED PRECEDING) AS cum,
       |    SUM(cnt) OVER (PARTITION BY g) AS n
       |  FROM b),
       |qq AS (SELECT CAST(unnest([$qList]) AS DOUBLE) AS q)
       |SELECT g AS $groupAlias, q, CAST(lower AS BIGINT) AS value_lb
       |FROM c, qq
       |WHERE cum >= greatest(1, ceil(q * n))
       |  AND cum - cnt < greatest(1, ceil(q * n))
       |ORDER BY g, q""".stripMargin
  }

  /** DuckDB twin of [[logQuantiles]] — identical integer bucketing
    * (`len(bin(v))` bit length, shift arithmetic) and rank selection.
    */
  def logQuantilesSql(table: String, valueExpr: String, qs: Seq[Double],
                      subBits: Int = 6): String = {
    val small = 1L << subBits
    val qList = qs.sorted.mkString(", ")
    s"""WITH vals AS (
       |  SELECT CAST($valueExpr AS BIGINT) AS v FROM $table
       |  WHERE $valueExpr IS NOT NULL AND $valueExpr >= 0),
       |b AS (
       |  SELECT CASE WHEN v < $small THEN v
       |           ELSE (len(bin(v)) - 1) * ${small * 2}
       |                + (v >> (len(bin(v)) - 1 - $subBits)) END AS bucket,
       |    min(CASE WHEN v < $small THEN v
       |          ELSE (v >> (len(bin(v)) - 1 - $subBits))
       |               << (len(bin(v)) - 1 - $subBits) END) AS lower,
       |    count(*) AS cnt
       |  FROM vals GROUP BY 1),
       |c AS (
       |  SELECT bucket, lower, cnt,
       |    SUM(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM b),
       |n AS (SELECT SUM(cnt) AS n FROM b),
       |qq AS (SELECT CAST(unnest([$qList]) AS DOUBLE) AS q)
       |SELECT q, CAST(lower AS BIGINT) AS value_lb
       |FROM c, n, qq
       |WHERE cum >= greatest(1, ceil(q * n))
       |  AND cum - cnt < greatest(1, ceil(q * n))
       |ORDER BY q""".stripMargin
  }
}
