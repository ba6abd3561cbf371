package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Corpus-level embedding statistics — mean, covariance, top principal
  * component — the "what does my vector corpus look like" layer a
  * training-data pipeline runs before whitening, outlier pruning, or
  * dimensionality decisions (reference analog: the inspect/monitor gap
  * around `/root/reference/extract_and_embed.py`'s blind insert path;
  * there is no reference operator — this is the scale-completion of
  * the vector column as a first-class analytical surface).
  *
  * Determinism contract (the [[graft.operators.PageRank]] trick applied
  * to second moments): components quantize to integers at `scale`
  * (default 1e4, i.e. 4dp — embedding components are unit-order), ALL
  * accumulation is exact integer arithmetic (Spark decimal(38,0) /
  * DuckDB HUGEINT), and the only floating-point steps are final
  * divisions of identical exact operands — so every emitted double is
  * bit-identical across engines and shuffle orders. Headroom: the
  * widest intermediate is `N · S_ij ≤ N² · (2·scale·max|x|)²`; at
  * max|x| = 2 and scale = 1e4 that stays inside decimal(38,0) for
  * N < ~10¹³ rows — past any corpus this engine targets.
  *
  * Scale shape: ONE pass over the corpus through a single primitive
  * aggregate ([[MomentSumsAgg]]): per row, a tight upper-triangle loop
  * into a `long[]` accumulator — no exploded struct stream, no
  * per-entry hash-aggregate probes (the explode form this replaced is
  * ~1.18M generated rows per document at dim 1536) — and the shuffle
  * carries exactly one d²-bounded partial buffer per map partition.
  * The d²-bounded covariance then trains the top eigenvector
  * driver-side (power iteration; bounded by construction exactly like
  * the IVF/PQ codebooks in [[Ann]]/[[Quantize]]), and the
  * corpus-scale APPLY step ([[pcaProject]]) is a narrow map against
  * the broadcast component.
  */
object EmbStats extends Serializable {

  /** Components quantized to exact integers: `round(x · scale)` half-up
    * via `floor(x·scale + 0.5)` — the one rounding both engines state
    * identically for doubles (DuckDB `round` is half-away-from-zero,
    * JVM `math.round` is half-up; `floor(+0.5)` sidesteps both).
    */
  private[vector] def quantized(emb: Column, scale: Int): Column =
    transform(emb, x => floor(x.cast("double") * scale + 0.5d).cast("long"))

  private def quantizedSql(embExpr: String, scale: Int): String =
    s"list_transform($embExpr, x -> CAST(floor(CAST(x AS DOUBLE) * $scale + 0.5) AS BIGINT))"

  /** Exact integer moment sums, one corpus pass: rows `(i, j, s, n)`
    * with `j ≥ 1` = upper-triangle second moments Σ qeᵢ·qeⱼ and
    * `j = 0` = first moments Σ qeᵢ (n = row count on every row).
    * Rows with null / wrong-length embeddings are dropped (counted
    * out of n).
    */
  private def momentSums(df: DataFrame, embCol: Column, dim: Int,
                         scale: Int): DataFrame =
    momentSumsOfInts(
      df.where(embCol.isNotNull && size(embCol) === dim)
        .select(quantized(embCol, scale).as("__qe")), dim)

  /** [[momentSums]] over a frame whose single `__qe` column is ALREADY
    * an exact `array<long>` (no quantization applied) — the entry
    * point the randomized-PCA second pass uses on its basis-projected
    * integers.
    */
  private def momentSumsOfInts(qdf: DataFrame, dim: Int): DataFrame = {
    val spark = qdf.sparkSession
    val buf = qdf
      .agg(MomentAgg.momentSums(col("__qe"), dim).as("__b"))
    // corpus-independent (i, j) index frame over the buffer layout:
    // j = 0 carries the first-moment sentinel, j ≥ i the upper
    // triangle — the same output domain as the explode form this
    // replaced, derived from one dim²-bounded generator task
    val idx = spark.range(1, dim + 1)
      .select(col("id").cast("int").as("i"),
        explode(concat(array(lit(0)),
          sequence(col("id").cast("int"), lit(dim)))).as("j"))
    val slot = when(col("j") === 0, col("i").cast("long"))
      .otherwise(lit((dim + 1).toLong)
        + (col("i") - 1).cast("long") * (dim + 1)
        - (col("i") - 1).cast("long") * col("i") / 2
        + (col("j") - col("i")).cast("long"))
    idx.crossJoin(broadcast(buf))
      .select(col("i"), col("j"),
        element_at(col("__b"), (slot + 1).cast("int")).as("s"),
        element_at(col("__b"), 1).cast("long").as("n"))
      .where(col("n") > 0) // empty corpus → empty output, like groupBy
  }

  /** Population covariance matrix, upper triangle: `(i, j, cov)` for
    * `1 ≤ i ≤ j ≤ dim`, where
    * `cov = (N·S_ij − T_i·T_j) / (N² · scale²)` — numerator exact
    * integer, one final double division. Bit-identical across engines
    * and partitionings.
    */
  def covariance(df: DataFrame, embCol: Column, dim: Int,
                 scale: Int = 10000): DataFrame = {
    require(dim > 0 && scale > 0, "dim and scale must be positive")
    covarianceOfMoments(momentSums(df, embCol, dim, scale), scale.toDouble)
  }

  /** Covariance assembly over a [[momentSums]]-shaped frame with an
    * explicit per-x-unit quantization scale (the divisor is
    * `n² · unitScale²`).
    */
  private def covarianceOfMoments(ms: DataFrame,
                                  unitScale: Double): DataFrame = {
    val second = ms.where(col("j") > 0)
    val first = ms.where(col("j") === 0)
      .select(col("i").as("ti"), col("s").as("t"))
    val denom = (col("n").cast("double") * col("n")) * (unitScale * unitScale)
    second
      .join(broadcast(first.select(col("ti"), col("t").as("t_i"))), col("i") === col("ti"))
      .drop("ti")
      .join(broadcast(first.select(col("ti"), col("t").as("t_j"))), col("j") === col("ti"))
      .drop("ti")
      .select(col("i"), col("j"),
        ((col("s") * col("n") - col("t_i") * col("t_j")).cast("double") / denom)
          .as("cov"))
  }

  /** Shared CTE block ending in `covq(i, j, cov)` — the upper-triangle
    * covariance all three oracle twins build on.
    */
  private def covCtes(table: String, embExpr: String, dim: Int,
                      scale: Int): String = {
    val qe = quantizedSql(embExpr, scale)
    s"""q AS MATERIALIZED (
       |  SELECT $qe AS qe FROM $table
       |  WHERE $embExpr IS NOT NULL AND len($embExpr) = $dim),
       |second AS MATERIALIZED (
       |  SELECT i.range AS i, j.range AS j,
       |    SUM(CAST(qe[CAST(i.range AS INTEGER)] AS HUGEINT)
       |        * qe[CAST(j.range AS INTEGER)]) AS s,
       |    COUNT(*) AS n
       |  FROM q, range(1, ${dim + 1}) i, range(1, ${dim + 1}) j
       |  WHERE j.range >= i.range GROUP BY 1, 2),
       |first AS MATERIALIZED (
       |  SELECT i.range AS i, SUM(CAST(qe[CAST(i.range AS INTEGER)] AS HUGEINT)) AS t
       |  FROM q, range(1, ${dim + 1}) i GROUP BY 1),
       |covq AS MATERIALIZED (
       |  SELECT s.i AS i, s.j AS j,
       |    CAST(s.s * s.n - ti.t * tj.t AS DOUBLE)
       |      / ((CAST(s.n AS DOUBLE) * s.n) * (CAST($scale AS DOUBLE) * $scale)) AS cov
       |  FROM second s JOIN first ti ON s.i = ti.i JOIN first tj ON s.j = tj.i)""".stripMargin
  }

  /** DuckDB twin of [[covariance]] (upper triangle; HUGEINT exact
    * accumulation, same final division shape).
    */
  def covarianceSql(table: String, embExpr: String, dim: Int,
                    scale: Int = 10000): String =
    s"""WITH ${covCtes(table, embExpr, dim, scale)}
       |SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j, cov FROM covq""".stripMargin

  /** Power iteration over an exact integer covariance image:
    * `cint = floor(cov·1e6 + 0.5)`, `v₀ = [1e6, …]`, then `iters`
    * rounds of `w = Cint·v` (exact long), `v = floor(w/‖w‖·1e6 + 0.5)`
    * (‖w‖ via exact Σw² then one sqrt). Returns (vInt, eigenvalue):
    * the 1e6-scaled component with the sign fixed so the
    * largest-|entry| coordinate (lowest index on ties) is positive,
    * and the Rayleigh quotient `vᵀCv / (vᵀv · 1e6)` from exact sums.
    */
  private[vector] def powerIterate(cov: Array[Array[Double]],
                                   iters: Int): (Array[Long], Double) = {
    val d = cov.length
    val VS = 1000000L
    val cint = cov.map(_.map(c => math.floor(c * VS + 0.5d).toLong))
    var v = Array.fill(d)(VS)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d) { i =>
        var acc = 0L
        var j = 0
        while (j < d) { acc += cint(i)(j) * v(j); j += 1 }
        acc
      }
      val n2 = w.foldLeft(BigInt(0))((a, x) => a + BigInt(x) * BigInt(x))
      val nrm = math.sqrt(n2.doubleValue)
      v = w.map(x => math.floor(x.toDouble / nrm * VS + 0.5d).toLong)
    }
    val top = v.indices.maxBy(i => (math.abs(v(i)), -i))
    if (v(top) < 0) v = v.map(-_)
    val num = (for (i <- 0 until d; j <- 0 until d)
      yield BigInt(v(i)) * BigInt(cint(i)(j)) * BigInt(v(j))).sum
    val den = v.foldLeft(BigInt(0))((a, x) => a + BigInt(x) * BigInt(x)) * VS
    (v, (BigDecimal(num) / BigDecimal(den)).doubleValue)
  }

  /** Test seam for [[covMatrix]]. */
  private[vector] def covMatrixForTest(df: DataFrame, embCol: Column,
                                       dim: Int): Array[Array[Double]] =
    covMatrix(df, embCol, dim, scale = 10000)

  /** Collects the (dim²-bounded, corpus-independent) covariance and
    * returns it as a dense symmetric array — bounded driver state by
    * construction, same contract as the IVF/PQ training collects.
    */
  private[vector] def covMatrix(df: DataFrame, embCol: Column, dim: Int,
                                scale: Int): Array[Array[Double]] = {
    val m = Array.ofDim[Double](dim, dim)
    covariance(df, embCol, dim, scale).collect().foreach { r =>
      val (i, j, c) = (r.getInt(0) - 1, r.getInt(1) - 1, r.getDouble(2))
      m(i)(j) = c
      m(j)(i) = c
    }
    m
  }

  /** Top principal component: rows `(i, v, eigenvalue)` with `v` the
    * unit component at 6dp (`v_int / 1e6`).
    */
  def pcaTop(df: DataFrame, embCol: Column, dim: Int, iters: Int = 12,
             scale: Int = 10000): DataFrame = {
    require(iters > 0, "iters must be positive")
    val (v, lambda) = powerIterate(covMatrix(df, embCol, dim, scale), iters)
    val spark = df.sparkSession
    import spark.implicits._
    v.toSeq.zipWithIndex
      .map { case (vi, i) => (i + 1, vi / 1e6d, lambda) }
      .toDF("i", "v", "eigenvalue")
  }

  /** DuckDB twin of [[pcaTop]]: the identical integer power iteration
    * unrolled as `iters` chained CTEs over the covariance CTE.
    */
  def pcaTopSql(table: String, embExpr: String, dim: Int, iters: Int = 12,
                scale: Int = 10000): String = {
    s"""WITH ${powerCtes(table, embExpr, dim, iters, scale)},
       |ray AS (
       |  SELECT CAST(SUM(CAST(a.v AS HUGEINT) * c.cint * b.v) AS DOUBLE)
       |       / CAST((SELECT SUM(CAST(v AS HUGEINT) * v) FROM vf) * 1000000 AS DOUBLE)
       |       AS eigenvalue
       |  FROM cint c JOIN vf a ON c.i = a.i JOIN vf b ON c.j = b.i)
       |SELECT CAST(vf.i AS INTEGER) AS i, CAST(vf.v AS DOUBLE) / 1000000 AS v,
       |  ray.eigenvalue
       |FROM vf, ray""".stripMargin
  }

  /** CTE block ending in `vf(i, v)` — the sign-fixed 1e6-scaled
    * component after `iters` unrolled integer power steps, plus the
    * `cint` integer covariance image the Rayleigh quotient reuses.
    */
  private def powerCtes(table: String, embExpr: String, dim: Int,
                        iters: Int, scale: Int): String = {
    val steps = (1 to iters).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT c.i, SUM(c.cint * v.v) AS w FROM cint c
         |  JOIN v${t - 1} v ON c.j = v.i GROUP BY c.i),
         |n$t AS MATERIALIZED (SELECT sqrt(CAST(SUM(CAST(w AS HUGEINT) * w) AS DOUBLE)) AS nrm FROM w$t),
         |v$t AS MATERIALIZED (
         |  SELECT i, CAST(floor(CAST(w AS DOUBLE) / nrm * 1000000 + 0.5) AS BIGINT) AS v
         |  FROM w$t, n$t)""".stripMargin
    }.mkString(",\n")
    s"""${covCtes(table, embExpr, dim, scale)},
       |cfull AS MATERIALIZED (
       |  SELECT i, j, cov FROM covq
       |  UNION ALL SELECT j, i, cov FROM covq WHERE i <> j),
       |cint AS MATERIALIZED (
       |  SELECT i, j, CAST(floor(cov * 1000000 + 0.5) AS BIGINT) AS cint FROM cfull),
       |v0 AS MATERIALIZED (SELECT range AS i, CAST(1000000 AS BIGINT) AS v FROM range(1, ${dim + 1})),
       |$steps,
       |sgn AS MATERIALIZED (
       |  SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg FROM v$iters
       |  ORDER BY abs(v) DESC, i LIMIT 1),
       |vf AS MATERIALIZED (SELECT i, v * sg AS v FROM v$iters, sgn)""".stripMargin
  }

  /** Corpus-scale apply: first-principal-component score per row —
    * `score = Σ qeᵢ·vᵢ / (scale·1e6)`, exact integer dot against the
    * broadcast trained component; narrow map, no shuffle. THIS is the
    * 100 TB-shaped step (the training above is dim-bounded).
    */
  def pcaProject(df: DataFrame, idCol: Column, embCol: Column, dim: Int,
                 iters: Int = 12, scale: Int = 10000): DataFrame = {
    val (v, _) = powerIterate(covMatrix(df, embCol, dim, scale), iters)
    val vLit = array(v.map(lit): _*)
    df.where(embCol.isNotNull && size(embCol) === dim)
      .select(idCol.as("id"),
        (aggregate(
          zip_with(quantized(embCol, scale), vLit, (q, c) => q * c),
          lit(0L), (a, x) => a + x).cast("double")
          / (scale.toDouble * 1e6d)).as("score"))
  }

  /** Per-dimension z-score standardization — the whitening front step
    * the module doc promises. Training is the same one-pass exact
    * integer moment aggregate restricted to the diagonal (mean and
    * variance per dimension; d-bounded driver state, the
    * [[covMatrix]] contract), and the corpus-scale APPLY is a narrow
    * map against the broadcast per-dim (mean, std) pair:
    * `z_i = (qe_i − μ_i) / σ_i` at the quantized scale — the scale
    * factor cancels, so z is the true z-score of the quantized
    * component. μ and σ are single double operations on exact integer
    * operands (one division; one sqrt of an exact integer), so every
    * emitted double is bit-identical across engines and shuffle
    * orders, per the module determinism contract. Zero-variance
    * dimensions standardize to 0.0 (the convention that keeps
    * constant columns from poisoning downstream distances).
    */
  def standardize(df: DataFrame, idCol: Column, embCol: Column, dim: Int,
                  scale: Int = 10000): DataFrame = {
    val ms = momentSums(df, embCol, dim, scale)
    // diagonal + first moments only: (i, n, t, s_ii), d rows, bounded
    val stats = ms.where(col("j") === 0)
      .select(col("i"), col("s").as("t"), col("n"))
      .join(ms.where(col("j") === col("i"))
          .select(col("i"), col("s").as("sii")),
        Seq("i"))
      .collect()
      .map { r =>
        val (i, t, n, sii) =
          (r.getInt(0), r.getDecimal(1).toBigInteger, r.getLong(2),
            r.getDecimal(3).toBigInteger)
        val nB = java.math.BigInteger.valueOf(n)
        val mean = new java.math.BigDecimal(t).doubleValue() / n
        // population variance numerator n·S_ii − T_i², exact
        val num = sii.multiply(nB).subtract(t.multiply(t))
        val std = math.sqrt(new java.math.BigDecimal(num).doubleValue()) / n
        (i, mean, std)
      }.sortBy(_._1)
    require(stats.length == dim || stats.isEmpty,
      s"moment stats rows ${stats.length} != dim $dim")
    // empty corpus: the filter below emits no rows; any literal works
    val safe = if (stats.nonEmpty) stats
               else (1 to dim).map(i => (i, 0d, 0d)).toArray
    val meanLit = array(safe.map(s => lit(s._2)): _*)
    val stdLit = array(safe.map(s => lit(s._3)): _*)
    df.where(embCol.isNotNull && size(embCol) === dim)
      .select(idCol.as("id"),
        zip_with(quantized(embCol, scale), meanLit, (q, m) => q.cast("double") - m)
          .as("__c"), stdLit.as("__s"))
      .select(col("id"),
        zip_with(col("__c"), col("__s"),
          (c, s) => when(s === 0d, 0d).otherwise(c / s)).as("z"))
  }

  /** DuckDB twin of [[standardize]] — identical moment arithmetic
    * (HUGEINT exact), identical final double steps, identical
    * zero-variance convention.
    */
  def standardizeSql(table: String, idExpr: String, embExpr: String,
                     dim: Int, scale: Int = 10000): String = {
    val qe = quantizedSql(embExpr, scale)
    s"""WITH q AS MATERIALIZED (
       |  SELECT $qe AS qe FROM $table
       |  WHERE $embExpr IS NOT NULL AND len($embExpr) = $dim),
       |st AS MATERIALIZED (
       |  SELECT i.range AS i,
       |    CAST(SUM(CAST(qe[CAST(i.range AS INTEGER)] AS HUGEINT)) AS DOUBLE)
       |      / COUNT(*) AS mean,
       |    sqrt(CAST(COUNT(*) * SUM(CAST(qe[CAST(i.range AS INTEGER)] AS HUGEINT)
       |                             * qe[CAST(i.range AS INTEGER)])
       |              - SUM(CAST(qe[CAST(i.range AS INTEGER)] AS HUGEINT))
       |                * SUM(CAST(qe[CAST(i.range AS INTEGER)] AS HUGEINT))
       |         AS DOUBLE)) / COUNT(*) AS std
       |  FROM q, range(1, ${dim + 1}) i GROUP BY 1),
       |marr AS MATERIALIZED (
       |  SELECT list(mean ORDER BY i) AS ms, list(std ORDER BY i) AS ss FROM st)
       |SELECT $idExpr AS id,
       |  list_transform(range(1, ${dim + 1}), k ->
       |    CASE WHEN ss[CAST(k AS INTEGER)] = 0 THEN 0.0
       |    ELSE (CAST($qe[CAST(k AS INTEGER)] AS DOUBLE)
       |          - ms[CAST(k AS INTEGER)]) / ss[CAST(k AS INTEGER)] END) AS z
       |FROM $table, marr
       |WHERE $embExpr IS NOT NULL AND len($embExpr) = $dim""".stripMargin
  }

  /** Diagonal-Mahalanobis outlier scores over [[standardize]]'s
    * z-space: `m2 = Σ z_i²` (the squared Mahalanobis distance under a
    * diagonal covariance assumption — E[m2] = dim for in-distribution
    * rows), plus the `is_outlier` flag at `m2 > threshold·dim`. The
    * embedding-space pruning step a curation pipeline runs before
    * clustering (broken encoders, empty inputs, and wrong-domain rows
    * all land in the tail). Same shape as standardize: d-bounded
    * train, narrow apply; the index-ordered fold keeps the float sum
    * shuffle-order-free in both engines.
    */
  def outlierScores(df: DataFrame, idCol: Column, embCol: Column, dim: Int,
                    threshold: Double = 2.0,
                    scale: Int = 10000): DataFrame =
    standardize(df, idCol, embCol, dim, scale)
      .select(col("id"),
        round(aggregate(col("z"), lit(0.0d), (a, zz) => a + zz * zz), 4)
          .as("m2"))
      .select(col("id"), col("m2"),
        (col("m2") > threshold * dim).as("is_outlier"))

  /** DuckDB twin of [[outlierScores]]. */
  def outlierScoresSql(table: String, idExpr: String, embExpr: String,
                       dim: Int, threshold: Double = 2.0,
                       scale: Int = 10000): String =
    s"""SELECT id,
       |  round(list_sum(list_transform(z, zz -> zz * zz)), 4) AS m2,
       |  round(list_sum(list_transform(z, zz -> zz * zz)), 4)
       |    > ${threshold * dim} AS is_outlier
       |FROM (${standardizeSql(table, idExpr, embExpr, dim, scale)})""".stripMargin

  // Sign-matrix hash constants for [[randomProjection]] — the affine
  // mod-prime family of [[graft.operators.Splits.idHash]] (identical
  // arithmetic both engines; (i·131071 + j) < 2³¹ keeps the pre-image
  // distinct per (i, j) at any dim/k this engine targets, and the
  // reduced multiply never overflows signed 64-bit).
  private val RpM = 1000003L
  private val RpA = 2654435761L
  private val RpB = 40503L
  private val RpP = 99991L

  private def rpSign(i: Int, j: Int): Long = {
    val h = (((i.toLong * 131071L + j) % RpM) * RpA + RpB) % RpP
    if (h % 2 == 0) 1L else -1L
  }

  /** Johnson–Lindenstrauss sign random projection, `dim → k`:
    * `y_j = Σ_i qe_i · s(i,j) / scale` with `s ∈ {±1}` a pure affine
    * hash of `(i, j)` — the seedless-reproducible analog of a Gaussian
    * projection (Achlioptas-style sign matrix). The accumulation is
    * exact long arithmetic; the single final division makes the
    * emitted doubles bit-identical across engines. A narrow map — no
    * shuffle, no training pass, no broadcast state beyond the k·dim
    * literal sign rows — THE pre-reduction step before LSH/clustering
    * when the native dimensionality (1536 at the reference's model)
    * makes per-pair work expensive.
    */
  def randomProjection(df: DataFrame, idCol: Column, embCol: Column,
                       dim: Int, k: Int, scale: Int = 10000): DataFrame = {
    require(k > 0 && dim > 0, "dim and k must be positive")
    val qe = quantized(embCol, scale)
    val ys = (1 to k).map { j =>
      val signs = array((1 to dim).map(i => lit(rpSign(i, j))): _*)
      (aggregate(zip_with(qe, signs, (q, s) => q * s), lit(0L),
        (a, x) => a + x).cast("double") / scale.toDouble)
    }
    df.where(embCol.isNotNull && size(embCol) === dim)
      .select(idCol.as("id"), array(ys: _*).as("y"))
  }

  /** DuckDB twin of [[randomProjection]] — the sign hash inlined as the
    * same integer expression.
    */
  def randomProjectionSql(table: String, idExpr: String, embExpr: String,
                          dim: Int, k: Int, scale: Int = 10000): String = {
    val qe = quantizedSql(embExpr, scale)
    s"""WITH s AS MATERIALIZED (
       |  SELECT i.range AS i, j.range AS j,
       |    CASE WHEN ((((i.range * 131071 + j.range) % $RpM) * $RpA + $RpB)
       |               % $RpP) % 2 = 0 THEN 1 ELSE -1 END AS sg
       |  FROM range(1, ${dim + 1}) i, range(1, ${k + 1}) j),
       |sj AS MATERIALIZED (
       |  SELECT j, list(CAST(sg AS BIGINT) ORDER BY i) AS sgs FROM s GROUP BY j),
       |mat AS MATERIALIZED (SELECT list(sgs ORDER BY j) AS m FROM sj)
       |SELECT $idExpr AS id,
       |  list_transform(range(1, ${k + 1}), j0 ->
       |    CAST(list_sum(list_transform(range(1, ${dim + 1}), i0 ->
       |      ($qe)[CAST(i0 AS INTEGER)]
       |        * m[CAST(j0 AS INTEGER)][CAST(i0 AS INTEGER)])) AS DOUBLE)
       |      / $scale) AS y
       |FROM $table, mat
       |WHERE $embExpr IS NOT NULL AND len($embExpr) = $dim""".stripMargin
  }

  /** DuckDB twin of [[pcaProject]]. */
  def pcaProjectSql(table: String, idExpr: String, embExpr: String, dim: Int,
                    iters: Int = 12, scale: Int = 10000): String =
    s"""WITH ${powerCtes(table, embExpr, dim, iters, scale)},
       |varr AS MATERIALIZED (SELECT list(v ORDER BY i) AS vs FROM vf)
       |SELECT $idExpr AS id,
       |  CAST(list_sum(list_transform(range(1, ${dim + 1}), k ->
       |    ${quantizedSql(embExpr, scale)}[CAST(k AS INTEGER)]
       |      * vs[CAST(k AS INTEGER)])) AS DOUBLE)
       |    / (CAST($scale AS DOUBLE) * 1000000) AS score
       |FROM $table, varr
       |WHERE $embExpr IS NOT NULL AND len($embExpr) = $dim""".stripMargin

  // ------------------------------------------------------------------ //
  // Randomized (sketched) PCA — Halko-style range finder               //
  // ------------------------------------------------------------------ //

  /** Exact integer projections onto the seedless ±1 sign matrix,
    * WITHOUT the unit rescale [[randomProjection]] applies:
    * `yq_j = Σ_i qe_i · s(i,j)` as exact longs — the sketch column the
    * cross-moment pass consumes.
    */
  private def signProjectInts(qe: Column, dim: Int, k: Int): Column =
    array((1 to k).map { j =>
      val signs = array((1 to dim).map(i => lit(rpSign(i, j))): _*)
      aggregate(zip_with(qe, signs, (a, b) => a * b), lit(0L), (a, x) => a + x)
    }: _*)

  /** Exact integer projection of a quantized row onto the trained
    * basis, rescaled back to the quantization unit:
    * `bs_j = floor(Σ_i qe_i · Q_ij / 1e6 + 0.5)` — since each basis
    * column is ~unit at the 1e6 integer scale, `bs` is `⟨x, q̂_j⟩` at
    * the original `scale`, which keeps the second-moment products
    * inside [[MomentSumsAgg]]'s per-row long bound.
    */
  private def basisProject(qe: Column, q: Array[Array[Long]]): Column =
    array(q.map { qj =>
      val qLit = array(qj.map(lit): _*)
      floor(aggregate(zip_with(qe, qLit, (a, b) => a * b), lit(0L),
          (a, x) => a + x).cast("double") / 1e6d + 0.5d).cast("long")
    }: _*)

  /** Collected k×k covariance of an already-integer `__qe` frame with
    * an explicit per-x-unit scale — the randomized second pass's
    * bounded driver state (same contract as [[covMatrix]]).
    */
  private def covMatrixOfInts(qdf: DataFrame, dim: Int,
                              unitScale: Double): Array[Array[Double]] = {
    val m = Array.ofDim[Double](dim, dim)
    covarianceOfMoments(momentSumsOfInts(qdf, dim), unitScale)
      .collect().foreach { r =>
        val (i, j, c) = (r.getInt(0) - 1, r.getInt(1) - 1, r.getDouble(2))
        m(i)(j) = c
        m(j)(i) = c
      }
    m
  }

  /** Halko-style randomized top principal component, O(d·k) per row
    * where exact PCA pays O(d²) ([[MomentSumsAgg]]'s upper-triangle
    * loop — 24.4 s of pure accumulation for just 20k rows at the
    * reference's d = 1536; the DIMCHECK motivation for this route):
    *
    *  1. sketch pass: `Y = Sᵀ X` with the seedless sign matrix, and
    *     exact integer CROSS moments ([[CrossMomentSumsAgg]]) so that
    *     `Zc = n·Σxyᵀ − (Σx)(Σy)ᵀ ∝ Cov(X)·S` — a d×k image whose
    *     columns span range(Cov) once `k ≥ rank` (the Halko range
    *     finder, one corpus pass, d·k state);
    *  2. driver: Gram–Schmidt over Zc's columns with the house
    *     integer-quantization recipe (exact-integer dot products and
    *     norms, one double division per entry, floor(+0.5) to the 1e6
    *     grid) → an orthonormal-to-1e-6 basis Q; dependent columns
    *     (k > rank) collapse to zero norms and are emitted as zeros;
    *  3. projection pass: `B = Qᵀ X` per row (d·k), exact k×k moments
    *     of B ([[MomentSumsAgg]] at dim k), and the SAME integer power
    *     iteration [[powerIterate]] on the k×k subspace covariance.
    *
    * Rayleigh–Ritz exactness: with `k ≥ rank(Cov)` the subspace
    * contains every eigenvector, so the returned eigenvalue and the
    * per-row scores equal exact PCA's ([[pcaTop]]/[[pcaProject]]) up
    * to the 1e-6 quantization grid — the gate
    * EmbStatsRandomizedSpec pins on a planted low-rank corpus. Every
    * step is the determinism contract's shape (exact integer sums,
    * single double divisions, floor(+0.5)), so the DuckDB twin
    * [[pcaRandomizedSql]] replays it bit-identically.
    *
    * Returns (basis columns Q as k×d 1e6-scaled longs, subspace top
    * eigenvector w as 1e6-scaled longs, eigenvalue).
    */
  private[vector] def randomizedTop(df: DataFrame, embCol: Column, dim: Int,
                                    k: Int, iters: Int, scale: Int)
      : (Array[Array[Long]], Array[Long], Double) = {
    require(k > 0 && k <= dim, "k must be in 1..dim")
    // two passes below; quantize the corpus once
    val qdf = Materialize(df.where(embCol.isNotNull && size(embCol) === dim)
      .select(quantized(embCol, scale).as("__qe")))
    val bufRow = qdf
      .select(col("__qe"), signProjectInts(col("__qe"), dim, k).as("__yq"))
      .agg(CrossMomentAgg.crossMomentSums(
        col("__qe"), col("__yq"), dim, k).as("__b"))
      .head()
    val buf = bufRow.getSeq[java.math.BigDecimal](0)
      .map(bd => BigInt(bd.toBigInteger)).toArray
    val n = buf(0)
    require(n > 0, "pcaRandomized requires a non-empty corpus")
    val t = Array.tabulate(dim)(i => buf(1 + i))
    val u = Array.tabulate(k)(j => buf(1 + dim + j))
    val zc = Array.tabulate(dim, k)((i, j) =>
      n * buf(1 + dim + k + i * k + j) - t(i) * u(j))
    // quantized Gram–Schmidt over Zc's columns → Q (1e6-scaled)
    val QS = 1000000L
    val q = Array.ofDim[Long](k, dim)
    for (j <- 0 until k) {
      val wd = new Array[Double](dim)
      var i = 0
      while (i < dim) { wd(i) = zc(i)(j).toDouble; i += 1 }
      for (l <- 0 until j) {
        var r = BigInt(0)
        i = 0
        while (i < dim) { r += zc(i)(j) * q(l)(i); i += 1 }
        i = 0
        while (i < dim) { wd(i) -= (r * q(l)(i)).toDouble / 1e12; i += 1 }
      }
      val wq = wd.map(x => BigDecimal(math.floor(x + 0.5d)).toBigInt)
      val n2 = wq.foldLeft(BigInt(0))((a, x) => a + x * x)
      // Rank cutoff: a DEPENDENT column's residual after the
      // projections is not zero — it is the 1e-6-grid quantization
      // crumbs of q1..q{j-1}, which normalize into a coherent spurious
      // direction 0.99-correlated with the earlier basis (measured),
      // wrecking orthonormality and inflating the Rayleigh eigenvalue.
      // Keep the column only when its residual norm exceeds 1e-4 of
      // its ORIGINAL norm (crumbs sit at ~1e-6 relative, genuine new
      // directions at O(1)): exact-integer compare, engine-identical.
      val zn2 = (0 until dim).foldLeft(BigInt(0))((a, i) =>
        a + zc(i)(j) * zc(i)(j))
      if (n2 > zn2 / 100000000L) {
        val nrm = math.sqrt(n2.doubleValue)
        i = 0
        while (i < dim) {
          q(j)(i) = math.floor(wq(i).doubleValue / nrm * QS + 0.5d).toLong
          i += 1
        }
      } // else: dependent column (k > rank) — stays all zeros
    }
    val covB = covMatrixOfInts(
      qdf.select(basisProject(col("__qe"), q).as("__qe")), k, scale.toDouble)
    val (w, lambda) = powerIterate(covB, iters)
    (q, w, lambda)
  }

  /** Corpus-scale apply of the randomized route: per-row top-PC score
    * `⟨x, Q·ŵ⟩ = ⟨QᵀX, ŵ⟩` — the identical quantity [[pcaProject]]
    * emits, computed from the k-dim basis projection instead of a
    * d-dim component (O(d·k) per row end to end; nothing d² anywhere).
    */
  def pcaRandomized(df: DataFrame, idCol: Column, embCol: Column, dim: Int,
                    k: Int, iters: Int = 12, scale: Int = 10000): DataFrame = {
    val (q, w, _) = randomizedTop(df, embCol, dim, k, iters, scale)
    val wLit = array(w.map(lit): _*)
    df.where(embCol.isNotNull && size(embCol) === dim)
      .select(idCol.as("id"),
        (aggregate(
          zip_with(basisProject(quantized(embCol, scale), q), wLit,
            (b, ww) => b * ww),
          lit(0L), (a, x) => a + x).cast("double")
          / (scale.toDouble * 1e6d)).as("score"))
  }

  /** DuckDB twin of [[pcaRandomized]] — the full pipeline (sign
    * sketch, cross moments, k unrolled Gram–Schmidt steps, basis
    * projection, k×k covariance, `iters` unrolled power steps, score)
    * as the identical integer arithmetic.
    */
  def pcaRandomizedSql(table: String, idExpr: String, embExpr: String,
                       dim: Int, k: Int, iters: Int = 12,
                       scale: Int = 10000): String = {
    val qe = quantizedSql(embExpr, scale)
    // Gram–Schmidt step j (1-based): project column j of zc against
    // g1..g{j-1} (exact HUGEINT dots), subtract in fixed order as
    // doubles, floor(+0.5) to integers, exact norm, 1e6 quantize.
    val gsSteps = (1 to k).map { j =>
      val rs = (1 until j).map { l =>
        s"""r${j}_$l AS MATERIALIZED (
           |  SELECT SUM(z.zc * g$l.q) AS r
           |  FROM zcol$j z JOIN g$l ON z.i = g$l.i)""".stripMargin
      }
      val rJoins = (1 until j).map(l => s", g$l, r${j}_$l rr$l").mkString
      val rConds = (1 until j).map(l => s"z.i = g$l.i").mkString(" AND ")
      val where = if (j > 1) s"\n  WHERE $rConds" else ""
      val terms = (1 until j)
        .map(l => s" - CAST(rr$l.r * g$l.q AS DOUBLE) / 1e12").mkString
      val step =
        s"""zcol$j AS MATERIALIZED (SELECT i, zc FROM zc WHERE j = $j),
           |w$j AS MATERIALIZED (
           |  SELECT z.i AS i,
           |    CAST(floor(CAST(z.zc AS DOUBLE)$terms + 0.5) AS HUGEINT) AS wq
           |  FROM zcol$j z$rJoins$where),
           |n2_$j AS MATERIALIZED (SELECT SUM(wq * wq) AS n2 FROM w$j),
           |zn2_$j AS MATERIALIZED (SELECT SUM(zc * zc) AS zn2 FROM zcol$j),
           |g$j AS MATERIALIZED (
           |  SELECT i, CASE WHEN n2 <= zn2 // 100000000 THEN CAST(0 AS BIGINT)
           |    ELSE CAST(floor(CAST(wq AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE))
           |                    * 1000000 + 0.5) AS BIGINT) END AS q
           |  FROM w$j, n2_$j, zn2_$j)""".stripMargin
      (rs :+ step).mkString(",\n")
    }.mkString(",\n")
    val gall = (1 to k)
      .map(j => s"SELECT $j AS j, i, q FROM g$j").mkString("\n  UNION ALL ")
    // power iteration on the k×k subspace covariance (pw/pn/pv names —
    // the gs steps own w/n2): the powerCtes recipe verbatim
    val pSteps = (1 to iters).map { t =>
      s"""pw$t AS MATERIALIZED (
         |  SELECT c.i, SUM(c.cint * v.v) AS w FROM cint c
         |  JOIN pv${t - 1} v ON c.j = v.i GROUP BY c.i),
         |pn$t AS MATERIALIZED (SELECT sqrt(CAST(SUM(CAST(w AS HUGEINT) * w) AS DOUBLE)) AS nrm FROM pw$t),
         |pv$t AS MATERIALIZED (
         |  SELECT i, CAST(floor(CAST(w AS DOUBLE) / nrm * 1000000 + 0.5) AS BIGINT) AS v
         |  FROM pw$t, pn$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (
       |  SELECT $idExpr AS id, $qe AS qe FROM $table
       |  WHERE $embExpr IS NOT NULL AND len($embExpr) = $dim),
       |s AS MATERIALIZED (
       |  SELECT i.range AS i, j.range AS j,
       |    CASE WHEN ((((i.range * 131071 + j.range) % $RpM) * $RpA + $RpB)
       |               % $RpP) % 2 = 0 THEN 1 ELSE -1 END AS sg
       |  FROM range(1, ${dim + 1}) i, range(1, ${k + 1}) j),
       |sj AS MATERIALIZED (
       |  SELECT j, list(CAST(sg AS BIGINT) ORDER BY i) AS sgs FROM s GROUP BY j),
       |smat AS MATERIALIZED (SELECT list(sgs ORDER BY j) AS m FROM sj),
       |y AS MATERIALIZED (
       |  SELECT id, qe,
       |    list_transform(range(1, ${k + 1}), j0 ->
       |      list_sum(list_transform(range(1, ${dim + 1}), i0 ->
       |        qe[CAST(i0 AS INTEGER)]
       |          * m[CAST(j0 AS INTEGER)][CAST(i0 AS INTEGER)]))) AS yq
       |  FROM q, smat),
       |cn AS MATERIALIZED (SELECT COUNT(*) AS n FROM y),
       |tx AS MATERIALIZED (
       |  SELECT i.range AS i,
       |    SUM(CAST(qe[CAST(i.range AS INTEGER)] AS HUGEINT)) AS t
       |  FROM y, range(1, ${dim + 1}) i GROUP BY 1),
       |uy AS MATERIALIZED (
       |  SELECT j.range AS j,
       |    SUM(CAST(yq[CAST(j.range AS INTEGER)] AS HUGEINT)) AS u
       |  FROM y, range(1, ${k + 1}) j GROUP BY 1),
       |zx AS MATERIALIZED (
       |  SELECT i.range AS i, j.range AS j,
       |    SUM(CAST(qe[CAST(i.range AS INTEGER)] AS HUGEINT)
       |        * yq[CAST(j.range AS INTEGER)]) AS z
       |  FROM y, range(1, ${dim + 1}) i, range(1, ${k + 1}) j GROUP BY 1, 2),
       |zc AS MATERIALIZED (
       |  SELECT zx.i AS i, zx.j AS j, cn.n * zx.z - tx.t * uy.u AS zc
       |  FROM zx, cn, tx, uy WHERE zx.i = tx.i AND zx.j = uy.j),
       |$gsSteps,
       |gall AS MATERIALIZED (
       |  $gall),
       |gj AS MATERIALIZED (SELECT j, list(q ORDER BY i) AS qs FROM gall GROUP BY j),
       |gmat AS MATERIALIZED (SELECT list(qs ORDER BY j) AS gm FROM gj),
       |b AS MATERIALIZED (
       |  SELECT id, list_transform(range(1, ${k + 1}), j0 ->
       |    CAST(floor(CAST(list_sum(list_transform(range(1, ${dim + 1}), i0 ->
       |      qe[CAST(i0 AS INTEGER)]
       |        * gm[CAST(j0 AS INTEGER)][CAST(i0 AS INTEGER)])) AS DOUBLE)
       |      / 1000000 + 0.5) AS BIGINT)) AS bs
       |  FROM q, gmat),
       |bsec AS MATERIALIZED (
       |  SELECT i.range AS i, j.range AS j,
       |    SUM(CAST(bs[CAST(i.range AS INTEGER)] AS HUGEINT)
       |        * bs[CAST(j.range AS INTEGER)]) AS s,
       |    COUNT(*) AS n
       |  FROM b, range(1, ${k + 1}) i, range(1, ${k + 1}) j
       |  WHERE j.range >= i.range GROUP BY 1, 2),
       |bfirst AS MATERIALIZED (
       |  SELECT i.range AS i,
       |    SUM(CAST(bs[CAST(i.range AS INTEGER)] AS HUGEINT)) AS t
       |  FROM b, range(1, ${k + 1}) i GROUP BY 1),
       |covq AS MATERIALIZED (
       |  SELECT s.i AS i, s.j AS j,
       |    CAST(s.s * s.n - ti.t * tj.t AS DOUBLE)
       |      / ((CAST(s.n AS DOUBLE) * s.n)
       |         * (CAST($scale AS DOUBLE) * $scale)) AS cov
       |  FROM bsec s JOIN bfirst ti ON s.i = ti.i JOIN bfirst tj ON s.j = tj.i),
       |cfull AS MATERIALIZED (
       |  SELECT i, j, cov FROM covq
       |  UNION ALL SELECT j, i, cov FROM covq WHERE i <> j),
       |cint AS MATERIALIZED (
       |  SELECT i, j, CAST(floor(cov * 1000000 + 0.5) AS BIGINT) AS cint FROM cfull),
       |pv0 AS MATERIALIZED (
       |  SELECT range AS i, CAST(1000000 AS BIGINT) AS v FROM range(1, ${k + 1})),
       |$pSteps,
       |sgn AS MATERIALIZED (
       |  SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg FROM pv$iters
       |  ORDER BY abs(v) DESC, i LIMIT 1),
       |vf AS MATERIALIZED (SELECT i, v * sg AS v FROM pv$iters, sgn),
       |varr AS MATERIALIZED (SELECT list(v ORDER BY i) AS vs FROM vf)
       |SELECT b.id AS id,
       |  CAST(list_sum(list_transform(range(1, ${k + 1}), j0 ->
       |    bs[CAST(j0 AS INTEGER)] * vs[CAST(j0 AS INTEGER)])) AS DOUBLE)
       |    / (CAST($scale AS DOUBLE) * 1000000) AS score
       |FROM b, varr""".stripMargin
  }
}
