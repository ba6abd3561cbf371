package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Materialize
import graft.text.TextAnalysis

/** In-engine quality-classifier training — the model-based filter step
  * of an LLM data pipeline (the fastText/DCLM pattern: train a cheap
  * linear classifier on document statistics, score the corpus, keep
  * the top slice). No reference analog; the reference delegates all
  * "model" work to hosted endpoints.
  *
  * Shape: full-batch gradient descent on a linear model with
  * HARD-SIGMOID logistic loss, `σ̂(z) = clamp(0.25·z + 0.5, 0, 1)`.
  * The hard sigmoid is the load-bearing choice: it keeps every
  * training operation inside IEEE-exact arithmetic (+, −, ×, ÷,
  * clamp) — no `exp`, whose last-ulp behavior differs across libm
  * implementations — so the DuckDB oracle replays training
  * BIT-IDENTICALLY as unrolled CTE rounds.
  *
  * Determinism (the [[graft.vector.EmbStats]] contract, applied to
  * optimization): features quantize to integers (scale 1e4), weights
  * live as 1e6-scaled integers, the per-row dot product is an EXACT
  * integer sum (order-free), the per-row gradient contribution
  * quantizes to an integer, and the corpus gradient is an exact
  * integer sum — so shuffle order never changes a single weight.
  *
  * Scale: each round is ONE distributed aggregation — per-row work is
  * a d-wide explode into a same-stage partial hash aggregate (shuffle
  * = d rows per partition), the d-row gradient collects to the
  * driver, and the updated weight vector broadcasts back as a
  * literal. R rounds = R passes; cache the (id, y, fq) projection or
  * pay R corpus scans — both are the standard distributed-GD trade.
  */
object LinearClassifier {

  val FS = 10000L   // feature scale
  val WS = 1000000L // weight scale
  private val GS = 100L // extra gradient precision on top of FS

  /** Quantized document-statistics features `[bias, chars, tokens,
    * avg-word-len, punct-ratio]`, each an exact integer in [0, FS]
    * (value = fq/FS). Cheap, engine-portable, and derived only from
    * the text column — the classic "statistics not semantics" quality
    * features.
    */
  def docFeatures(textCol: Column, nCharsCol: Column): Column = {
    val ntok = size(filter(split(lower(trim(textCol)), "\\s+"), x => x =!= ""))
    val punct = length(regexp_replace(textCol, "[^.,!?;:]", ""))
    val fq2 = least(nCharsCol, lit(1000L)) * 10L
    val fq3 = least(ntok.cast("long"), lit(200L)) * 50L
    val awl = when(ntok === 0, lit(0.0d))
      .otherwise(nCharsCol.cast("double") / ntok)
    val fq4 = least(floor(awl / 20.0d * FS + 0.5d).cast("long"), lit(FS))
    val pr = when(nCharsCol === 0, lit(0.0d))
      .otherwise(punct.cast("double") / nCharsCol)
    val fq5 = least(floor(pr * FS + 0.5d).cast("long"), lit(FS))
    array(lit(FS), fq2, fq3, fq4, fq5)
  }

  /** DuckDB twin of [[docFeatures]]. */
  def docFeaturesSql(textExpr: String, nCharsExpr: String): String = {
    val ws = TextAnalysis.WsClassSqlPublic
    val ntok = s"len(list_filter(string_split_regex(lower(trim($textExpr)), '$ws+'), x -> x <> ''))"
    val punct = s"length(regexp_replace($textExpr, '[^.,!?;:]', '', 'g'))"
    s"""[CAST($FS AS BIGINT),
       | least($nCharsExpr, 1000) * 10,
       | least(CAST($ntok AS BIGINT), 200) * 50,
       | least(CAST(floor(CASE WHEN $ntok = 0 THEN 0.0
       |   ELSE CAST($nCharsExpr AS DOUBLE) / $ntok END / 20.0 * $FS + 0.5) AS BIGINT),
       |   $FS),
       | least(CAST(floor(CASE WHEN $nCharsExpr = 0 THEN 0.0
       |   ELSE CAST($punct AS DOUBLE) / $nCharsExpr END * $FS + 0.5) AS BIGINT),
       |   $FS)]""".stripMargin.replaceAll("\n", " ")
  }

  /** Hard sigmoid of the scaled integer dot: both engines compute
    * `clamp(0.25 · (dotInt / (WS·FS)) + 0.5, 0, 1)` with this exact
    * operation order.
    */
  private def hardSigmoid(dotInt: Column): Column =
    greatest(least(lit(0.25d) * (dotInt.cast("double") / (WS * FS).toDouble)
      + 0.5d, lit(1.0d)), lit(0.0d))

  /** Train `iters` rounds of full-batch GD; input must carry `fq`
    * (array<long>, d entries) and `y` (0/1). Returns the 1e6-scaled
    * integer weight vector.
    */
  private[ml] def trainInts(feats: DataFrame, d: Int, iters: Int,
                            lr: Double): Array[Long] = {
    val n = feats.count()
    require(n > 0, "cannot train on an empty dataset")
    var w = Array.fill(d)(0L)
    for (_ <- 1 to iters) {
      val wLit = array(w.map(lit): _*)
      val dotInt = aggregate(zip_with(col("fq"), wLit, (f, wi) => f * wi),
        lit(0L), (a, x) => a + x)
      val err = hardSigmoid(dotInt) - col("y").cast("double")
      val g = feats
        .select(err.as("e"), col("fq"))
        .select(explode(transform(sequence(lit(1), lit(d)), k =>
          struct(k.as("k"),
            floor((col("e") * element_at(col("fq"), k)) * GS + 0.5d)
              .cast("long").as("g")))).as("p"))
        .groupBy(col("p.k").as("k"))
        .agg(sum(col("p.g").cast("decimal(38,0)")).as("gsum"))
        .collect().map(r => r.getInt(0) -> r.getDecimal(1).longValueExact()).toMap
      w = w.zipWithIndex.map { case (wk, i) =>
        wk - math.floor(lr * g(i + 1).toDouble / n + 0.5d).toLong
      }
    }
    w
  }

  /** Trained weights as rows `(k, w)` with `w = wInt / 1e6`. */
  def trainWeights(docs: DataFrame, idCol: Column, textCol: Column,
                   nCharsCol: Column, labelCol: Column, iters: Int = 15,
                   lr: Double = 1.0): DataFrame = {
    val spark = docs.sparkSession
    val feats = features(docs, idCol, textCol, nCharsCol, labelCol)
    try {
      val w = trainInts(feats, d = 5, iters, lr)
      val schema = StructType(Seq(
        StructField("k", IntegerType, nullable = false),
        StructField("w", DoubleType, nullable = false)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          w.toSeq.zipWithIndex.map { case (wi, i) => Row(i + 1, wi / 1e6d) }, 1),
        schema)
    } finally Materialize.release(feats)
  }

  /** (id, fq, y), pinned at the first training round: every round reads it. */
  private def features(docs: DataFrame, idCol: Column, textCol: Column,
                       nCharsCol: Column, labelCol: Column): DataFrame =
    Materialize(docs.select(idCol.as("id"), docFeatures(textCol, nCharsCol).as("fq"),
      labelCol.cast("long").as("y")), eager = false)

  /** Corpus-scale apply: score every document with the trained model —
    * a narrow map (exact integer dot against the broadcast weights,
    * then the hard sigmoid). Emits (id, score, pred, y).
    */
  def scoreDocs(docs: DataFrame, idCol: Column, textCol: Column,
                nCharsCol: Column, labelCol: Column, iters: Int = 15,
                lr: Double = 1.0): DataFrame = {
    val feats = features(docs, idCol, textCol, nCharsCol, labelCol)
    try {
      val w = trainInts(feats, d = 5, iters, lr)
      val wLit = array(w.map(lit): _*)
      val dotInt = aggregate(zip_with(col("fq"), wLit, (f, wi) => f * wi),
        lit(0L), (a, x) => a + x)
      // pinned: the scores stay in blocks after feats is released
      Materialize(feats.select(col("id"), hardSigmoid(dotInt).as("score"),
        (dotInt >= 0L).as("pred"), col("y")))
    } finally Materialize.release(feats)
  }

  // ---- DuckDB twins ---------------------------------------------------

  /** Training rounds as chained materialized CTEs ending in
    * `wa(wv)` — the 1-row weight-array CTE after `iters` rounds (the
    * array pivot keeps subqueries out of lambdas).
    */
  private def trainCtes(table: String, idExpr: String, textExpr: String,
                        nCharsExpr: String, labelExpr: String, iters: Int,
                        lr: Double): String = {
    val d = 5
    val feats =
      s"""feats AS MATERIALIZED (
         |  SELECT $idExpr AS id, ${docFeaturesSql(textExpr, nCharsExpr)} AS fq,
         |    CAST($labelExpr AS BIGINT) AS y
         |  FROM $table),
         |nrow AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM feats),
         |wa0 AS MATERIALIZED (SELECT ${Seq.fill(d)("CAST(0 AS BIGINT)").mkString("[", ", ", "]")} AS wv)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""e$t AS MATERIALIZED (
         |  SELECT id, fq,
         |    greatest(least(0.25 * (CAST(list_sum(list_transform(range(1, ${d + 1}),
         |        i -> fq[CAST(i AS INTEGER)] * wv[CAST(i AS INTEGER)])) AS DOUBLE)
         |      / ${(WS * FS).toDouble}) + 0.5, 1.0), 0.0) - CAST(y AS DOUBLE) AS e
         |  FROM feats, wa${t - 1}),
         |g$t AS MATERIALIZED (
         |  SELECT k.range AS k,
         |    SUM(CAST(floor((e * fq[CAST(k.range AS INTEGER)]) * $GS + 0.5) AS BIGINT)) AS gsum
         |  FROM e$t, range(1, ${d + 1}) k GROUP BY 1),
         |wa$t AS MATERIALIZED (
         |  SELECT list(wv[CAST(g.k AS INTEGER)]
         |      - CAST(floor($lr * CAST(g.gsum AS DOUBLE) / n + 0.5) AS BIGINT)
         |      ORDER BY g.k) AS wv
         |  FROM g$t g, wa${t - 1}, nrow)""".stripMargin
    }.mkString(",\n")
    s"$feats,\n$rounds,\nwa AS MATERIALIZED (SELECT wv FROM wa$iters)"
  }

  /** DuckDB twin of [[trainWeights]]. */
  def trainWeightsSql(table: String, idExpr: String, textExpr: String,
                      nCharsExpr: String, labelExpr: String, iters: Int = 15,
                      lr: Double = 1.0): String =
    s"""WITH ${trainCtes(table, idExpr, textExpr, nCharsExpr, labelExpr, iters, lr)}
       |SELECT CAST(k.range AS INTEGER) AS k,
       |  CAST(wv[CAST(k.range AS INTEGER)] AS DOUBLE) / ${WS.toDouble} AS w
       |FROM wa, range(1, 6) k""".stripMargin

  /** DuckDB twin of [[scoreDocs]]. */
  def scoreDocsSql(table: String, idExpr: String, textExpr: String,
                   nCharsExpr: String, labelExpr: String, iters: Int = 15,
                   lr: Double = 1.0): String =
    s"""WITH ${trainCtes(table, idExpr, textExpr, nCharsExpr, labelExpr, iters, lr)},
       |dots AS (
       |  SELECT id, y, list_sum(list_transform(range(1, 6),
       |    i -> fq[CAST(i AS INTEGER)] * wv[CAST(i AS INTEGER)])) AS dot
       |  FROM feats, wa)
       |SELECT id,
       |  greatest(least(0.25 * (CAST(dot AS DOUBLE) / ${(WS * FS).toDouble}) + 0.5,
       |    1.0), 0.0) AS score,
       |  dot >= 0 AS pred, y
       |FROM dots""".stripMargin
}
