package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Components, Dedup}

/** The batch near-duplicate pipeline over a seeded corpus with planted
  * exact and near duplicates: exactDuplicates -> minhashPairs ->
  * connectedComponents -> keeperByScore. The traced `ingest_build` run
  * uses it to measure the `dedup` layer and checks its output.
  */
object DedupLayers {

  val MinJaccard = 0.5
  /** Word substitution rates of planted copies. 3-shingle Jaccard is
    * about s/(2-s) with s = (1-rate)^3: 1.0, 0.83, 0.75, 0.57 above the
    * 0.5 threshold, 0.44 and 0.27 below it.
    */
  val Rates = Seq(0.0, 0.0, 0.02, 0.05, 0.1, 0.15, 0.25)

  def corpus(seed: Long, docs: Int): Gen.Corpus =
    Gen.corpus(new Random(seed), docs, 80, 300, dupShare = 0.35, Rates, near = 0.3, nearWindow = 50)

  final case class Result(exact: Seq[(Long, Long)], pairs: Seq[(Long, Long, Double)],
                          keepers: Seq[(Long, Long)])

  def pipeline(spark: SparkSession, df: DataFrame, tracer: Tracer): Result = {
    import spark.implicits._
    val exact = tracer.span("dedup.exact") {
      Dedup.exactDuplicates(df, col("id"), col("text"))
        .select(col("keeper_id"), col("n_dups")).as[(Long, Long)].collect().toSeq
    }
    val pairs = tracer.span("dedup.minhash") {
      Dedup.minhashPairs(df, col("id"), col("text"), 3, MinJaccard)
        .select(col("id_a"), col("id_b"), col("jaccard")).as[(Long, Long, Double)].collect().toSeq
    }
    val labels = tracer.span("dedup.components") {
      val l = Components.connectedComponents(df.select(col("id")),
        pairs.map(p => (p._1, p._2)).toDF("id_a", "id_b"))
      if (tracer.enabled) { val c = l.cache(); Main.noop(c); c } else l
    }
    val keepers = tracer.span("dedup.keeper") {
      Components.keeperByScore(labels.select(col("id"), col("component").as("cluster_id")),
          df.select(col("id"), col("score")))
        .where(col("n_members") > 1)
        .select(col("keeper_id"), col("n_members")).as[(Long, Long)].collect().toSeq
    }
    Result(exact, pairs, keepers)
  }

  /** The corpus as (id, text, score) parquet under the work dir. */
  def write(ctx: Ctx, c: Gen.Corpus): String = {
    val spark = ctx.spark
    import spark.implicits._
    val path = ctx.fresh("corpus")
    c.texts.indices.map(i => (i.toLong, c.texts(i), c.scores(i))).toDF("id", "text", "score")
      .repartition(ctx.cores).write.mode("overwrite").parquet(path)
    path
  }

  /** Output check of one pass: every pair clears the threshold by exact
    * recomputation, exact groups match, each keeper is its cluster's
    * best-scored member.
    */
  def check(c: Gen.Corpus, res: Result): Seq[String] = {
    val shingles = c.texts.map(t => Checks.shingles(t))
    val norm = c.texts.map(_.trim.toLowerCase.replaceAll("\\s+", " "))
    Checks.pairs(res.pairs, id => shingles(id.toInt), MinJaccard) ++
      Checks.exactGroups(res.exact, norm) ++
      Checks.keepers(res.keepers, res.pairs.map(p => (p._1, p._2)), id => c.scores(id.toInt))
  }

  /** `dedup.*` per-layer metrics from one traced pass over the corpus at
    * `path`, each layer materialized in its own span.
    */
  def layers(ctx: Ctx, path: String): (Map[String, Double], Result) = {
    val spark = ctx.spark
    val tracer = new Tracer(spark.sparkContext, enabled = true)
    val res = pipeline(spark, spark.read.parquet(path), tracer)
    ctx.resetEngineState()
    val s = (n: String) => tracer.medianMs(n) / 1e3
    (Map(
      "dedup.exact_s" -> s("dedup.exact"), "dedup.minhash_s" -> s("dedup.minhash"),
      "dedup.components_s" -> s("dedup.components"), "dedup.keeper_s" -> s("dedup.keeper"),
      "dedup.verified_pairs" -> res.pairs.size.toDouble,
      "dedup.clusters" -> res.keepers.size.toDouble), res)
  }
}
