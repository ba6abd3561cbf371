package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Dev-only scale-validation data builder: synthesizes a `factor`×
  * corpus from an existing harness scale factor so the bench can be
  * replayed at ~10× the largest generated SF (the driver ships sf0.1
  * as its largest — this answers "would the dedup family's candidate
  * fan-out stay bounded on 10× data" without waiting on a generator).
  *
  * Construction keeps growth HONEST — copies are content-disjoint so
  * planted duplicate classes scale in COUNT, not in size:
  *  - `documents`: ids offset per copy (the fixture enrichments key
  *    their dup classes on `doc_id / 70` blocks, so new id ranges mean
  *    new classes); every token suffixed `_c<copy>` so vocabularies,
  *    shingles, and fingerprints are disjoint across copies (no
  *    cross-copy candidates — output sizes scale linearly like a real
  *    10× corpus, not quadratically like a corpus duplicated 10×).
  *  - `embeddings`: ids offset; vectors rotated by `copy` positions so
  *    cross-copy cosine decorrelates (planted near-dup structure
  *    within each copy is preserved by the queries' own enrichment).
  *  - every other table is copied through unchanged (the relational
  *    queries are not the scale question here).
  *
  * Usage: `runMain graft.tools.ScaleData <srcSfDir> <destDir> [factor]
  * [tablesCsv]`. `tablesCsv` restricts the output to the named tables
  * (e.g. `documents` for the 100× dedup-family probe — the relational
  * tables would dominate the build for queries that never read them).
  * Writes only under destDir; never touches the source.
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dest = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val tables: String => Boolean =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else _ => true
    require(factor >= 1, "factor must be >= 1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val idStride = 100000000L

    // reads sit INSIDE the guards: an excluded table's source file may
    // legitimately be absent (e.g. rescaling a documents-only output
    // of this very tool), and even the schema read would throw
    if (tables("documents")) {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until factor).map { c =>
      docs.select(
        (col("doc_id") + lit(c * idStride)).as("doc_id"),
        // namespace every token: copy c's vocabulary is disjoint from
        // copy 0's, so no shingle/fingerprint collides across copies
        (if (c == 0) col("text")
         else regexp_replace(col("text"), "(\\S+)", s"$$1_c$c")).as("text"),
        col("lang"), col("source"))
    }.reduce(_ unionAll _)
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dest/documents.parquet")
    }

    if (tables("embeddings")) {
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until factor).map { c =>
      // rotate by c mod dim positions (a rotation by >= dim sliced a
      // negative length and failed at factor > 64); copies past one
      // full rotation cycle additionally NEGATE the vector, so no two
      // copies are positively correlated for factor <= 2*dim — norms
      // preserved, cross-copy cosine decorrelated (or -1, which no
      // positive-threshold query matches) and planted near-dup
      // structure still scales in COUNT, not in size
      val rot = s"concat(" +
        s"slice(embedding, pmod($c, size(embedding)) + 1, " +
        s"size(embedding) - pmod($c, size(embedding))), " +
        s"slice(embedding, 1, pmod($c, size(embedding))))"
      emb.select(
        (col("vec_id") + lit(c * idStride)).as("vec_id"),
        (if (c == 0) col("embedding")
         else expr(s"CASE WHEN CAST($c / size(embedding) AS INT) % 2 = 0 " +
           s"THEN $rot ELSE transform($rot, x -> CAST(-x AS FLOAT)) END"))
          .as("embedding"),
        col("label"))
    }.reduce(_ unionAll _)
      .write.mode(SaveMode.Overwrite).parquet(s"$dest/embeddings.parquet")
    }

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events") if tables(t)) {
      val p = new java.io.File(s"$src/$t.parquet")
      if (p.exists())
        spark.read.parquet(p.toString)
          .write.mode(SaveMode.Overwrite).parquet(s"$dest/$t.parquet")
    }
    println(s"scaled $factor x from $src to $dest")
    spark.stop()
  }
}
