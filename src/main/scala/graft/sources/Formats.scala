package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Interchange-format round trips — JSONL (the de-facto LLM-corpus
  * wire format: one JSON object per line, splittable, appendable) and
  * ORC (the columnar alternative a warehouse-side producer hands
  * over). The engine's native storage stays parquet ([[Tables]]);
  * these are the ingest/export edges.
  *
  * Schema discipline: reads take an EXPLICIT schema (the writer's),
  * never inference — at 100 TB, schema inference is a full extra pass
  * over the data, and JSON inference can silently widen types
  * (ints → bigints, mixed → string) between shards. Lossiness is
  * format-inherent for JSON (no int vs long distinction, no binary,
  * NaN unsupported by strict JSON) — which is exactly why the
  * round-trip gate below proves the DOCUMENT table's scalar payload
  * survives bit-exact.
  */
object Formats {

  /** Local-filesystem scratch dir — ONLY correct where driver and
    * executors share the filesystem (local mode, the test harness).
    * On a real cluster pass an explicit shared-FS path instead: a
    * driver-local temp path resolves to each executor's own disk and
    * the write scatters.
    */
  private def tempDir(tag: String): String =
    graft.TempDirs.create(tag).toString

  /** Write `df` as JSONL under `path` (shared storage on a cluster;
    * defaults to local scratch for local-mode runs) and read it back
    * with the writer's schema. One shuffle-free pass each way; the
    * written files are plain `.json` parts any downstream loader
    * tails.
    */
  def jsonlRoundTrip(df: DataFrame, path: Option[String] = None): DataFrame = {
    val p = path.getOrElse(tempDir("jsonl"))
    df.write.mode(SaveMode.Overwrite).json(p)
    df.sparkSession.read.schema(df.schema).json(p)
  }

  /** Write `df` as ORC under `path` and read it back (ORC carries its
    * own schema; passing the writer's anyway pins column order and
    * types). Same shared-storage contract as [[jsonlRoundTrip]].
    */
  def orcRoundTrip(df: DataFrame, path: Option[String] = None): DataFrame = {
    val p = path.getOrElse(tempDir("orc"))
    df.write.mode(SaveMode.Overwrite).orc(p)
    df.sparkSession.read.schema(df.schema).orc(p)
  }
}
