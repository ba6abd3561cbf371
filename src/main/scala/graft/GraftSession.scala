package graft

import org.apache.spark.sql.SparkSession

/** The one place a [[SparkSession]] is built. Every entry point (the
  * `Bench`/`Verify` drivers, the `tools` mains, the test `SparkSpec`)
  * starts here, so the engine's config contract is set once:
  *
  *  - session time zone UTC: `Tables.load` casts NTZ columns to session
  *    TIMESTAMP and the DuckDB oracle reads the same files as naive UTC,
  *    so the epoch values agree only under UTC;
  *  - `spark.sql.legacy.parquet.nanosAsLong`: `events.parquet` has
  *    shipped TIMESTAMP(NANOS), which reads as the epoch-nanos long
  *    `Tables.events` normalizes to;
  *  - the UI off.
  *
  * Callers add their own settings (app name, executor settings) on the
  * returned builder before `getOrCreate()`.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
