package graft.tools

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.streaming.MaintenanceLease

/** A REAL second-process maintenance contender — launched as its own
  * JVM by LeaseContentionSpec so the cross-process lease protocol is
  * exercised over an actual process boundary (its own pid, its own
  * holder nonce, its own FileSystem instance) instead of a
  * hand-written foreign lease file.
  *
  * Modes (args: `<mode> <dir> [buckets]`):
  *   - `acquire`: attempt [[MaintenanceLease.acquire]] on `dir` with a
  *     plain Hadoop FileSystem (no Spark). On success prints
  *     `CONTENDER-ACQUIRED holder=<id>` and exits 0 WITHOUT releasing
  *     — the parent inspects the lease file it left behind (also the
  *     crashed-holder shape). On a live foreign lease prints the loud
  *     error and exits 3.
  *   - `compact`: start a local SparkSession and run a real
  *     [[graft.streaming.StreamingNearDup.compact]] against `dir` (a
  *     near-dup registry root) — the in-op acquire must fail loudly
  *     while the parent holds the bands-dir lease. Exits 0 on a
  *     completed compact, 3 on the lease refusal.
  *
  * Exit codes: 0 = op completed, 3 = blocked by a held lease
  * (expected in the contention legs), 1 = unexpected failure.
  */
object LeaseContender {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val dir = args(1)
    try {
      mode match {
        case "acquire" =>
          val fs = new Path(dir).getFileSystem(new Configuration())
          val lease = MaintenanceLease.acquire(fs, dir)
          println(s"CONTENDER-ACQUIRED holder=${MaintenanceLease.holderId} " +
            s"held=${lease.held}")
        case "compact" =>
          val buckets = if (args.length > 2) args(2).toInt else 4
          val spark = graft.GraftSession.builder("local[2]", 4)
            .appName("graft-lease-contender")
            .getOrCreate()
          spark.sparkContext.setLogLevel("WARN")
          try graft.streaming.StreamingNearDup.compact(spark, dir, buckets)
          finally spark.stop()
          println("CONTENDER-COMPACTED")
        case other =>
          System.err.println(s"unknown mode $other"); sys.exit(2)
      }
      sys.exit(0)
    } catch {
      case e: IllegalStateException
          if e.getMessage != null &&
            e.getMessage.contains("maintenance lease") =>
        println(s"CONTENDER-BLOCKED ${e.getMessage}")
        sys.exit(3)
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
  }
}
