package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Round-16 registry-contract hardening:
  *   - a legacy (pre-`_GEOMETRY`) registry REFUSES a derived-default
  *     geometry resume (a wrong trusted stamp would silently miss every
  *     prior registration AND lock the wrong geometry in), while an
  *     explicit-geometry resume trusted-stamps and sees history;
  *   - half-specified banding (bands without bits) fails loudly;
  *   - the executor bloom cache is an access-ordered LRU, not a
  *     clear-everything bound;
  *   - a rebucket re-run that early-returns (current == target) still
  *     repairs a stale catalog table spec left by a crash between a
  *     prior rebucket's roll-forward and its DROPs.
  */
class RegistryContractSpec extends AnyFunSuite with SparkSpec {

  private val Dim = 8

  private def tmp(tag: String): String = graft.TempDirs.create(tag).toString

  private def chainMsg(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  private def vec(seed: Long): Seq[Float] =
    (0 until Dim).map(i => (((seed * 37 + i * 11) % 13) - 6).toFloat)

  test("legacy marker-less registry refuses a derived-default resume " +
      "but trusted-stamps an explicit one") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = tmp("rc-legacy")
    val reg = base + "/reg"
    val ckpt = base + "/ckpt" // shared: batch-id fencing must see
                              // phase-1 appends as EARLIER batches
    val ms = MemoryStream[(Long, Seq[Float])]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Option[Long])]()
    def start(bands: Int, bits: Int) = StreamingEmbDedup.embDedupStream(
      ms.toDS().toDF("id", "embedding"), col("id"), col("embedding"),
      reg, Some(ckpt), buckets = 4, dim = Dim, bands = bands,
      bits = bits, minCosine = 0.9) { df =>
      df.collect().foreach(r => got.add((r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))))
    }
    val q1 = start(8, 16)
    try { ms.addData((1L to 4L).map(i => (i, vec(i)))); q1.processAllAvailable() }
    finally q1.stop()
    // simulate a pre-r15 registry: geometry marker never existed
    val fs = new Path(reg).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(reg, "_GEOMETRY"), false))
    // derived-default resume (bands = bits = 0) must fail loudly —
    // the derivation (30x15 at 0.9) differs from what this registry
    // was banded under (8x16), and a trusted stamp would lock it in
    val qBad = start(0, 0)
    val e = intercept[Exception] {
      try { ms.addData(Seq((11L, vec(2).map(_ * 2.0f)))); qBad.processAllAvailable() }
      finally qBad.stop()
    }
    assert(chainMsg(e).contains("DERIVED"), chainMsg(e))
    assert(!fs.exists(new Path(reg, "_GEOMETRY")),
      "a refused open must not have stamped anything")
    // explicit resume trusted-stamps and SEES phase-1 registrations:
    // a scaled copy of vector 2 (identical direction => every sign
    // band collides, cosine exactly 1) must resolve to it
    val q2 = start(8, 16)
    try { q2.processAllAvailable() } finally q2.stop()
    import scala.jdk.CollectionConverters._
    val out = got.asScala.toSeq.filter(_._1 == 11L)
    assert(out == Seq((11L, Some(2L))), got.toString)
    assert(fs.exists(new Path(reg, "_GEOMETRY")))
  }

  test("half-specified banding geometry fails loudly") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Seq[Float])]
    val e = intercept[IllegalArgumentException] {
      StreamingEmbDedup.embDedupStream(
        ms.toDS().toDF("id", "embedding"), col("id"), col("embedding"),
        tmp("rc-half") + "/reg", buckets = 4, dim = Dim,
        bands = 8, bits = 0, minCosine = 0.9) { _ => () }
    }
    assert(e.getMessage.contains("pinned together"), e.getMessage)
  }

  test("bloom cache evicts LRU, keeping the recently-probed hot") {
    val dir = tmp("rc-lru")
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val conf = spark.sessionState.newHadoopConf()
    def writeBloom(name: String): Unit = {
      val out = fs.create(new Path(dir, name), true)
      try BloomFilter.create(64, 0.01).writeTo(out) finally out.close()
    }
    val n = BucketScreen.BloomCacheMax
    (0 until n + 2).foreach(i => writeBloom(f"b-$i%05d.bin"))
    BucketScreen.bloomCacheClear()
    // fill to capacity, then RE-ACCESS entry 0 (marks it most-recent)
    (0 until n).foreach(i => BucketScreen.cachedBloom(dir, f"b-$i%05d.bin", conf))
    BucketScreen.cachedBloom(dir, f"b-${0}%05d.bin", conf)
    // two inserts past capacity evict the two LEAST-recent (1 and 2),
    // never the re-accessed 0 and never the whole cache
    BucketScreen.cachedBloom(dir, f"b-$n%05d.bin", conf)
    BucketScreen.cachedBloom(dir, f"b-${n + 1}%05d.bin", conf)
    val keys = BucketScreen.bloomCacheKeys.map(_._1).toSet
    assert(keys.size == n, s"cache must stay AT the bound, got ${keys.size}")
    assert(keys.exists(_.endsWith(f"b-${0}%05d.bin")),
      "re-accessed entry must survive (access-ordered, not insertion)")
    assert(!keys.exists(_.endsWith(f"b-${1}%05d.bin")) &&
      !keys.exists(_.endsWith(f"b-${2}%05d.bin")),
      "least-recently-used entries must be the ones evicted")
    BucketScreen.bloomCacheClear()
  }

  test("rebucket early-return repairs a stale catalog table spec") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val reg = tmp("rc-stale") + "/reg"
    val ms = MemoryStream[(Long, String)]
    val q = StreamingNearDup.nearDupStream(
      ms.toDS().toDF("id", "text"), col("id"), col("text"),
      reg, buckets = 4, minJaccard = 0.9) { df => df.collect(); () }
    try {
      ms.addData(Seq((1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "one two three four five six")))
      q.processAllAvailable()
    } finally q.stop()
    StreamingNearDup.rebucket(spark, reg, 8)
    // simulate the crash window: a prior rebucket rolled files forward
    // and restamped the marker but died before its DROPs, leaving the
    // OLD 4-bucket spec in a persistent catalog
    val bandsDir = s"$reg/bands"
    val tbl = StreamingNearDup.bandsTableName(reg)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (band_key BIGINT, id BIGINT, " +
      "batch_id BIGINT) USING parquet CLUSTERED BY (band_key) " +
      s"SORTED BY (band_key) INTO 4 BUCKETS LOCATION '$bandsDir'")
    // re-run at the SAME count: early return, but the stale spec must
    // still be dropped so the next open re-registers at 8 buckets
    StreamingNearDup.rebucket(spark, reg, 8)
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).bucketSpec
    assert(spec.map(_.numBuckets) == Some(8),
      s"stale catalog spec must be repaired, got $spec")
  }
}
