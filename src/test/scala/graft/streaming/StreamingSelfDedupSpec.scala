package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.dedup.Spans

/** Streaming self-dedup clip: prefix-causal keep-first semantics —
  * batch-boundary independence, agreement with batch clipSpans where
  * protection is causally visible, the DOCUMENTED divergence where it
  * is not, and replay fencing on the gram registry.
  */
class StreamingSelfDedupSpec extends AnyFunSuite with SparkSpec {

  private def runStream(rows: Seq[(Long, String)], nChunks: Int, n: Int,
                        registryDir: String,
                        ckpt: Option[String] = None,
                        buckets: Int = 0):
      Seq[(Long, String, Long)] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q = StreamingSelfDedup.clipStream(
      ms.toDS().toDF("doc_id", "text"), col("doc_id"), col("text"),
      n, registryDir, ckpt, registryBuckets = buckets) { df =>
      df.collect().foreach(r => got.add((r.getLong(0), r.getString(1), r.getLong(2))))
    }
    try {
      rows.grouped(math.max(1, (rows.length + nChunks - 1) / nChunks))
        .foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    got.asScala.toSeq.sortBy(_._1)
  }

  private def tmp(tag: String): String = graft.TempDirs.create(tag).toString

  test("output is batch-boundary independent: 1, 2, and per-doc batches agree") {
    val corpus = Seq(
      (1L, "a b s1 s2 s3 s4 s5 c d"),
      (2L, "x s1 s2 s3 s4 s5 y z w q"),
      (3L, "p q x y p q"),
      (4L, "fresh doc with no duplication at all"),
      (5L, "x s1 s2 s3 s4 s5 y z w q"))
    val runs = Seq(1, 2, corpus.length).map(k =>
      runStream(corpus, k, n = 3, registryDir = tmp(s"sd-b$k") + "/reg"))
    assert(runs.distinct.size == 1,
      s"batch boundaries changed the output:\n${runs.mkString("\n")}")
  }

  test("agrees with batch clipSpans when protection is causally visible") {
    // cross-doc duplication with no interleaved-protection corner:
    // every duplicated run's winner sits in doc 1, so no later doc's
    // loser interval can overlap one of its own winning seeds
    val corpus = Seq(
      (1L, "a b s1 s2 s3 s4 s5 c d"),
      (2L, "x s1 s2 s3 s4 s5 y z w q"),
      (3L, "completely original content here three"),
      (4L, "m n s1 s2 s3 s4 s5 o p"))
    val streamed = runStream(corpus, 4, n = 3, registryDir = tmp("sd-eq") + "/reg")
    import spark.implicits._
    val batch = Spans.clipSpans(corpus.toDF("doc_id", "text"),
        col("doc_id"), col("text"), minTokens = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
  }

  test("intra-doc winner protection holds; cross-batch future protection is the documented divergence") {
    // intra-doc: doc 11's "a b" winner (second occurrence SAME doc) is
    // protected from the overlapping "x a" loser interval — position 2
    // survives inside loss interval [1,2]; batch clipSpans produces the
    // identical answer here since all protection is causally visible
    val intra = Seq((10L, "x a"), (11L, "x a b x a b"))
    assert(runStream(intra, 2, n = 2, registryDir = tmp("sd-intra") + "/reg") ==
      Seq((10L, "x a", 0L), (11L, "a b", 4L)))
    // the r11 interleave corpus: batch clipSpans yields doc1 -> "b c"
    // (future-duplicate protection); the stream cannot see doc2 yet,
    // so doc1's "b c" seed is unprotected — clipped to "c". This is
    // clipSpansPrefixStep's documented prefix-causal divergence.
    val corner = Seq((0L, "a b"), (1L, "a b c"), (2L, "b c"))
    assert(runStream(corner, 3, n = 2, registryDir = tmp("sd-corner") + "/reg") ==
      Seq((0L, "a b", 0L), (1L, "c", 2L), (2L, "", 2L)))
  }

  test("bucketed registry: identical output, and the probe join never re-shuffles the registry") {
    val corpus = Seq(
      (1L, "a b s1 s2 s3 s4 s5 c d"),
      (2L, "x s1 s2 s3 s4 s5 y z w q"),
      (3L, "p q x y p q"),
      (4L, "x s1 s2 s3 s4 s5 y z w q"))
    val regDir = tmp("sd-bucketed") + "/reg"
    val plain = runStream(corpus, 2, n = 3, registryDir = tmp("sd-plain") + "/reg")
    val bucketed = runStream(corpus, 2, n = 3, registryDir = regDir, buckets = 4)
    assert(plain == bucketed, s"bucketed registry changed the output:\n$plain\n$bucketed")
    // append shape: each batch lands AT MOST one file per bucket (the
    // bucket-id repartition before the bucketed append) — without it a
    // batch writes partitions × buckets files and a long stream's
    // listing/footer costs multiply 32× (r14: 15,650 files where the
    // design said 512; SURVEY.md §8)
    val regFs = new org.apache.hadoop.fs.Path(regDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = regFs.listStatus(new org.apache.hadoop.fs.Path(regDir))
      .count(st => st.isFile && st.getPath.getName.startsWith("part-"))
    assert(nFiles <= 2 * 4,
      s"2 batches x 4 buckets must append <= 8 files, found $nFiles")
    // the scale claim itself: a batch-seed probe against the bucketed
    // table plans the registry side through its bucketed scan with NO
    // exchange — only the batch side shuffles (broadcast disabled so
    // the small test table cannot sidestep the question)
    val tbl = StreamingSelfDedup.registryTableName(regDir)
    spark.catalog.refreshTable(tbl)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import spark.implicits._
      val batchSeeds = Seq((123L, "k1 k2"), (456L, "zz yy")).toDF("h", "gram")
      val j = batchSeeds.join(
        spark.table(tbl).select(col("h"), col("gram").as("rgram")), "h")
      j.collect()
      // AQE's toString prints the Final AND Initial plans — assert on
      // the final section only or every node double-counts
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("Bucketed: true"),
        s"registry must read through its bucketed scan:\n$plan")
      assert("Exchange".r.findAllIn(plan).size == 1,
        s"only the batch side may shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("bucketed registry survives a fresh-session resume: re-registered over existing files") {
    // simulate the restart's empty catalog: DROP the (external) table
    // between batches while its files persist — the next batch must
    // re-register the bucketed table and still clip previously-seen
    // grams, not silently probe an empty registry
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val reg = tmp("sd-reregister") + "/reg"
    val ms = MemoryStream[(Long, String)]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q = StreamingSelfDedup.clipStream(
      ms.toDS().toDF("doc_id", "text"), col("doc_id"), col("text"),
      2, reg, registryBuckets = 4) { df =>
      df.collect().foreach(r => got.add((r.getLong(0), r.getString(1), r.getLong(2))))
    }
    try {
      ms.addData(Seq((1L, "k1 k2 tail")))
      q.processAllAvailable()
      spark.sql(s"DROP TABLE ${StreamingSelfDedup.registryTableName(reg)}")
      ms.addData(Seq((2L, "k1 k2 again")))
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSeq.sortBy(_._1) ==
      Seq((1L, "k1 k2 tail", 0L), (2L, "again", 2L)),
      s"post-'restart' batch must still clip batch-0 grams: ${got.asScala.toSeq}")
  }

  test("gram-length marker: resume with a different minTokens fails loudly") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = tmp("sd-geom")
    val reg = base + "/reg"
    val ckpt = base + "/ckpt"
    val ms = MemoryStream[(Long, String)]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    def start(minTokens: Int) = StreamingSelfDedup.clipStream(
      ms.toDS().toDF("doc_id", "text"), col("doc_id"), col("text"),
      minTokens, reg, Some(ckpt), registryBuckets = 4) { df =>
      df.collect().foreach(r => got.add((r.getLong(0), r.getString(1))))
    }
    val q1 = start(2)
    try { ms.addData(Seq((1L, "k1 k2 tail"))); q1.processAllAvailable() }
    finally q1.stop()
    // a different gram length emits grams that never match the
    // registered ones — without the marker this resume would silently
    // re-emit every previously-clipped span
    val q2 = start(3)
    val e = intercept[Exception] {
      try { ms.addData(Seq((2L, "k1 k2 again"))); q2.processAllAvailable() }
      finally q2.stop()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("geometry"), msgs)
    // the matching gram length still resumes (replaying doc 2) and
    // clips batch-0 grams
    val q3 = start(2)
    try { ms.addData(Seq((3L, "k1 k2 fin"))); q3.processAllAvailable() }
    finally q3.stop()
    import scala.jdk.CollectionConverters._
    val out = got.asScala.toSeq.filter(_._1 == 3L)
    assert(out == Seq((3L, "fin")),
      s"matching gram length must clip batch-0 grams: ${got.asScala.toSeq}")
  }

  test("gram registry rebucket 4->8 between runs: prior grams still clip, stale count refuses") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = tmp("sd-rebucket")
    val reg = base + "/reg"
    val ckpt = base + "/ckpt"
    val ms = MemoryStream[(Long, String)]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    def start(buckets: Int) = StreamingSelfDedup.clipStream(
      ms.toDS().toDF("doc_id", "text"), col("doc_id"), col("text"),
      2, reg, Some(ckpt), registryBuckets = buckets) { df =>
      df.collect().foreach(r => got.add((r.getLong(0), r.getString(1), r.getLong(2))))
    }
    val q1 = start(4)
    try {
      ms.addData(Seq((1L, "k1 k2 tail")))
      q1.processAllAvailable()
    } finally q1.stop()
    // maintenance window: fresh-process simulation, then 4 -> 8
    spark.sql(s"DROP TABLE IF EXISTS ${StreamingSelfDedup.registryTableName(reg)}")
    StreamingSelfDedup.rebucketRegistry(spark, reg, 8, rebuildScreen = true)
    // resuming at the stale count must refuse
    val qStale = start(4)
    val e = intercept[Exception] {
      try { ms.addData(Seq((9L, "probe"))); qStale.processAllAvailable() }
      finally qStale.stop()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("refusing"), msgs)
    // the new count resumes (replaying doc 9) and still clips batch-0
    // grams through the re-bucketed registry
    val q2 = start(8)
    try {
      ms.addData(Seq((2L, "k1 k2 again")))
      q2.processAllAvailable()
    } finally q2.stop()
    import scala.jdk.CollectionConverters._
    val out = got.asScala.toSeq.filter(r => r._1 == 1L || r._1 == 2L)
      .sortBy(_._1)
    assert(out == Seq((1L, "k1 k2 tail", 0L), (2L, "again", 2L)),
      s"post-rebucket batch must still clip pre-rebucket grams: $out")
  }

  test("per-batch localCheckpoints are released: no persistent RDDs accrete across batches") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    runStream(Seq(
      (1L, "a b s1 s2 s3 c"),
      (2L, "x s1 s2 s3 y"),
      (3L, "p q r unique here"),
      (4L, "x s1 s2 s3 y tail")), 4, n = 3,
      registryDir = tmp("sd-unpin") + "/reg")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"per-batch checkpoint blocks leaked past release(): rdd ids $leaked")
  }

  test("bloom screen: a clean batch never plans the registry scan; a false positive cannot change the answer") {
    import spark.implicits._
    val regDir = tmp("sd-screen") + "/reg"
    Seq("k1 k2").toDF("gram")
      .select(xxhash64(col("gram")).as("h"), col("gram"))
      .write.parquet(regDir)
    val registry = spark.read.parquet(regDir)
    // clean batch + all-negative screen (what the maintained bloom
    // reports when no seed hash was ever appended): the registry must
    // not even appear in the plan — this is the O(batch)-not-
    // O(lifetime) claim for clean batches
    val clean = Seq((5L, "zz yy xx ww")).toDF("doc_id", "text")
    val (clipped, newGrams, release) = Spans.clipSpansPrefixStep(
      clean, col("doc_id"), col("text"), registry, 2, Some(_ => false))
    val plan = clipped.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("FileScan") && !plan.contains(regDir),
      s"clean batch must not scan the registry:\n$plan")
    assert(clipped.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((5L, "zz yy xx ww", 0L)))
    assert(newGrams.count() == 3L)
    release()
    // dirty batch under an ALL-positive screen (pure false positives)
    // must equal the unscreened exact route — a FP only costs the join
    val dirty = Seq((6L, "a k1 k2 b"), (7L, "c k1 k2 d")).toDF("doc_id", "text")
    def run(screen: Option[Long => Boolean]) = {
      val (c, g, rel) = Spans.clipSpansPrefixStep(
        dirty, col("doc_id"), col("text"), registry, 2, screen)
      val got = (c.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sortBy(_._1),
        g.collect().map(_.getString(1)).toSeq.sorted)
      rel(); got
    }
    assert(run(Some(_ => true)) == run(None),
      "false-positive screen diverged from the exact route")
  }

  test("dirty batch pushes only its screen-positive hash set into the registry scan") {
    import spark.implicits._
    val regDir = tmp("sd-push") + "/reg"
    Seq("k1 k2", "m1 m2", "n1 n2").toDF("gram")
      .select(xxhash64(col("gram")).as("h"), col("gram"))
      .write.parquet(regDir)
    val registry = spark.read.parquet(regDir)
    val regHashes = registry.select("h").collect().map(_.getLong(0)).toSet
    // an EXACT membership screen (what the maintained bloom approaches
    // at fpp 1e-6): the batch's one registry hit is "k1 k2"
    val screen = Some((h: Long) => regHashes.contains(h))
    val dirty = Seq((6L, "a k1 k2 b"), (7L, "fresh stuff here")).toDF("doc_id", "text")
    val (clipped, newGrams, release) = Spans.clipSpansPrefixStep(
      dirty, col("doc_id"), col("text"), registry, 2, screen)
    try {
      val got = clipped.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sortBy(_._1)
      assert(got == Seq((6L, "a b", 2L), (7L, "fresh stuff here", 0L)), got.toString)
      // the scale claim: the registry scan carries the positive-set IN
      // filter — pushed to the parquet reader (PushedFilters), where
      // bucket pruning + the h-sorted files' page stats skip untouched
      // data — and the set holds ONLY the hit's hash, not all seeds
      val plan = clipped.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val hitVal = Seq(("k1 k2")).toDF("g")
        .select(xxhash64(col("g"))).collect()(0).getLong(0)
      val missVal = Seq(("m1 m2")).toDF("g")
        .select(xxhash64(col("g"))).collect()(0).getLong(0)
      val pushed = plan.linesIterator
        .filter(_.contains("PushedFilters")).mkString("\n")
      assert(pushed.contains(hitVal.toString),
        s"registry scan must carry the pushed positive-hash filter:\n$plan")
      assert(!pushed.contains(missVal.toString),
        s"untouched registry hashes must not appear in the pushed set:\n$pushed")
      assert(newGrams.collect().map(_.getString(1)).sorted.mkString(",")
        == "a k1,fresh stuff,k2 b,stuff here", "fresh grams wrong")
    } finally release()
  }

  test("mid-stream registry compaction: output unchanged, <=1 file/bucket, probe still exchange-free") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (1L, "a b s1 s2 s3 s4 s5 c d"),
      (2L, "x s1 s2 s3 s4 s5 y z w q"),
      (3L, "p q x y p q"),
      (4L, "x s1 s2 s3 s4 s5 y z w q"))
    val regDir = tmp("sd-compact") + "/reg"
    val ms = MemoryStream[(Long, String)]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q = StreamingSelfDedup.clipStream(
      ms.toDS().toDF("doc_id", "text"), col("doc_id"), col("text"),
      3, regDir, registryBuckets = 4) { df =>
      df.collect().foreach(r => got.add((r.getLong(0), r.getString(1), r.getLong(2))))
    }
    try {
      corpus.take(2).foreach { r => ms.addData(Seq(r)); q.processAllAvailable() }
      // between batches — the single-maintenance-writer window
      val files = StreamingSelfDedup.compactRegistry(spark, regDir, 4)
      assert(files <= 4, s"compaction left $files files for 4 buckets")
      corpus.drop(2).foreach { r => ms.addData(Seq(r)); q.processAllAvailable() }
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val compacted = got.asScala.toSeq.sortBy(_._1)
    val reference = runStream(corpus, 4, n = 3,
      registryDir = tmp("sd-nocompact") + "/reg", buckets = 4)
    assert(compacted == reference,
      s"compaction changed the stream's output:\n$compacted\n$reference")
    // compaction preserved bucket identity: the probe join still reads
    // through the bucketed scan with only the batch side shuffling
    val tbl = StreamingSelfDedup.registryTableName(regDir)
    spark.catalog.refreshTable(tbl)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batchSeeds = Seq((123L, "k1 k2")).toDF("h", "gram")
      val j = batchSeeds.join(
        spark.table(tbl).select(col("h"), col("gram").as("rgram")), "h")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("Bucketed: true") &&
        "Exchange".r.findAllIn(plan).size == 1,
        s"compaction broke the exchange-free probe:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("_BUCKETS marker: reopening with a different bucket count fails loudly") {
    val regDir = tmp("sd-marker") + "/reg"
    runStream(Seq((1L, "a b c d"), (2L, "a b c e")), 2, n = 2,
      registryDir = regDir, buckets = 4)
    val e = intercept[IllegalArgumentException] {
      StreamingSelfDedup.requireRegistryTable(spark, regDir, 8)
    }
    assert(e.getMessage.contains("4 buckets"), e.getMessage)
  }

  test("marker-less registry dir: first open stamps the marker so later opens validate") {
    // a pre-marker registry (or crash before the marker landed): the
    // first open must TRUST the caller's count exactly once and stamp
    // it — a later open with a different count then fails loudly
    // instead of silently probing the wrong buckets forever
    val regDir = tmp("sd-backfill") + "/reg"
    runStream(Seq((1L, "a b c d")), 1, n = 2, registryDir = regDir, buckets = 4)
    val marker = new org.apache.hadoop.fs.Path(regDir, "_BUCKETS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(marker, false) // simulate the pre-marker dir
    spark.sql(s"DROP TABLE ${StreamingSelfDedup.registryTableName(regDir)}")
    StreamingSelfDedup.requireRegistryTable(spark, regDir, 4)
    assert(fs.exists(marker), "trusted open must stamp the marker")
    val e = intercept[IllegalArgumentException] {
      StreamingSelfDedup.requireRegistryTable(spark, regDir, 8)
    }
    assert(e.getMessage.contains("4 buckets"), e.getMessage)
  }

  test("foreign table squatting the derived catalog name fails loudly") {
    val regDir = tmp("sd-foreign") + "/reg" // never written
    val other = tmp("sd-foreign-other")
    val tbl = StreamingSelfDedup.registryTableName(regDir)
    spark.sql(s"CREATE TABLE $tbl (h BIGINT, gram STRING, batch_id BIGINT) " +
      s"USING parquet LOCATION '$other'")
    try {
      val e = intercept[IllegalStateException] {
        StreamingSelfDedup.requireRegistryTable(spark, regDir, 4)
      }
      assert(e.getMessage.contains("refusing to probe"), e.getMessage)
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("replayed batch is fenced from its own registry append: identical rows re-emitted") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val reg = tmp("sd-replay") + "/reg"
    val ckpt = tmp("sd-replay-ck")
    val ms = MemoryStream[(Long, String)]
    val deliveries = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, String, Long)]]()
    def start() = StreamingSelfDedup.clipStream(
      ms.toDS().toDF("doc_id", "text"), col("doc_id"), col("text"),
      2, reg, Some(ckpt)) { df =>
      deliveries.add(df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sortBy(_._1))
    }
    val q1 = start()
    try {
      ms.addData(Seq((1L, "k1 k2 tail"), (2L, "other text")))
      q1.processAllAvailable()
      // batch 1 contains BOTH a registry hit (k1 k2 from batch 0) and
      // a within-batch duplication — the two paths the fence must keep
      // stable across a replay
      ms.addData(Seq((3L, "k1 k2 again"), (4L, "z1 z2"), (5L, "z1 z2")))
      q1.processAllAvailable()
    } finally q1.stop()
    import scala.jdk.CollectionConverters._
    val before = deliveries.asScala.toSeq
    // force the at-least-once replay of batch 1: its registry append
    // ALREADY LANDED, its commit marker did not
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    val names = java.nio.file.Files.list(commits).iterator().asScala
      .map(_.getFileName.toString).filter(_.forall(_.isDigit)).toSeq.sortBy(_.toInt)
    java.nio.file.Files.delete(commits.resolve(names.last))
    java.nio.file.Files.deleteIfExists(commits.resolve(s".${names.last}.crc"))
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val after = deliveries.asScala.toSeq
    assert(after.size == before.size + 1, s"expected one replayed delivery")
    assert(after.last == before.last,
      s"replay diverged (own-append leak through the fence):\n" +
        s"original ${before.last}\nreplayed ${after.last}")
  }
}
