package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.TextAnalysis

/** Incremental BM25 index maintenance — the lexical sibling of
  * [[StreamingIvf]]: the postings table is batch-built once
  * ([[TextAnalysis.buildBm25Index]] — token-bucketed, so serving joins
  * run with zero postings-side exchanges), and arriving documents keep
  * it fresh by appending their postings INTO THE SAME BUCKET LAYOUT
  * and refreshing the 1-row corpus stats. Serving
  * ([[TextAnalysis.bm25JoinIndexed]]) needs no code change: document
  * frequencies and scores are derived from the postings table at query
  * time, so a query issued after any number of appended batches sees
  * exactly the index a full rebuild would produce.
  *
  * Scale design: each micro-batch is tokenize → per-doc tf aggregate
  * (the SAME [[TextAnalysis.bm25Postings]] derivation the batch build
  * uses — one definition, so the served-equals-rebuild invariant can't
  * drift) → one bucketed append (batch bucketBy inside foreachBatch —
  * the streaming parquet sink cannot bucket) → a stats overwrite
  * derived from the postings table's pruned (id, dl) columns. No state
  * store, no watermark: the INDEX is the state, exactly where a
  * serving system wants it. Callers ingesting documents with ids
  * already indexed should dedup upstream ([[StreamingDedup]]) or
  * compact with [[graft.operators.Upsert]] semantics at rebuild time —
  * appends are add-only, the same contract as the reference's
  * insert-only vector store.
  *
  * == Exactly-once commit protocol ==
  *
  * foreachBatch is AT-LEAST-ONCE: after a crash the last batch
  * replays, and a blind append would double its postings (doubling
  * tf/df in every served score). A marker file alone only covers
  * replays of batches that COMPLETED — a crash after the parquet
  * append commits but before the marker lands would still double on
  * replay. The sink therefore stages and commits each batch:
  *
  *  1. write the batch's postings bucketed into a batch-scoped STAGING
  *     dir (a crash here touches nothing the serving table lists);
  *  2. write a MANIFEST of the staged file names (temp file + atomic
  *     rename);
  *  3. move each staged file into the table dir — bucket identity
  *     lives in the part-file NAME (the `_0000N` suffix Spark's
  *     bucketed reader parses), so a rename preserves the bucket
  *     layout and the exchange-free serving join;
  *  4. refresh + overwrite the stats side table (idempotent);
  *  5. create the batch MARKER — the commit point.
  *
  * Replay of batch b: marker present → fully committed, skip. Marker
  * absent but manifest present → the crash hit between steps 2 and 5;
  * delete every manifest-listed file from the table dir (files not yet
  * moved are simply absent) and redo from step 1. Marker and manifest
  * both absent → the crash hit before step 2 and the table dir was
  * never touched; redo from step 1. Every served read therefore sees
  * each document's postings exactly once.
  */
object StreamingBm25 {

  // Hadoop rename signals failure by RETURNING FALSE, not by throwing
  // (e.g. destination exists, cross-volume move). A swallowed false
  // lets a later cleanup delete staged postings while a marker still
  // lands — the batch/compact would be recorded committed with files
  // silently missing. Fail loudly instead.
  private def renameOrFail(fs: org.apache.hadoop.fs.FileSystem,
                           src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(
        s"StreamingBm25 commit: rename $src -> $dst returned false; " +
        "failing so the operation is retried")

  /** Roll a crashed [[compact]] forward. The compact manifest only
    * lands AFTER staging completed, so its presence means every
    * compacted file exists (in the stage dir or already moved):
    * finish the moves, delete the listed obsolete originals, then
    * drop the manifest — idempotent at every crash point. Without a
    * manifest there is nothing to reconcile (a crash before the
    * manifest left the table dir untouched; stage litter is reaped by
    * the next compact's fresh staging write).
    */
  private[streaming] def recoverCompact(
      fs: org.apache.hadoop.fs.FileSystem, root: Path): Unit = {
    val manifest = new Path(root, "__compact/manifest")
    if (fs.exists(manifest)) {
      val in = fs.open(manifest)
      val lines = scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      in.close()
      val stage = new Path(root, "__compact/stage")
      lines.foreach { line =>
        val (tag, name) = (line.charAt(0), line.substring(2))
        if (tag == 'A') {
          val src = new Path(stage, name)
          if (fs.exists(src)) renameOrFail(fs, src, new Path(root, name))
        } else if (tag == 'D') fs.delete(new Path(root, name), false)
      }
      fs.delete(new Path(root, "__compact"), true)
    }
  }

  /** Bucket-preserving compaction of the streamed postings table.
    *
    * Every appended micro-batch adds one file per bucket; over
    * thousands of batches the per-bucket file count grows without
    * bound and serve-time listing + parquet-footer opens dominate.
    * This rewrites the table back to (at most) one file per bucket —
    * `maxRecordsPerFile` splits oversized buckets into extra files,
    * never a straggler — THROUGH a bucketed staging write, so the
    * `_0000N` bucket identity in the part-file names (what Spark's
    * bucketed reader parses) is preserved and the serving join stays
    * exchange-free.
    *
    * Crash safety reuses the append commit's staged-write + manifest
    * protocol, rolled FORWARD: stage the full compacted file set, land
    * a manifest (`A <new>` / `D <old>` lines, temp file + atomic
    * rename), move the new files in, delete the old, drop the
    * manifest. A crash at any point either left the table untouched
    * (no manifest) or is finished by [[recoverCompact]], which runs at
    * the head of every compact and every maintenance batch.
    *
    * Single-maintenance-writer contract (same as [[maintain]]): run
    * from the maintenance driver between batches, not concurrently
    * with an append. Concurrent READS during the move window can see a
    * transiently incomplete/doubled listing — pause serving or accept
    * the window, as with any in-place file-level reorganization.
    *
    * `minFileBytes > 0` makes the compaction SIZE-TIERED — the LSM
    * answer to the full-rewrite problem: only data files SMALLER than
    * the floor (the per-batch append residue) are read and merged;
    * files at or above it (earlier compactions' output) are left
    * untouched on disk, so amortized maintenance cost tracks NEW data,
    * not table lifetime. The merged output lands as one additional
    * file per bucket beside the big one — Spark's bucketed reader
    * groups part-files by their `_0000N` bucket id, so reads stay
    * exchange-free; batch-id fencing rows ride along verbatim. The
    * default 0 keeps the full rewrite (back to ≤1 file per bucket) —
    * run one occasionally to fold the tiers together.
    *
    * `tierFanout = K > 1` (with `minFileBytes > 0`) adds the MULTI-
    * TIER merge rule that bounds per-bucket file count over the
    * stream's LIFETIME: the single-floor form above leaves one new
    * ≥-floor file per bucket per maintenance window forever, so after
    * W windows every probe pays W parquet footers per bucket. Here
    * each ≥-floor file belongs to the size tier t = ⌊log_K(len /
    * minFileBytes)⌋, and whenever a bucket holds ≥ K files of the
    * same tier, exactly those files join the merge set (the merged
    * output lands one-per-bucket in a higher tier, being ~K× the
    * bytes). Every byte is therefore rewritten O(log_K W) times total
    * — amortized cost still ∝ new data — while files per bucket stay
    * O(K·log_K W) instead of O(W). Tier selection is per bucket; a
    * window where no tier fills merges only the litter, exactly the
    * single-floor form.
    *
    * Returns the number of data files after compaction.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, table: String,
              path: String, bucketCol: String = "token",
              numBuckets: Int = 32, maxRecordsPerFile: Long = 0L,
              minFileBytes: Long = 0L, tierFanout: Int = 0): Int = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // cross-process single-maintenance-writer: a second driver's
    // compact/rebucket against this dir fails loudly HERE instead of
    // corrupting an in-flight swap (the JVM-local stream guard cannot
    // see other processes). Explicit try/finally — the early returns
    // below must release too.
    val lease = MaintenanceLease.acquire(fs, path)
    try {
    recoverCompact(fs, root)
    spark.catalog.refreshTable(table)
    val all = fs.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
    val (smallSt, floorSt) =
      if (minFileBytes > 0) all.partition(_.getLen < minFileBytes)
      else (all, Seq.empty)
    // multi-tier rule: per (bucket, size tier) groups of ≥-floor files
    // with at least tierFanout members merge along with the litter.
    // Bucket identity comes from the part-file NAME (the `_0000N`
    // suffix), same source of truth the bucketed reader uses.
    // OPS NOTE (name-scheme dependency): this is one of THREE places
    // the bucketed writer's `_NNNNN.` file-name convention is
    // load-bearing — here (tier grouping), the append protocol's
    // bucket-preserving file moves above, and
    // [[BucketedRegistry.requireTable]]'s marker-less stamp
    // cross-check. A Spark release changing the naming breaks all
    // three loudly (cross-check failure / no tier ever fills), never
    // silently.
    val bucketIdRe = "_(\\d{5})\\.".r
    val (tierSt, bigSt) =
      if (minFileBytes > 0 && tierFanout > 1) {
        val grouped = floorSt.groupBy { st =>
          val b = bucketIdRe.findFirstMatchIn(st.getPath.getName)
            .map(_.group(1).toInt).getOrElse(-1)
          val t = (math.log(st.getLen.toDouble / minFileBytes) /
            math.log(tierFanout.toDouble)).toInt
          (b, t)
        }
        val (merge, keep) = grouped.partition(_._2.size >= tierFanout)
        (merge.values.flatten.toSeq, keep.values.flatten.toSeq)
      } else (Seq.empty, floorSt)
    val mergeSt = smallSt ++ tierSt
    val old = mergeSt.map(_.getPath.getName)
    if (tierSt.isEmpty && old.size <= numBuckets)
      return all.size // ≤1 mergeable file/bucket and no tier is due
    val stagePath = new Path(root, "__compact/stage")
    fs.delete(stagePath, true)
    val stageTable = s"${table}_compact_stage"
    spark.sql(s"DROP TABLE IF EXISTS $stageTable")
    // group rows by their BUCKET ID (pmod(murmur3, n) — what the
    // spark-native bucketed writer assigns) so every bucket lands
    // whole in one task: the writer then emits one file per bucket
    // (plus maxRecordsPerFile splits), never a bucket split across
    // tasks. Repartitioning on the raw column does NOT guarantee this
    // — the shuffle's partition assignment need not equal the bucket
    // id (observed: buckets split across tasks → files per bucket
    // MULTIPLIED instead of compacted).
    import org.apache.spark.sql.functions.{col => fcol, hash, lit, pmod}
    // tiered: read ONLY the merge set (the writer re-derives each
    // row's bucket from bucketCol, so the merged files carry the same
    // bucket ids the rows always had); full: read through the table
    val src =
      if (bigSt.isEmpty) spark.table(table)
      else spark.read.parquet(mergeSt.map(_.getPath.toString): _*)
    val reader = src
      .repartition(numBuckets, pmod(hash(fcol(bucketCol)), lit(numBuckets)))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", stagePath.toString)
    (if (maxRecordsPerFile > 0)
       reader.option("maxRecordsPerFile", maxRecordsPerFile)
     else reader)
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(stageTable)
    // the stage write is the op's long pole: refresh the lease so a
    // compact slower than the TTL is never taken over mid-flight
    MaintenanceLease.heartbeat(fs, lease)
    val staged = fs.listStatus(stagePath).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("part-"))
    val mTmp = new Path(root, "__compact/.manifest.tmp")
    val manifest = new Path(root, "__compact/manifest")
    val out = fs.create(mTmp, true)
    out.write((staged.map("A " + _) ++ old.map("D " + _))
      .mkString("\n").getBytes("UTF-8"))
    out.close()
    // the manifest rename is the COMMIT POINT: if this op outlived its
    // lease TTL and another writer took over, abort here — the staged
    // litter is unreferenced and reaped by the next compact
    MaintenanceLease.validate(fs, lease)
    renameOrFail(fs, mTmp, manifest)
    staged.foreach(n =>
      renameOrFail(fs, new Path(stagePath, n), new Path(root, n)))
    old.foreach(n => fs.delete(new Path(root, n), false))
    spark.sql(s"DROP TABLE IF EXISTS $stageTable")
    fs.delete(new Path(root, "__compact"), true)
    spark.catalog.refreshTable(table)
    staged.size + bigSt.size
    } finally MaintenanceLease.release(fs, lease)
  }

  /** Start the maintenance sink over a document stream: per batch,
    * append postings into `table` (must exist — built by
    * [[TextAnalysis.buildBm25Index]]) under the same bucket spec, then
    * refresh `<table>_stats`.
    *
    * `compactEvery > 0` runs [[compact]] inside the maintenance batch
    * every N batches. CONTRACT: this inherits compact's in-place
    * file-move window — a serve session querying the table during the
    * swap can transiently see doubled (new files in, old not yet
    * deleted) or missing postings for in-flight scans. Automated
    * compaction is therefore for deployments that either (a) tolerate
    * transient retrieval-score jitter (a ranking surface usually
    * does), or (b) quiesce serving around maintenance batches. For
    * strict read consistency keep `compactEvery = 0` and run
    * [[compact]] from the maintenance driver in a window where serving
    * is paused — or serve from [[graft.sources.Layout.writeVersioned]]
    * snapshots, whose marker-commit readers never observe a move.
    */
  def maintain(stream: DataFrame, idCol: String, textCol: String,
               table: String, path: String, checkpointDir: String,
               numBuckets: Int = 32, compactEvery: Int = 0,
               minFileBytes: Long = 0L, tierFanout: Int = 0): StreamingQuery = {
    // foreachBatch executes under a micro-batch CLONE of the session;
    // a refreshTable there invalidates only the clone's relation
    // cache, and the serving session keeps reading the pre-append file
    // listing. Capture the serving session now and refresh ITS catalog
    // after every append.
    val serveSession = stream.sparkSession
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val root = new Path(path)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // finish any compact that crashed mid-swap before touching the
        // table (manifest presence = staged files are complete)
        recoverCompact(fs, root)
        val marker = new Path(s"$path/__batches/batch-$batchId")
        if (!fs.exists(marker)) {
          val manifest = new Path(s"$path/__batches/manifest-$batchId")
          // reconcile a mid-move crash: remove whatever subset of this
          // batch's files already reached the table dir before redoing
          if (fs.exists(manifest)) {
            val in = fs.open(manifest)
            val names = scala.io.Source.fromInputStream(in, "UTF-8")
              .getLines().filter(_.nonEmpty).toList
            in.close()
            names.foreach(n => fs.delete(new Path(root, n), false))
            fs.delete(manifest, false)
          }
          // stage: bucketed write into a batch-scoped dir (bucketBy
          // requires saveAsTable; the staging table is transient)
          val stagePath = new Path(s"$path/__staging/batch-$batchId")
          fs.delete(stagePath, true)
          val stageTable = s"${table}_stage"
          spark.sql(s"DROP TABLE IF EXISTS $stageTable")
          TextAnalysis.bm25Postings(batch, col(idCol), col(textCol))
            .repartition(numBuckets, col("token"))
            .write.mode(SaveMode.Overwrite)
            .format("parquet")
            .option("path", stagePath.toString)
            .bucketBy(numBuckets, "token")
            .sortBy("token")
            .saveAsTable(stageTable)
          val staged = fs.listStatus(stagePath).toSeq.map(_.getPath)
            .filter(_.getName.startsWith("part-"))
          // manifest before any move, via atomic rename
          val mTmp = new Path(s"$path/__batches/.manifest-$batchId.tmp")
          val out = fs.create(mTmp, true)
          out.write(staged.map(_.getName).mkString("\n").getBytes("UTF-8"))
          out.close()
          renameOrFail(fs, mTmp, manifest)
          // commit: move staged files into the serving table dir
          staged.foreach(p => renameOrFail(fs, p, new Path(root, p.getName)))
          spark.sql(s"DROP TABLE IF EXISTS $stageTable")
          fs.delete(stagePath, true)
          spark.catalog.refreshTable(table)
          spark.table(table)
            .select(col("id"), col("dl")).distinct()
            .agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
            .write.mode(SaveMode.Overwrite)
            .format("parquet").option("path", s"$path/__stats")
            .saveAsTable(s"${table}_stats")
          spark.catalog.refreshTable(s"${table}_stats")
          serveSession.catalog.refreshTable(table)
          serveSession.catalog.refreshTable(s"${table}_stats")
          fs.create(marker, true).close()
        }
        // optional maintenance trigger: bound per-bucket file growth
        // (each append adds a file per bucket; long-running streams
        // otherwise pay unbounded listing + footer opens at serve time)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          // same size-tier/multi-tier dials as a standalone compact —
          // a long-running maintained index pays ~ new data per pass
          // and bounded files/bucket over its lifetime
          compact(spark, table, path, numBuckets = numBuckets,
            minFileBytes = minFileBytes, tierFanout = tierFanout)
          serveSession.catalog.refreshTable(table)
        }
        ()
      }
      .start()
  }
}
