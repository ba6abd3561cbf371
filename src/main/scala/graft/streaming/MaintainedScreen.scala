package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.sketch.BloomFilter

import graft.dedup.SeedScreen

/** Driver-held lifecycle of a registry membership screen, shared by
  * every self-growing-registry route ([[StreamingSelfDedup]]'s gram
  * registry, [[StreamingNearDup]]'s band registry): per micro-batch
  * the route asks for the current [[SeedScreen]], extends it with the
  * batch's appended key hashes, and the screen (re)builds, degrades,
  * and revives WITHOUT restarting the stream.
  *
  * Two forms, decided at (re)build time:
  *   - no on-disk [[BucketScreen]]: one driver bloom over the WHOLE
  *     registry (fine until the registry outgrows `capacity`);
  *   - an on-disk [[BucketScreen]] exists (built by the maintenance
  *     driver alongside compaction): the driver bloom holds only the
  *     TAIL of rows appended after the screen build (`batch_id >
  *     covered` — row-group stats on the compacted files skip the
  *     bulk, so the rebuild scan also costs ∝ tail); the bulk is
  *     probed on executors. Outgrowing the tail is then RECOVERABLE:
  *     a dead screen re-checks the on-disk meta each batch and comes
  *     back once maintenance rebuilds past the covered batch it died
  *     under.
  *
  * Instances are confined to one stream's foreachBatch closure, which
  * runs sequentially on the stream execution thread — the mutable
  * state needs no synchronization (same contract the closure vars it
  * replaces had).
  */
private[streaming] final class MaintainedScreen(
    registryDir: String, registryBuckets: Int,
    capacity: Long, fpp: Double, label: String) {

  private var bloom: BloomFilter = null
  private var bucketCovered: Option[Long] = None
  // whether the on-disk screen had a delta tier when this driver tail
  // was built (meta covered_batch > base_covered) — fixed here, not
  // re-read per probe: a delta created by LATER maintenance is still
  // covered by this tail, so staleness costs false positives only
  private var bucketDeltas = false
  private var dead = capacity <= 0

  /** (Re)build or revive the screen for this batch if needed.
    *
    * @param registryHashes single-`h`-column frame of EVERY registry
    *                       key hash (the whole-registry build)
    * @param tailHashes     same shape for rows appended after the
    *                       given covered batch id (exclusive) and
    *                       before this batch
    */
  def refresh(fs: FileSystem, regPath: Path, batchId: Long,
              registryHashes: => DataFrame,
              tailHashes: Long => DataFrame): Unit = {
    val wantInit = bloom == null && !dead
    val wantRevive = dead && capacity > 0 && registryBuckets > 0 &&
      fs.exists(regPath)
    if (!wantInit && !wantRevive) return
    val meta =
      if (registryBuckets > 0 && fs.exists(regPath))
        BucketScreen.readMeta(fs, registryDir)
          .filter(_.buckets == registryBuckets)
      else None
    meta match {
      case Some(m) if wantInit || bucketCovered.forall(m.coveredBatch > _) =>
        StreamingSelfDedup.bloomOver(
            tailHashes(m.coveredBatch), capacity, fpp) match {
          case Some(b) =>
            bloom = b; bucketCovered = Some(m.coveredBatch)
            bucketDeltas = m.coveredBatch > m.baseCovered
            if (wantRevive) MaintainedScreen.event(
              s"$label screen revived at batch $batchId under " +
                s"bucket screen covered=${m.coveredBatch}")
            else MaintainedScreen.event(
              s"$label screen built at batch $batchId: bucket " +
                s"screen covered=${m.coveredBatch} + driver tail")
            dead = false
          case None =>
            bucketCovered = Some(m.coveredBatch); dead = true
        }
      case None if wantInit =>
        StreamingSelfDedup.bloomOver(registryHashes, capacity, fpp) match {
          case Some(b) =>
            bloom = b
            MaintainedScreen.event(s"$label screen built at batch " +
              s"$batchId: whole-registry driver bloom")
          case None => dead = true
        }
      case _ => () // dead, and no newer screen to revive under
    }
  }

  /** The current screen: two-tier (executor bucket blooms + driver
    * tail) when built under an on-disk [[BucketScreen]], else the
    * whole-registry driver probe; None while dead/unbuilt. The
    * driver-held filter is never serialized anywhere — it is probed
    * on the driver against the batch's key hashes; only the bucket
    * blooms live executor-side (through their JVM-local cache).
    */
  def screen: Option[SeedScreen] =
    if (bloom == null) None
    else {
      val bf = bloom
      bucketCovered match {
        case Some(_) => Some(BucketScreen.probe(
          registryDir, registryBuckets, bucketDeltas,
          h => bf.mightContainLong(h)))
        case None => Some(SeedScreen.fromDriverProbe(
          h => bf.mightContainLong(h)))
      }
    }

  /** Extend with the batch's appended key hashes (single `h` column):
    * stream the 8-byte hashes to the driver in one job
    * ([[SeedScreen.longsToDriver]] — a distributed bloom build's
    * partial aggregates each weigh the FULL filter, and the previous
    * `toLocalIterator` paid one job per post-shuffle partition).
    * Drops the screen if the extension saturates it; with a bucket
    * screen the drop is temporary (the next maintenance rebuild
    * revives it).
    */
  def extend(appendedHashes: DataFrame, batchId: Long): Unit =
    extendApply(extendCollect(appendedHashes), batchId)

  /** Phase 1 of [[extend]]: the one Spark job that streams the batch's
    * appended key hashes to the driver, buffered as per-partition
    * arrays. Reads only the (caller-pinned) input frame and mutates no
    * screen state, so the caller may run it CONCURRENTLY with the
    * sink write and the registry appends (the stream thread otherwise
    * idles parked on the append await while this job would run after
    * it). [[extendApply]] — which mutates the filter — must still run
    * strictly AFTER the appends land: a key the screen covers but the
    * registry lost would be a false negative. Returns null when the
    * screen is down (apply then no-ops). Thread-safety: screen state
    * is written only by `refresh`/`extendApply` on the stream thread;
    * a pool-thread collect is safe when submitted by the stream
    * thread after its `refresh` (the submission orders the writes).
    */
  def extendCollect(appendedHashes: DataFrame): java.util.List[Array[Long]] = {
    if (bloom == null) return null
    val bufs = new java.util.ArrayList[Array[Long]]()
    SeedScreen.longsToDriver(appendedHashes)(arr => bufs.add(arr))
    bufs
  }

  /** Phase 2 of [[extend]]: fold the collected hash arrays into the
    * driver filter and drop the screen if the extension saturates it.
    * No-op on a null/absent collect (screen down).
    */
  def extendApply(bufs: java.util.List[Array[Long]], batchId: Long): Unit = {
    if (bloom == null || bufs == null) return
    val bf = bloom
    val it = bufs.iterator()
    while (it.hasNext) {
      val arr = it.next()
      var i = 0
      while (i < arr.length) { bf.putLong(arr(i)); i += 1 }
    }
    if (bloom.expectedFpp() > StreamingSelfDedup.ScreenUsableFpp) {
      MaintainedScreen.event(
        s"$label ${if (bucketCovered.isDefined) "tail " else ""}screen " +
          s"dropped at batch $batchId: outgrew screenCapacity=$capacity" +
          (if (registryBuckets > 0)
             " (a screen rebuild at the next compaction revives it)"
           else ""))
      bloom = null
      dead = true
    }
  }
}

private[streaming] object MaintainedScreen {

  /** Screen lifecycle events (built / dropped / revived) in arrival
    * order — a diagnostic seam so the outgrowth→rebuild→revival path
    * is observable (specs assert on it; ops can drain it). Bounded.
    */
  private[graft] val events =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def event(msg: String): Unit = {
    while (events.size > 256) events.poll()
    events.add(msg)
    Console.err.println(s"[graft] $msg")
  }

  /** Raise the parquet IN-pushdown threshold on the stream's cloned
    * session so a dirty batch's pushed `h IN (…)` positive set reaches
    * the parquet reader: at the default threshold of 10 any larger IN
    * degrades to a min/max range — useless on uniform 64-bit hashes —
    * while past it the SORTED files' row-group/page stats skip
    * everything the batch does not touch. Session scope is the
    * stream's clone (MicroBatchExecution clones at start) — no
    * cross-stream leak.
    *
    * 512, NOT arbitrary: Spark folds the pushed values with
    * `reduceLeft(FilterApi.or)` — a LINEAR predicate chain whose
    * build/evaluation recursion depth equals the value count.
    * Measured on this JVM (1 MB task stacks; SURVEY.md §8, r14
    * notes): 1024 values fine, 2048 = StackOverflowError inside the
    * parquet reader — which first shipped as a 4096 raise and killed
    * `streaming_clip_self` at sf0.1 mid-scale-run. 512 keeps a 4×
    * margin; sets past the threshold still filter through the
    * execution-level InSet and bucket pruning, they just lose the
    * row-group skip.
    */
  def raiseInPushdown(s: SparkSession): Unit =
    s.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "512")
}
