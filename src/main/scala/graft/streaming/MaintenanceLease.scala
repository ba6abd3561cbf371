package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

/** Cross-process single-maintenance-writer lease — the staged-manifest
  * family's answer to the hole the JVM-local
  * [[BucketedRegistry.requireNoActiveStream]] cannot see: a maintenance
  * driver in ANOTHER process running `rebucket`/`compact`/screen
  * maintenance concurrently with this one. Without it the collision
  * failure mode is a refused rename or silently lost work deep inside a
  * swap; with it the second writer fails FAST and LOUDLY at acquire
  * time, naming the holder.
  *
  * Protocol (same crash-safety family as the compact/rebucket
  * manifests):
  *   - `acquire`: if a live lease exists for another holder → throw; an
  *     EXPIRED lease is taken over (loud log — the previous holder
  *     crashed mid-maintenance; its manifest roll-forward makes that
  *     safe); otherwise write `holder` + `expires` to a temp file and
  *     move it to `__maintenance_lease` WITHOUT REPLACE — the existing
  *     file is deleted first ONLY when it is our own (refresh) or the
  *     expired one being taken over, so a racing foreign acquire that
  *     lands in the window makes our move fail and we throw, acquiring
  *     nothing. On HDFS-like stores rename-onto-existing returns
  *     false; on the local filesystem (where rename(2) REPLACES) the
  *     move is a hard-link + unlink, which is atomically exclusive.
  *     After a successful move the lease is re-read and must name us —
  *     a belt-and-suspenders catch for any store where the move is
  *     not exclusive.
  *   - `heartbeat`: self re-acquire (refreshes `expires`) — call
  *     between the expensive stages of a long op (stage write, big
  *     collect) so an op legitimately slower than the TTL never
  *     expires mid-flight and gets taken over (which would abort it at
  *     validate and, worse, livelock a retry loop). If a takeover DID
  *     happen, heartbeat throws the same loud acquire error and the op
  *     aborts early, over litter.
  *   - `validate`: re-read before every irreversible swap (manifest
  *     rename, screen delta/dir swap) — a holder that lost its lease to
  *     a stale-takeover must abort rather than swap over the new
  *     holder's work.
  *   - `release`: delete iff still self-held (owned). A crash without
  *     release leaves a lease that expires after `ttlMs` — bounded
  *     unavailability of the maintenance path, never of the stream
  *     (appends/probes don't take the lease; stream-vs-maintenance
  *     stays on the documented maintenance-window contract).
  *
  * Residual race, documented: two contenders that BOTH legitimately
  * observe the same expired lease can interleave read→delete→move such
  * that the second's delete removes the first's fresh file before its
  * own move. The exclusive move plus the post-move re-read shrink that
  * window to the instants between one holder's verify and the other's
  * delete; validate-before-every-irreversible-swap backstops it, so
  * the worst outcome is a loud abort over unreferenced litter, never a
  * silent overwrite of committed state.
  *
  * The lease lives in the TABLE dir it guards (bands / feature / gram
  * registry dir), underscore-prefixed so Spark's file listing never
  * surfaces it as data.
  */
object MaintenanceLease {

  private val LeaseName = "__maintenance_lease"

  /** Default time-to-live. Maintenance ops on a healthy registry run
    * seconds to minutes; 30 min bounds the unavailability window after
    * a holder crash without risking takeover of a live long op — and
    * long ops [[heartbeat]] between stages, so even one slower than
    * the TTL keeps its lease live. Override per-process with
    * `-Dgraft.maintenance.lease.ttl.ms=` (ops knob; specs use it to
    * prove the heartbeat at a short TTL).
    */
  val DefaultTtlMs: Long = 30L * 60 * 1000

  private[streaming] def configuredTtlMs: Long =
    sys.props.get("graft.maintenance.lease.ttl.ms")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(DefaultTtlMs)

  /** Heartbeat count (test observability: specs assert a long op
    * refreshed its lease mid-flight).
    */
  private[streaming] val heartbeats =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** JVM-stable holder identity: host + pid + a per-JVM nonce (two
    * JVMs on one host, or a restarted pid-reusing process, must never
    * read as the same holder).
    */
  private[graft] lazy val holderId: String = {
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Exception => "unknown-host" }
    s"$host#${ProcessHandle.current().pid()}#${
      java.util.UUID.randomUUID().toString.take(8)}"
  }

  /** A held lease; pass it to [[heartbeat]] between a long op's
    * stages, to [[validate]] before every swap, and to [[release]]
    * when the op completes. `held = false` marks the UNGUARDED lease
    * [[acquire]] returns for a dir that does not exist yet (first-ever
    * maintenance of a brand-new registry): there is no file to back
    * it, so heartbeat/validate/release are no-ops — the op may create
    * the dir mid-flight, and a validate that then found the dir
    * without a lease file must not spuriously abort the first build.
    * Two processes racing that first-ever op are unguarded by
    * construction; the staged swaps make the loser's work litter, not
    * corruption.
    */
  final case class Lease(dir: String, ttlMs: Long, held: Boolean)

  private def leasePath(dir: String) = new Path(dir, LeaseName)

  private[streaming] def readLease(fs: FileSystem, dir: String):
      Option[(String, Long)] = {
    val p = leasePath(dir)
    if (!fs.exists(p)) None
    else
      try {
        val in = fs.open(p)
        val txt =
          try new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
          finally in.close()
        val kv = txt.linesIterator.map(_.split("=", 2))
          .collect { case Array(k, v) => k -> v }.toMap
        // a garbled/truncated file (non-numeric or absent expires —
        // temp+move makes this near-impossible, but the contract is
        // that it DEGRADES) reads as expired-at-epoch: the next
        // acquire takes it over loudly instead of wedging maintenance
        // until a manual delete
        Some((kv.getOrElse("holder", ""),
          kv.get("expires").flatMap(v =>
            scala.util.Try(v.trim.toLong).toOption).getOrElse(0L)))
      } catch {
        // a lease mid-delete (takeover window) reads as absent
        case _: java.io.FileNotFoundException => None
      }
  }

  /** Move `src` onto `dst` REFUSING to replace an existing `dst`,
    * atomically. Hadoop's rename-onto-existing returns false on
    * HDFS-like stores, but on the local filesystem it degrades to
    * rename(2), which REPLACES — there a hard-link (atomically
    * exclusive on POSIX: link(2) fails with EEXIST) + unlink of the
    * source gives the exclusive-create semantics the lease needs.
    */
  private[streaming] def moveNoReplace(fs: FileSystem, src: Path,
                                       dst: Path): Boolean =
    if ("file" == Option(fs.getUri.getScheme).getOrElse("")) {
      val s = java.nio.file.Paths.get(fs.makeQualified(src).toUri)
      val d = java.nio.file.Paths.get(fs.makeQualified(dst).toUri)
      try {
        java.nio.file.Files.createLink(d, s)
        java.nio.file.Files.deleteIfExists(s)
        // the checksum shadow of the temp file (LocalFileSystem writes
        // one beside every create) is litter once the data moved
        fs.delete(new Path(src.getParent, s".${src.getName}.crc"), false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else fs.rename(src, dst)

  /** Acquire the maintenance lease for `dir` or throw. Re-acquiring a
    * lease this JVM already holds succeeds (refreshes the expiry) —
    * same-process maintenance is serialized by the caller per the
    * single-maintenance-driver contract. `ttlMs ≤ 0` resolves the
    * configured default.
    */
  def acquire(fs: FileSystem, dir: String, ttlMs: Long = 0L): Lease = {
    val ttl = if (ttlMs > 0) ttlMs else configuredTtlMs
    if (!fs.exists(new Path(dir)))
      return Lease(dir, ttl, held = false) // nothing to guard yet
                                           // (first open; see Lease doc)
    val now = System.currentTimeMillis()
    readLease(fs, dir) match {
      case Some((holder, expires)) if holder != holderId && expires > now =>
        throw new IllegalStateException(
          s"maintenance lease at $dir is held by $holder (expires in " +
            s"${(expires - now) / 1000}s); a second maintenance writer " +
            "would corrupt in-flight swaps — wait for it to finish or " +
            "expire (single-maintenance-writer contract)")
      case Some((holder, _)) if holder != holderId =>
        Console.err.println(s"[graft] taking over EXPIRED maintenance " +
          s"lease at $dir (previous holder $holder crashed or stalled; " +
          "its staged manifests roll forward safely)")
        fs.delete(leasePath(dir), false)
      case Some(_) =>
        // our own file (refresh): delete so the exclusive move below
        // can land the refreshed one. ONLY self-or-expired files are
        // ever deleted here — an absent-lease contender deletes
        // nothing, so a foreign acquire that lands first makes our
        // move fail instead of being silently removed
        fs.delete(leasePath(dir), false)
      case None => ()
    }
    val tmp = new Path(dir, s".$LeaseName.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(
      s"holder=$holderId\nexpires=${now + ttl}\n".getBytes("UTF-8"))
    finally out.close()
    if (!moveNoReplace(fs, tmp, leasePath(dir))) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"lost the maintenance-lease race at $dir to a concurrent " +
          "writer; refusing to proceed")
    }
    // exclusive-move stores can't reach here without holding the file,
    // but re-verify for any store where the move can replace: losing
    // here means a contender overwrote us in the window — back off
    readLease(fs, dir) match {
      case Some((holder, _)) if holder == holderId => ()
      case other => throw new IllegalStateException(
        s"maintenance-lease acquire at $dir was overwritten by a " +
          s"concurrent writer (found $other); refusing to proceed")
    }
    Lease(dir, ttl, held = true)
  }

  /** Refresh a held lease's expiry — call between the expensive stages
    * of a long op (the stage write of compact/rebucket, the per-bucket
    * bloom collect of a screen build) so an op slower than the TTL
    * never expires mid-flight. Throws the loud acquire error if the
    * lease was already taken over: the op aborts EARLY over litter
    * instead of discovering it at the pre-swap validate.
    */
  def heartbeat(fs: FileSystem, lease: Lease): Unit =
    if (lease.held) {
      acquire(fs, lease.dir, lease.ttlMs)
      heartbeats.incrementAndGet()
      ()
    }

  /** Require the lease is still self-held — call before every
    * irreversible swap. A validate failure means another process took
    * over after our expiry: abort (the work staged so far is unreferenced
    * litter the next maintenance reaps), never swap. No-op for the
    * unguarded first-open lease (`held = false`) — the op itself may
    * have created the dir since acquire, and there is no file to check.
    */
  def validate(fs: FileSystem, lease: Lease): Unit =
    if (lease.held && fs.exists(new Path(lease.dir)))
      readLease(fs, lease.dir) match {
        case Some((holder, _)) if holder == holderId => ()
        case other => throw new IllegalStateException(
          s"maintenance lease at ${lease.dir} is no longer self-held " +
            s"(found $other): this op outlived its TTL and another " +
            "writer took over — aborting before the swap")
      }

  /** Release iff still self-held (a takeover's lease is not ours to
    * delete; the unguarded first-open lease has nothing to release).
    */
  def release(fs: FileSystem, lease: Lease): Unit =
    if (lease.held && fs.exists(new Path(lease.dir)) &&
        readLease(fs, lease.dir).exists(_._1 == holderId))
      fs.delete(leasePath(lease.dir), false)
}
