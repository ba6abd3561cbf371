package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Output checks, written independently of the program: each recomputes
  * the expected answer from the generator's inputs with plain Scala and
  * returns the problems it found (empty = correct). The self-test feeds
  * every check a corrupted result and requires a non-empty answer.
  */
object Checks {

  val Tol = 1.5e-4

  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  // ---- embedding and distance, restated from their definitions ----------

  /** `DeterministicEmbedder(dim, 42)` restated: h = xxhash64(text, 42),
    * component j = pmod(xxhash64(h, j), 2000001) - 1000000, scaled by
    * 1e-6 and narrowed to float. Spark's multi-column xxhash64 folds
    * each column's hash into the next column's seed, starting at 42.
    */
  def embed(text: String, dim: Int, seed: Long = 42L): Array[Float] = {
    val u = UTF8String.fromString(text)
    val t = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
    val h = XXH64.hashLong(seed, t)
    Array.tabulate(dim) { j =>
      val x = XXH64.hashLong(j.toLong, XXH64.hashLong(h, 42L))
      val m = ((x % 2000001L) + 2000001L) % 2000001L
      ((m - 1000000L).toDouble / 1000000.0).toFloat
    }
  }

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }

  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  def nearestCentroid(v: Array[Float], cents: Array[Array[Double]]): Int = {
    var best = -1; var bestD = Double.MaxValue
    cents.indices.foreach { c =>
      var s = 0.0; var i = 0
      while (i < v.length) { val d = v(i) - cents(c)(i); s += d * d; i += 1 }
      if (s < bestD) { bestD = s; best = c }
    }
    best
  }

  // ---- ingest_build ------------------------------------------------------

  /** One ingested document as read back from the chunk table. */
  final case class IngestedDoc(fileName: String, fileIds: Set[String],
                               chunks: Long, minDim: Int, maxDim: Int)

  /** Per document: chunk count equals `expectedChunks`, one file_id equal
    * to sha256(file_name), every embedding `dim` wide. Returns the names
    * of documents that fail, plus expected documents that are missing.
    */
  def ingestDocs(got: Seq[IngestedDoc], expectedChunks: Map[String, Int],
                 dim: Int): Seq[String] = {
    val byName = got.map(d => d.fileName -> d).toMap
    expectedChunks.toSeq.sortBy(_._1).flatMap { case (name, n) =>
      byName.get(name) match {
        case None => Some(s"$name: missing")
        case Some(d) =>
          val errs = Seq(
            if (d.chunks != n) Some(s"chunks ${d.chunks} != $n") else None,
            if (d.fileIds != Set(sha256Hex(name))) Some("file_id != sha256(name)") else None,
            if (d.minDim != dim || d.maxDim != dim) Some(s"embedding dims ${d.minDim}..${d.maxDim}") else None
          ).flatten
          if (errs.isEmpty) None else Some(s"$name: ${errs.mkString(", ")}")
      }
    } ++ (byName.keySet -- expectedChunks.keySet).toSeq.sorted.map(n => s"$n: unexpected")
  }

  /** Sampled IVF rows carry their nearest centroid (lowest index on ties). */
  def ivfAssignment(rows: Seq[(Array[Float], Int)],
                    cents: Array[Array[Double]]): Seq[String] =
    rows.zipWithIndex.flatMap { case ((v, c), i) =>
      val want = nearestCentroid(v, cents)
      if (want != c) Some(s"sample $i: cluster $c, nearest is $want") else None
    }

  // ---- search_closed -----------------------------------------------------

  final case class Hit(fileId: String, fileName: String, decision: String, score: Double)
  final case class Reply(results: Seq[Hit], winPct: Double, winCount: Long,
                         totalValid: Long, invalid: Long)

  /** Brute-force top-k over one level: best (score, chunk_id) per file,
    * then ascending (score, file_id). Rows: (chunk_id, file_id,
    * file_name, decision, embedding).
    */
  def bruteTopK(rows: Seq[(Long, String, String, String, Array[Float])],
                q: Array[Float], k: Int): Seq[Hit] =
    rows.map { case (cid, fid, fname, dec, e) => (round4(l2(e, q)), cid, fid, fname, dec) }
      .groupBy(_._3).values
      .map(_.minBy(t => (t._1, t._2)))
      .toSeq.sortBy(t => (t._1, t._3)).take(k)
      .map(t => Hit(t._3, t._4, t._5, t._1))

  /** The reply's files, order and scores match brute force within
    * rounding (a swap is allowed only between scores that tie within
    * rounding), each returned file's score is its own best chunk, and
    * the win statistics recompute from the returned decisions.
    */
  def searchReply(got: Reply, want: Seq[Hit], bestByFile: Map[String, Double]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (got.results.size != want.size)
      errs += s"result_count ${got.results.size} != ${want.size}"
    got.results.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      if (math.abs(g.score - w.score) > Tol) errs += s"rank $i score ${g.score} != ${w.score}"
      bestByFile.get(g.fileId) match {
        case None => errs += s"rank $i file ${g.fileId} not at the target level"
        case Some(b) if math.abs(b - g.score) > Tol =>
          errs += s"rank $i file ${g.fileId} score ${g.score} != its best $b"
        case _ =>
      }
    }
    val tieAtCut = want.lastOption.exists(last => bestByFile.values.count(s =>
      math.abs(s - last.score) <= Tol) > want.count(h => math.abs(h.score - last.score) <= Tol))
    if (!tieAtCut && got.results.map(_.fileId).toSet != want.map(_.fileId).toSet)
      errs += "returned files differ from brute force"
    val won = got.results.count(_.decision == Gen.Won)
    val valid = got.results.count(h => h.decision == Gen.Won || h.decision == Gen.Lost)
    val pct = if (valid > 0) math.rint(won * 100.0 / valid * 100.0) / 100.0 else 0.0
    if (got.winCount != won || got.totalValid != valid ||
        got.invalid != got.results.size - valid || math.abs(got.winPct - pct) > 1e-9)
      errs += s"win stats ${(got.winCount, got.totalValid, got.invalid, got.winPct)} != ${(won, valid, got.results.size - valid, pct)}"
    errs.result()
  }

  def recallAtK(got: Seq[Hit], want: Seq[Hit]): Double =
    if (want.isEmpty) 1.0
    else got.map(_.fileId).toSet.intersect(want.map(_.fileId).toSet).size.toDouble / want.size

  // ---- dedup and streaming passes of the traced ingest run ---------------

  /** Word 3-shingle set, as the program defines it: whitespace tokens,
    * windows joined by one space, the whole run for short texts.
    */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = text.trim.split("\\s+")
    if (toks.length < n) Set(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  /** Exact Jaccard, floored at 4dp like the program's contract. */
  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    val union = a.size + b.size - inter
    math.floor(inter.toDouble / math.max(union, 1) * 10000.0) / 10000.0
  }

  /** Every reported pair clears the threshold by exact recomputation. */
  def pairs(got: Seq[(Long, Long, Double)], sh: Long => Set[String],
            minJaccard: Double): Seq[String] =
    got.flatMap { case (a, b, j) =>
      val exact = jaccard(sh(a), sh(b))
      if (exact < minJaccard - Tol) Some(s"pair ($a,$b): jaccard $exact < $minJaccard")
      else if (math.abs(exact - j) > 2e-3) Some(s"pair ($a,$b): reported $j, exact $exact")
      else None
    }

  /** Exact-duplicate groups: members share one normalized text, and the
    * keeper is the smallest id. Rows: (keeper_id, n_dups) against the
    * recomputed grouping of `norm`.
    */
  def exactGroups(got: Seq[(Long, Long)], norm: IndexedSeq[String]): Seq[String] = {
    val want = norm.indices.groupBy(norm).values.filter(_.size > 1)
      .map(g => (g.min.toLong, g.size.toLong)).toSet
    val g = got.toSet
    if (g == want) Nil
    else Seq(s"exact groups: ${(g -- want).take(3)} reported, ${(want -- g).take(3)} missing")
  }

  /** Each cluster (connected component of the reported pairs) reports
    * as keeper its best-scored member, ties to the lowest id. Rows:
    * (keeper_id, n_members); clusters of one are not reported.
    */
  def keepers(got: Seq[(Long, Long)], pairs: Seq[(Long, Long)],
              score: Long => Double): Seq[String] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val want = nodes.groupBy(find).values.map { m =>
      (m.maxBy(id => (score(id), -id)), m.size.toLong)
    }.toSet
    val g = got.toSet
    if (g == want) Nil
    else Seq(s"keepers: ${(g -- want).take(3)} reported, ${(want -- g).take(3)} expected")
  }

  /** Keep-first stream verdicts: each `dup_of` is an earlier, kept
    * document whose exact Jaccard with the duplicate clears the
    * threshold. Rows: (id, dup_of or -1, jaccard).
    */
  def streamVerdicts(got: Seq[(Long, Long, Double)], order: Long => Int,
                     sh: Long => Set[String], minJaccard: Double): Seq[String] = {
    val kept = got.filter(_._2 < 0).map(_._1).toSet
    got.filter(_._2 >= 0).flatMap { case (id, of, j) =>
      val exact = jaccard(sh(id), sh(of))
      if (!kept.contains(of)) Some(s"$id: dup_of $of is not a kept document")
      else if (order(of) >= order(id)) Some(s"$id: dup_of $of arrived later")
      else if (exact < minJaccard - Tol) Some(s"$id: jaccard with $of is $exact")
      else if (math.abs(exact - j) > 2e-3) Some(s"$id: reported $j, exact $exact")
      else None
    }
  }
}
