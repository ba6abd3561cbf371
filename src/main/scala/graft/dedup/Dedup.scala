package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines — the core
  * 100 TB extension surface (BASELINE.json north star). Three tiers:
  *
  *  - exact: hash-groupBy on a normalized fingerprint. One shuffle on
  *    the 16-byte hash; the text column never shuffles.
  *  - MinHash + LSH: word-shingles → 64 minhash signature → banded
  *    bucket keys → candidate pairs only *within* buckets → exact
  *    Jaccard verification of candidates. The only all-pairs work
  *    happens inside buckets, which is what keeps near-dup detection
  *    sub-quadratic at corpus scale.
  *  - brute-force n-gram Jaccard: the small-N / oracle baseline that
  *    LSH recall is measured against. Quadratic — never the scale path.
  *
  * Everything is built from codegen'd expression primitives (split /
  * transform / aggregate / xxhash64) — no UDFs.
  */
object Dedup {

  // ---- shingling ------------------------------------------------------

  /** Word n-gram shingles. Texts shorter than n words yield one shingle
    * (their full token run). The token array is bound to a lambda
    * variable first — slicing the `split` expression directly inside
    * the windowing lambda would re-run the tokenizer once per window
    * position (O(tokens²) regex work; see [[graft.text.TextAnalysis.ngramCounts]]).
    */
  def shingles(text: Column, n: Int = 3): Column =
    element_at(
      transform(array(split(trim(text), "\\s+")), tokens =>
        transform(
          sequence(lit(1), greatest(size(tokens) - (n - 1), lit(1))),
          i => array_join(slice(tokens, i, lit(n)), " "))), 1)

  def shinglesSql(t: String, n: Int = 3): String = {
    val tokens = s"string_split_regex(trim($t), '\\s+')"
    s"""list_transform(range(1, greatest(len($tokens) - ${n - 1}, 1) + 1),
       | i -> array_to_string(list_slice($tokens, i, i + ${n - 1}), ' '))""".stripMargin
  }

  /** Word n-gram shingles as a SORTED DISTINCT `array<long>` of 64-bit
    * hashes ([[ShingleKernel.ShingleHash64]]) — the scale form every
    * pipeline below runs on. One codegen loop per row; recompute under
    * self-joins is cheap and shuffle payloads are 8-byte longs. Same
    * set semantics as `array_distinct(shingles(text, n))` up to 64-bit
    * hash collisions.
    */
  def shingleHashes(text: Column, n: Int = 3): Column =
    ShingleKernel.shingleHash64(split(trim(text), "\\s+"), n)

  /** Jaccard of two sorted distinct hash arrays: linear merge intersect
    * ([[ShingleKernel.SortedIntersectCount]]), same floor-truncated 4dp
    * contract as [[jaccard]].
    */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = ShingleKernel.sortedIntersectCount(a, b)
    val union = size(a) + size(b) - inter
    floor(inter / greatest(union, lit(1)).cast("double") * 10000.0) / 10000.0
  }

  /** Jaccard similarity of two shingle arrays (distinct-set semantics),
    * floor-truncated to 4dp (cross-engine deterministic).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(array_distinct(a)) + size(array_distinct(b)) - inter
    floor(inter / greatest(union, lit(1)).cast("double") * 10000.0) / 10000.0
  }

  def jaccardSql(a: String, b: String): String = {
    val inter = s"len(list_intersect(list_distinct($a), list_distinct($b)))"
    val union = s"(len(list_distinct($a)) + len(list_distinct($b)) - $inter)"
    s"(floor(($inter / greatest($union, 1)::DOUBLE) * 10000.0) / 10000.0)"
  }

  // ---- exact dedup ----------------------------------------------------

  /** Exact duplicate groups: normalized-md5 fingerprint → groups with
    * >1 member, with the smallest id as the keeper. The text never
    * shuffles — only (hash, id) pairs do.
    */
  def exactDuplicates(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"), TextAnalysis.fingerprint(text).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_dups"), min(col("id")).as("keeper_id"))
      .where(col("n_dups") > 1)

  // ---- MinHash + LSH --------------------------------------------------

  /** Number of hash permutations and LSH banding (8 bands × 8 rows):
    * catches pairs with Jaccard ≳ (1/8)^(1/8) ≈ 0.77 with high
    * probability; lower-similarity pairs fall off steeply.
    */
  val NumPerms = 64
  val NumBands = 8
  val RowsPerBand: Int = NumPerms / NumBands

  /** Derive the MinHash banding geometry from the OPERATING POINT
    * instead of remembering it: the number of bands (over the fixed
    * [[NumPerms]]-permutation signature) such that a pair at exactly
    * `minJaccard` collides in some band with probability ≥
    * `targetRecall` — i.e. 1 − (1 − J^r)^b ≥ target with b·r =
    * NumPerms. Among qualifying band counts the SMALLEST wins: fewer
    * bands means more rows per band, so random pairs (whose per-band
    * collision probability is J_rand^r) fall off the steepest — the
    * anti-flood direction. Bands must divide NumPerms; b = NumPerms
    * (one row per band, collision prob = the raw minhash agreement)
    * is the always-feasible floor for very low thresholds.
    *
    * At the package defaults (minJaccard 0.9, recall 0.95) this
    * derives the long-standing 8×8 geometry; at the documented 0.77
    * knee it widens to 16 bands, and at 0.5 to 32 — the operating
    * points the scaladoc used to ask callers to remember.
    */
  def geometryFor(minJaccard: Double, targetRecall: Double = 0.95): Int = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0, 1), got $targetRecall")
    val divisors = (1 to NumPerms).filter(NumPerms % _ == 0)
    divisors.find { b =>
      val r = NumPerms / b
      1.0 - math.pow(1.0 - math.pow(minJaccard, r), b) >= targetRecall
    }.getOrElse(NumPerms)
  }

  /** Deterministic affine-permutation parameters (public textbook
    * construction: h_j(x) = (a_j·x + b_j) mod p over a 31-bit universe;
    * base hash is xxhash64 masked to 31 bits so products stay in 62
    * bits — no ANSI overflow).
    */
  private val P = 2147483647L // 2^31 - 1 (Mersenne prime)
  private val perms: Seq[(Long, Long)] =
    (0 until NumPerms).map { j =>
      // fixed odd multipliers / offsets derived from small primes
      val a = (2654435761L * (j + 1)) % P
      val b = (40503L * (j * j + 7) + 97L) % P
      (if (a == 0) 1L else a, b)
    }

  /** Published permutation parameters (SQL-function registration). */
  def permParamsA: Seq[Long] = perms.map(_._1)
  def permParamsB: Seq[Long] = perms.map(_._2)

  /** 64-element minhash signature of a shingle array — delegates to the
    * codegen kernel ([[MinHashKernel]]): one generated loop, primitive
    * state. (A pure-built-in fold exists in git history; higher-order
    * functions evaluate interpreted and dominated the LSH pipeline.)
    */
  def minhashSignature(sh: Column): Column =
    MinHashKernel.signature(sh, perms.map(_._1), perms.map(_._2))

  /** Signature over pre-hashed shingles ([[shingleHashes]]) — identical
    * values to [[minhashSignature]] on the same shingle set.
    */
  def minhashSignatureFromHashes(sh: Column): Column =
    MinHashKernel.signatureFromHashes(sh, perms.map(_._1), perms.map(_._2))

  /** Candidate near-duplicate pairs via LSH banding, verified with
    * exact Jaccard over the shingle sets. Plan shape: narrow signature
    * computation → explode to (band_key, id) → shuffle on band_key →
    * in-bucket self-join → distinct pairs → verify. At scale, bucket
    * sizes bound the join; no all-pairs stage exists.
    */
  def minhashPairs(df: DataFrame, idCol: Column, textCol: Column,
                   n: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    // The signature table is referenced FOUR times downstream (both
    // sides of the band self-join, both verification set fetches), and
    // un-pinned each reference re-runs the shingle+64-perm signature
    // kernel over the whole corpus. Pin it once (r17; guide §8 step 1
    // "fingerprints only — one full read, then reuse"): the pinned
    // frame is (id, shingles, sig) — far smaller than the corpus text,
    // and the materialize-once plan is also the correct one at scale
    // (recomputing signatures 4× reads the corpus 4×).
    val base = df.select(idCol.as("id"), shingleHashes(textCol, n).as("sh"))
      .withColumn("sig", minhashSignatureFromHashes(col("sh")))
      .localCheckpoint()
    val exploded = base
      .select(col("id"),
        explode(ShingleKernel.bandHash64(col("sig"), NumBands)).as("band_key"))
    val cands = exploded.as("l")
      .join(exploded.as("r"), col("l.band_key") === col("r.band_key")
        && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    val sets = base.select(col("id"), col("sh"))
    val withSh = cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
    withSh
      .select(col("id_a"), col("id_b"),
        jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Exact n-gram Jaccard pairs via a shingle inverted index: explode
    * distinct shingles, hash-self-join on the shingle, count shared
    * shingles per pair, derive Jaccard from set sizes. Identical output
    * to the all-pairs formulation for any threshold > 0 (pairs sharing
    * no shingle have Jaccard 0), but the plan is hash joins + partial
    * aggregations — codegen'd, shuffle-partitioned, no nested-loop
    * stage. At corpus scale, cap ultra-frequent shingles (document-
    * frequency cut) to bound bucket fan-out, as with any inverted
    * index.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
                        n: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    val base  = df.select(idCol.as("id"), shingleHashes(textCol, n).as("sh"))
      .localCheckpoint() // pinned: inv self-join + sizes re-read it (see minhashPairs note)
    val sizes = base.select(col("id"), size(col("sh")).as("n_sh"))
    val inv   = base.select(col("id"), explode(col("sh")).as("shingle"))
    val shared = inv.as("l")
      .join(inv.as("r"), col("l.shingle") === col("r.shingle")
        && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    // No broadcast hint on the size table: it is corpus-cardinality
    // (one row per document), so forcing a broadcast would build
    // corpus-sized driver state. The pair side is already shuffled on
    // the ids; AQE picks broadcast only when the sizes actually fit.
    shared
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (floor(col("shared") / greatest(col("n_a") + col("n_b") - col("shared"), lit(1))
          .cast("double") * 10000.0) / 10000.0).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  def ngramJaccardPairsSql(table: String, idExpr: String, textExpr: String,
                           n: Int = 3, minJaccard: Double = 0.5): String = {
    val sh = shinglesSql(textExpr, n)
    s"""SELECT id_a, id_b, jaccard FROM (
       | SELECT l.id AS id_a, r.id AS id_b, ${jaccardSql("l.sh", "r.sh")} AS jaccard
       | FROM (SELECT $idExpr AS id, $sh AS sh FROM $table) l
       | JOIN (SELECT $idExpr AS id, $sh AS sh FROM $table) r ON l.id < r.id)
       |WHERE jaccard >= $minJaccard""".stripMargin
  }

  /** Inverted-index twin of [[ngramJaccardPairsSql]]: identical output
    * for any `minJaccard > 0` (pairs sharing no shingle have Jaccard 0
    * and cannot pass), identical floor-truncated-4dp rounding, but the
    * join fans out per shared shingle instead of materializing all
    * O(n²) pairs — minutes-to-subsecond on the sf0.01 oracle corpus.
    * The ALL-PAIRS form stays the oracle for `dedup_ngram_jaccard`
    * itself (it independently validates this very rewrite); queries
    * that only consume the edge set (clustering, MinHash-verified)
    * use this one.
    */
  def ngramJaccardPairsIndexedSql(table: String, idExpr: String,
                                  textExpr: String, n: Int = 3,
                                  minJaccard: Double = 0.5): String = {
    require(minJaccard > 0.0,
      "indexed form requires a positive threshold (zero-overlap pairs are never generated)")
    val sh = shinglesSql(textExpr, n)
    s"""SELECT id_a, id_b, jaccard FROM (
       | SELECT id_a, id_b,
       |   (floor((c / greatest(na + nb - c, 1)::DOUBLE) * 10000.0) / 10000.0) AS jaccard
       | FROM (
       |   SELECT a.id AS id_a, b.id AS id_b,
       |     any_value(a.n) AS na, any_value(b.n) AS nb, count(*) AS c
       |   FROM (SELECT id, len(sh) AS n, unnest(sh) AS shingle
       |         FROM (SELECT $idExpr AS id, list_distinct($sh) AS sh FROM $table)) a
       |   JOIN (SELECT id, len(sh) AS n, unnest(sh) AS shingle
       |         FROM (SELECT $idExpr AS id, list_distinct($sh) AS sh FROM $table)) b
       |     ON a.shingle = b.shingle AND a.id < b.id
       |   GROUP BY 1, 2))
       |WHERE jaccard >= $minJaccard""".stripMargin
  }

  /** Exact n-gram Jaccard pairs with prefix filtering (the PPJoin
    * family's position-free prefix filter, public literature): order
    * each document's shingles by ascending global document frequency
    * (rarest first) and index only the first
    * `|s| − ⌈t·|s|⌉ + 1` of them. Any pair with Jaccard ≥ t must share
    * at least one prefix shingle (if not, the overlap is at most
    * min(⌈t·|a|⌉−1, ⌈t·|b|⌉−1) < t/(1+t)·(|a|+|b|), contradicting
    * Jaccard ≥ t), so candidate generation over the prefix index loses
    * nothing; full-set verification then computes the exact Jaccard.
    *
    * Versus the full inverted index: the join fans out only on rare
    * shingles, so hot shingles (ubiquitous n-grams in low-entropy text)
    * never explode the candidate set — the property that keeps an exact
    * similarity join feasible at corpus scale.
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: Column, textCol: Column,
                              n: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    val base = df.select(idCol.as("id"), shingleHashes(textCol, n).as("sh"))
      .localCheckpoint() // pinned: inverted index + both verify fetches (see minhashPairs note)
    val inv  = base.select(col("id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("shingle"))
    val freq = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
    // rank each doc's shingles rarest-first; keep the prefix
    val w = Window.partitionBy(col("id")).orderBy(col("df").asc, col("shingle").asc)
    val prefix = inv.join(freq, "shingle")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= col("n_sh") - ceil(col("n_sh") * minJaccard) + 1)
      .select(col("id"), col("shingle"))
    val cands = prefix.as("l")
      .join(prefix.as("r"), col("l.shingle") === col("r.shingle")
        && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    val sets = base
    val verified = cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
    verified.where(col("jaccard") >= minJaccard)
  }

  /** Document-frequency-cut near-dup join — the pragmatic tier for
    * ULTRA-low-entropy corpora (boilerplate/templated text), where even
    * the prefix filter degrades: when every document's rarest shingles
    * are still globally hot, the prefix index's posting lists are O(M)
    * and candidate generation goes quadratic anyway. The df-cut caps
    * the problem absolutely: shingles with document frequency > `maxDf`
    * are excluded from candidate generation (verification still runs on
    * the FULL shingle sets), bounding the join fan-out by Σ df² over
    * surviving shingles ≤ maxDf · Σ df.
    *
    * Recall contract (document it, don't hide it): a qualifying pair is
    * missed only when EVERY shingle the two documents share is hot
    * (df > maxDf) — i.e. the pair is similar purely through boilerplate.
    * For dedup pipelines that is usually the intended semantics:
    * template-only overlap is not duplication. The lossless tiers
    * ([[ngramJaccardPairs]], [[ngramJaccardPairsPrefix]]) remain the
    * default; this one is opt-in for corpora where they cannot scale.
    */
  def ngramJaccardPairsDfCut(df: DataFrame, idCol: Column, textCol: Column,
                             n: Int = 3, minJaccard: Double = 0.5,
                             maxDf: Long = 1000L): DataFrame = {
    val base = df.select(idCol.as("id"), shingleHashes(textCol, n).as("sh"))
      .localCheckpoint() // pinned: candidates + both verify fetches (see minhashPairs note)
    val cands = dfCutCandidates(base, maxDf)
    cands
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Candidate pairs from the df-capped inverted index (exposed for
    * fan-out assertions in tests). The df filter reuses the inverted
    * index's own partitioning: groupBy(shingle) and the df-join key
    * are the same, so AQE plans one exchange for both.
    */
  private[dedup] def dfCutCandidates(base: DataFrame, maxDf: Long): DataFrame = {
    val inv  = base.select(col("id"), explode(col("sh")).as("shingle"))
    val kept = inv.join(
      inv.groupBy("shingle").agg(count(lit(1)).as("df"))
        .where(col("df") <= maxDf),
      "shingle")
    kept.as("l")
      .join(kept.as("r"), col("l.shingle") === col("r.shingle")
        && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
  }

  // ---- SimHash --------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens: bit i of the signature is
    * the sign of Σ_tokens (2·bit_i(hash(token)) − 1). Near-identical
    * texts land within a few bits of Hamming distance. Delegates to the
    * codegen kernel ([[MinHashKernel.simhash64]]); a 32-bit pure-HOF
    * fold lives in git history.
    */
  def simhash(text: Column): Column =
    MinHashKernel.simhash64(split(trim(lower(text)), "\\s+"))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-duplicate pairs by SimHash Hamming distance ≤ `maxHamming`,
    * found WITHOUT an all-pairs scan: split each 64-bit signature into
    * `maxHamming + 1` equal bit-bands and equi-join on (band index,
    * band value). By pigeonhole, two signatures within Hamming distance
    * d differ in at most d bands, so with d + 1 bands at least one band
    * matches EXACTLY — candidate generation is lossless (unlike MinHash
    * banding, which is probabilistic), and the verify step just re-checks
    * the true distance. Plan shape mirrors [[minhashPairs]]: narrow
    * signature computation → explode bands → one hash-join exchange on
    * the band key → verify; bucket sizes bound the join at any scale.
    *
    * 64 must be divisible by `maxHamming + 1` (bands of equal width):
    * supported maxHamming ∈ {0, 1, 3, 7, 15, 31, 63}.
    */
  def simhashPairs(df: DataFrame, idCol: Column, textCol: Column,
                   maxHamming: Int = 3): DataFrame = {
    val nBands = maxHamming + 1
    require(nBands > 0 && 64 % nBands == 0,
      s"64 must divide into maxHamming+1=$nBands equal bands; " +
        "use maxHamming in {0, 1, 3, 7, 15, 31, 63}")
    val width = 64 / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val base = df.select(idCol.as("id"), simhash(textCol).as("sig"))
    val banded = base.select(col("id"), col("sig"),
      explode(array((0 until nBands).map { i =>
        struct(lit(i).as("band"),
          shiftright(col("sig"), i * width).bitwiseAND(lit(mask)).as("bval"))
      }: _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.bval"))
    banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bval") === col("r.bval")
          && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        hamming(col("l.sig"), col("r.sig")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Character-level verify tier: join document text back onto a
    * CANDIDATE edge set (from any of the set-level tiers) and keep
    * pairs whose Levenshtein distance is at most `maxRelPermille`/1000
    * of the longer text. Shingle/MinHash tiers are set-of-ngrams
    * measures — they admit bag-identical reorderings and heavy
    * transposition noise; edit distance is the order-sensitive check.
    * The per-pair threshold `floor(maxRelPermille·max_len/1000)` is
    * passed INTO Spark's banded `levenshtein(l, r, threshold)` — the
    * DP explores only a 2·threshold+1 diagonal band and bails out
    * early with -1, so cost is O(len·threshold) per pair instead of
    * O(len²); at a 5% band that is a 10× kernel saving on large
    * documents, and it still belongs after candidate generation —
    * never on the corpus cross product. A pair over threshold yields
    * -1, which the `edit_dist >= 0` guard drops; kept rows carry the
    * true distance, so the full-DP DuckDB twin (no threshold arg
    * there) keeps and values exactly the same rows. The permille
    * comparison is pure integer arithmetic (no float boundary).
    *
    * UNIT-OF-DISTANCE CONTRACT: Spark's `levenshtein` counts unicode
    * code points; DuckDB's counts BYTES of the UTF-8 encoding (e.g.
    * DuckDB levenshtein('日本','本') = 3 where the code-point answer is
    * 1), and `length`/`max_len` diverge the same way. The engine
    * semantics here are code-point (the Spark side is authoritative);
    * the SQL twin in [[editVerifiedPairsSql]] agrees with it only on
    * ASCII text, so the oracle gate runs on an ASCII fixture by
    * contract. Multibyte corpora are fully supported by this operator
    * — only the DuckDB cross-check is ASCII-scoped. Pinned by the
    * non-ASCII case in DedupSpec.
    *
    * `candidates` must carry (id_a, id_b); extra columns ride along.
    */
  def editVerifiedPairs(df: DataFrame, idCol: Column, textCol: Column,
                        candidates: DataFrame,
                        maxRelPermille: Int): DataFrame = {
    require(maxRelPermille >= 0 && maxRelPermille <= 1000,
      s"maxRelPermille must be 0..1000, got $maxRelPermille")
    val texts = df.select(idCol.as("__eid"), textCol.as("__etext"))
    candidates
      .join(texts.select(col("__eid").as("id_a"), col("__etext").as("__ta")), "id_a")
      .join(texts.select(col("__eid").as("id_b"), col("__etext").as("__tb")), "id_b")
      .withColumn("max_len",
        greatest(length(col("__ta")), length(col("__tb"))).cast("long"))
      // d*1000 <= p*max_len  ⟺  d <= floor(p*max_len/1000) for integer d,
      // so the banded threshold loses nothing vs the full predicate.
      // r17: [[EditKernel.editDist]] replaces the built-in
      // `levenshtein(l, r, threshold)` — same contract (code-point
      // distance, −1 over threshold, null-propagating; parity pinned
      // by EditKernelSpec's randomized cross-check and this gate's
      // full-DP DuckDB oracle), but it trims the pair's common
      // prefix/suffix before the banded DP. Verified near-dup pairs
      // share almost everything by construction, so the DP shrinks to
      // the differing middle: measured 5.4 s → ~0.6 s over the sf0.1
      // fixture's 258k pairs.
      .withColumn("edit_dist",
        EditKernel.editDist(col("__ta"), col("__tb"),
          (lit(maxRelPermille.toLong) * col("max_len") / 1000L)
            .cast("int")).cast("long"))
      .where(col("edit_dist") >= 0L &&
        col("edit_dist") * 1000L <= lit(maxRelPermille.toLong) * col("max_len"))
      .select(candidates.columns.map(col).toIndexedSeq
        :+ col("edit_dist") :+ col("max_len"): _*)
  }

  /** Asymmetric near-superset pairs: containment C(A→B) = |A∩B| / |A|
    * over word-shingle sets, emitted when EITHER direction reaches
    * `minContainment`. The measure that catches a short document
    * embedded in a longer one — quote-plus-commentary, article-plus-
    * boilerplate, excerpt corpora — where symmetric Jaccard is diluted
    * by the larger side's size and never crosses its threshold
    * (Broder's resemblance-vs-containment distinction).
    *
    * Same inverted-index plan as [[ngramJaccardPairs]]: explode
    * distinct shingle hashes, hash self-join on the shingle, count
    * shared per pair, derive both directional ratios from the shared
    * count and the two set sizes — codegen joins + partial aggs, no
    * all-pairs stage. Candidate generation is lossless for any
    * `minContainment > 0` (a qualifying pair shares ≥ 1 shingle).
    * Ratios are floor-truncated to 4dp (cross-engine deterministic).
    */
  def containmentPairs(df: DataFrame, idCol: Column, textCol: Column,
                       n: Int = 3, minContainment: Double = 0.8): DataFrame = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0, 1], got $minContainment")
    def floor4(c: Column): Column = floor(c * 10000.0) / 10000.0
    val base  = df.select(idCol.as("id"), shingleHashes(textCol, n).as("sh"))
      .localCheckpoint() // pinned: inv self-join + both size fetches (see minhashPairs note)
    val sizes = base.select(col("id"), size(col("sh")).as("n_sh"))
    val inv   = base.select(col("id"), explode(col("sh")).as("shingle"))
    inv.as("l")
      .join(inv.as("r"), col("l.shingle") === col("r.shingle")
        && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      // No broadcast hint on the size table: it is corpus-cardinality
      // (one row per document), so forcing a broadcast contradicts the
      // no-corpus-sized-state contract at 100 TB. The pair set is
      // already shuffled on the join key; let AQE pick the strategy.
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        floor4(col("shared") / greatest(col("n_a"), lit(1)).cast("double")).as("cont_a"),
        floor4(col("shared") / greatest(col("n_b"), lit(1)).cast("double")).as("cont_b"))
      .where(greatest(col("cont_a"), col("cont_b")) >= minContainment)
  }

  /** DuckDB twin of [[containmentPairs]] — inverted-index form (the
    * all-pairs form would be O(n²); identical output since zero-overlap
    * pairs cannot qualify at a positive threshold).
    */
  def containmentPairsSql(table: String, idExpr: String, textExpr: String,
                          n: Int = 3, minContainment: Double = 0.8): String = {
    val sh = shinglesSql(textExpr, n)
    s"""SELECT id_a, id_b, cont_a, cont_b FROM (
       | SELECT id_a, id_b,
       |   (floor((c / greatest(na, 1)::DOUBLE) * 10000.0) / 10000.0) AS cont_a,
       |   (floor((c / greatest(nb, 1)::DOUBLE) * 10000.0) / 10000.0) AS cont_b
       | FROM (
       |   SELECT a.id AS id_a, b.id AS id_b,
       |     any_value(a.n) AS na, any_value(b.n) AS nb, count(*) AS c
       |   FROM (SELECT id, len(sh) AS n, unnest(sh) AS shingle
       |         FROM (SELECT $idExpr AS id, list_distinct($sh) AS sh FROM $table)) a
       |   JOIN (SELECT id, len(sh) AS n, unnest(sh) AS shingle
       |         FROM (SELECT $idExpr AS id, list_distinct($sh) AS sh FROM $table)) b
       |     ON a.shingle = b.shingle AND a.id < b.id
       |   GROUP BY 1, 2))
       |WHERE greatest(cont_a, cont_b) >= $minContainment""".stripMargin
  }

  // ---- cross-corpus screen --------------------------------------------

  /** Cross-corpus dedup screen: verdict per NEW-batch document against a
    * REFERENCE corpus — the incremental-crawl shape (today's crawl vs
    * everything already ingested), where a self-join over new ∪ ref would
    * redundantly re-compare the reference against itself every batch.
    *
    * Exact for any `minJaccard > 0` via the same shingle inverted index
    * as [[ngramJaccardPairs]], but joined new-side × ref-side only: work
    * is proportional to |new|'s postings (batch-sized) probing the
    * reference index (shuffle-bucketed by shingle), never |ref|². The
    * same document-frequency cut as any inverted index applies at scale
    * (a stop-shingle both sides share fans out per occurrence); MinHash
    * band keys compose identically for a recall-approximate variant —
    * this route is the exact one so the verdict is oracle-checkable.
    *
    * Output, one row per new document (kept AND dropped — the screen's
    * decision record): `(id, n_ref_dups, first_ref, best_jaccard, kept)`
    * with `first_ref` = lowest matching reference id, `best_jaccard` the
    * strongest match (floor-4dp, engine-portable), both NULL for kept
    * rows. All aggregates are order-insensitive → deterministic under
    * any partitioning.
    */
  def crossCorpusScreen(newDf: DataFrame, refDf: DataFrame,
                        idCol: Column, textCol: Column,
                        n: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    require(minJaccard > 0.0,
      "inverted-index screen requires a positive threshold (zero-overlap pairs are never generated)")
    val newSets = newDf.select(idCol.cast("long").as("id"),
      shingleHashes(textCol, n).as("sh"))
    val refSets = refDf.select(idCol.cast("long").as("rid"),
      shingleHashes(textCol, n).as("rsh"))
    val newInv = newSets.select(col("id"), size(col("sh")).as("n_a"),
      explode(col("sh")).as("shingle"))
    val refInv = refSets.select(col("rid"), size(col("rsh")).as("n_b"),
      explode(col("rsh")).as("shingle"))
    val pairs = newInv.join(refInv, "shingle")
      .groupBy("id", "rid")
      .agg(count(lit(1)).as("shared"),
        first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"))
      .select(col("id"), col("rid"),
        (floor(col("shared") / greatest(col("n_a") + col("n_b") - col("shared"), lit(1))
          .cast("double") * 10000.0) / 10000.0).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
    newSets.select(col("id"))
      .join(pairs, Seq("id"), "left_outer")
      .groupBy("id")
      .agg(count(col("rid")).as("n_ref_dups"),
        min(col("rid")).as("first_ref"),
        max(col("jaccard")).as("best_jaccard"))
      .withColumn("kept", col("n_ref_dups") === 0)
  }

  /** DuckDB twin of [[crossCorpusScreen]]: the ALL-PAIRS new × ref form
    * (cross-product + set Jaccard), independently validating the
    * inverted-index rewrite exactly as [[ngramJaccardPairsSql]] does for
    * the self-join case.
    */
  def crossCorpusScreenSql(table: String, idExpr: String, textExpr: String,
                           newPred: String, n: Int = 3,
                           minJaccard: Double = 0.5): String = {
    val sh = shinglesSql(textExpr, n)
    s"""WITH newd AS (SELECT $idExpr AS id, $sh AS sh FROM $table WHERE $newPred),
       |refd AS (SELECT $idExpr AS rid, $sh AS sh FROM $table WHERE NOT ($newPred)),
       |pairs AS (
       |  SELECT n.id, r.rid, ${jaccardSql("n.sh", "r.sh")} AS jaccard
       |  FROM newd n CROSS JOIN refd r
       |  WHERE ${jaccardSql("n.sh", "r.sh")} >= $minJaccard)
       |SELECT n.id AS id, CAST(count(p.rid) AS BIGINT) AS n_ref_dups,
       |  min(p.rid) AS first_ref, max(p.jaccard) AS best_jaccard,
       |  count(p.rid) = 0 AS kept
       |FROM newd n LEFT JOIN pairs p ON n.id = p.id
       |GROUP BY n.id""".stripMargin
  }

  /** DuckDB twin of [[editVerifiedPairs]] over a candidate subquery
    * producing (id_a, id_b, jaccard).
    */
  def editVerifiedPairsSql(table: String, idExpr: String, textExpr: String,
                           candidatesSql: String,
                           maxRelPermille: Int): String =
    s"""SELECT c.id_a, c.id_b, c.jaccard,
       | CAST(levenshtein(a.__etext, b.__etext) AS BIGINT) AS edit_dist,
       | CAST(greatest(length(a.__etext), length(b.__etext)) AS BIGINT) AS max_len
       |FROM ($candidatesSql) c
       |JOIN (SELECT $idExpr AS __eid, $textExpr AS __etext FROM $table) a
       |  ON c.id_a = a.__eid
       |JOIN (SELECT $idExpr AS __eid, $textExpr AS __etext FROM $table) b
       |  ON c.id_b = b.__eid
       |WHERE CAST(levenshtein(a.__etext, b.__etext) AS BIGINT) * 1000
       |  <= $maxRelPermille * CAST(greatest(length(a.__etext), length(b.__etext)) AS BIGINT)""".stripMargin
}
