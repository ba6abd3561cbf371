package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-substring SPAN extraction — the sequence-level
  * dedup of Lee et al., "Deduplicating Training Data Makes Language
  * Models Better" (ACL 2022): find every maximal run of >= `minTokens`
  * consecutive tokens that occurs more than once in the corpus and
  * report it as a removable `[span_start, span_end]` token interval
  * per document. Doc-level dedup ([[Dedup.ngramJaccardPairs]] and
  * friends) drops whole documents; this extracts the PARTIAL overlaps
  * those keep — boilerplate headers, licence blocks, quoted passages —
  * which is what the paper shows actually pollutes training data. The
  * reference has nothing in this family.
  *
  * Algorithm (the paper uses a suffix array; the distributed
  * equivalent is seed-and-extend): every length-`minTokens` token
  * n-gram is a SEED; a seed that occurs >= 2 times anywhere in the
  * corpus marks its interval `[pos, pos+minTokens-1]` as duplicated;
  * overlapping/adjacent duplicated intervals within a document merge
  * into maximal spans (gaps-and-islands). Any duplicated substring of
  * length >= minTokens is a union of duplicated seeds, so the merged
  * spans are exactly the maximal duplicated regions — the suffix
  * array's answer — without ever materialising a global sort.
  *
  * Scale shape: the occurrence count is a `groupBy(gram).count()`
  * (HashAggregate with a PARTIAL pass — a hot boilerplate gram
  * collapses to one row per map task before the shuffle) equi-joined
  * back onto the seeds, then a per-document window over the few
  * surviving duplicated seeds. A window count here would ship every
  * corpus token to its gram's partition with no partial aggregation —
  * one straggler task per boilerplate gram. Token text never shuffles
  * twice: at 100 TB the gram key is an 8-byte rolling/xxhash64 hash
  * instead of the gram string (collisions only ever ADD a candidate
  * seed, they cannot lose a span) — the string key here keeps the
  * DuckDB oracle exact. All outputs are integer token positions:
  * bit-identical across engines by construction.
  *
  * @return (doc_id, span_start, span_end, span_len) — 1-based
  *         inclusive token positions of each maximal duplicated span.
  */
object Spans {

  /** Ceiling on the screen-positive hash set pushed into the registry
    * scan as an `IN` filter. Past it the step falls back to the
    * unfiltered registry (the exact path; a perf dial, never a
    * correctness one) — a batch with thousands of distinct registry
    * hits is substantially duplicate, and the full scan is then
    * genuinely cheaper than the filter: the literal list is PLAN, so
    * its cost is paid on the driver at analysis/optimization time
    * per batch (this first shipped at 65536 and a boilerplate-heavy
    * sf0.1 batch pushed ~4× the gate's whole r13 runtime into isin()
    * construction — 26 s vs the 6.8 s exact path it "saved").
    * 2048 keeps the push in the regime where it wins (the probe's
    * measured flat dirty batches carry ~200 hits) and caps the
    * driver-held set at 16 KB.
    */
  private[graft] val ScreenPushLimit = 2048

  /** Hash-then-verify candidate pre-filter — the 100 TB tier's first
    * pass: count seed occurrences on `xxhash64(gram)` (8 bytes per
    * seed instead of the n-token string — a ~20× shuffle-byte cut at
    * n = 8, still a partial-aggregated groupBy) and keep only seeds
    * whose HASH is duplicated. The caller's string-keyed logic then
    * runs on this small candidate set, so a 64-bit collision costs one
    * extra candidate, never a wrong answer — the hashed route is
    * EXACTLY the string route on any corpus, with the corpus-wide
    * shuffle carrying longs.
    */
  private def candidateSeeds(seeds: DataFrame, hashGrams: Boolean): DataFrame =
    if (!hashGrams) seeds
    else {
      val h = seeds.withColumn("h", xxhash64(col("gram")))
      val dupH = h.groupBy("h").agg(count(lit(1)).as("occ"))
        .where(col("occ") >= 2).select("h")
      // no checkpoint: the count build side and the join probe side
      // share one exchange via ReusedExchange, and downstream consumers
      // reuse the same subtree — measured faster than an eager
      // localCheckpoint across both the find and apply gates
      h.join(dupH, "h").select("doc_id", "pos", "gram")
    }

  /** Length-`n` token-gram seeds of every document: `(doc_id, pos,
    * gram)`, 1-based positions — THE shared definition for the find
    * ([[duplicatedSpans]]) and apply ([[clipSpans]]) halves, whose
    * exact agreement is the operator family's core invariant. Docs
    * shorter than n have no seeds; the length filter also keeps
    * `sequence()` ascending (sequence(1, 0) would count DOWN in
    * Spark). `hashGrams` applies the [[candidateSeeds]] pre-filter.
    */
  private def seedsOf(toks: DataFrame, n: Int, hashGrams: Boolean): DataFrame =
    candidateSeeds(toks.where(size(col("t")) >= n)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(1), size(col("t")) - (n - 1)),
          i => array_join(slice(col("t"), i, lit(n)), " "))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gram")),
      hashGrams)

  /** Merged interval union of per-seed `[pos, pos+n-1]` extents, one
    * array row per doc: the gaps-and-islands fold (two seed positions
    * whose gap is ≤ n have touching/overlapping extents, so island =
    * exact interval union).
    */
  private def intervalsOf(positions: DataFrame, n: Int): DataFrame = {
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    positions
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wDoc) <= n, 0).otherwise(1))
      .withColumn("island", sum(col("brk")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (n - 1)).as("e"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("iv"))
  }

  /** `hashGrams = true` is the 100 TB tier ([[candidateSeeds]]):
    * bit-identical results, corpus-wide shuffle bytes cut ~20×.
    */
  def duplicatedSpans(df: DataFrame, idCol: Column, textCol: Column,
                      minTokens: Int, hashGrams: Boolean = false): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val n = minTokens
    val toks = df.select(idCol.cast("long").as("doc_id"),
      split(trim(textCol), "\\s+").as("t"))
    val seeds = seedsOf(toks, n, hashGrams)
    val dupGrams = seeds.groupBy("gram")
      .agg(count(lit(1)).as("occ")).where(col("occ") >= 2).select("gram")
    val dup = seeds.join(dupGrams, "gram").select("doc_id", "pos")
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val islands = dup
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wDoc) <= n, 0).otherwise(1))
      .withColumn("island", sum(col("brk")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (n - 1)).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** Span REMOVAL — the apply half of Lee et al.: excise every
    * duplicated run from the corpus, KEEPING ITS FIRST OCCURRENCE
    * (global (doc_id, pos) order), and re-join the surviving tokens.
    * [[duplicatedSpans]] finds the intervals; this produces the
    * deduplicated training text.
    *
    * Keep-first runs at SEED granularity: each duplicated gram elects
    * one winner occurrence (min (doc_id, pos) — a combinable
    * min-of-struct, no window) and every other occurrence of that gram
    * marks its interval for removal; per-document intervals merge
    * exactly as in [[duplicatedSpans]]. Winner seeds' own intervals
    * are PROTECTED from removal: when duplicated regions interleave, a
    * loser interval of one gram can overlap another gram's winning
    * first occurrence in the same document, and excising it blindly
    * would delete that region from EVERY document in the corpus. The
    * guarantee is therefore: every duplicated gram's first occurrence
    * survives; loser positions are excised except where a winning seed
    * covers them.
    *
    * Scale shape: the same single gram shuffle as [[duplicatedSpans]]
    * (groupBy count + min-struct winner, both partial-aggregated),
    * per-doc windows over the few loser/winner seeds, then the clip
    * itself is one equi-join of the corpus against the SMALL per-doc
    * interval lists (broadcastable — only docs containing duplicates
    * appear) and a codegen `filter` over the token array — corpus text
    * never shuffles.
    *
    * @return (doc_id, clean_text, n_removed) for EVERY input document.
    *         Documents with nothing to remove pass through VERBATIM
    *         (original string, original whitespace, n_removed = 0);
    *         clipped documents are re-joined with single spaces (their
    *         whitespace is necessarily rebuilt from tokens).
    */
  def clipSpans(df: DataFrame, idCol: Column, textCol: Column,
                minTokens: Int, hashGrams: Boolean = false): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val n = minTokens
    val toks = df.select(idCol.cast("long").as("doc_id"),
      textCol.cast("string").as("orig"),
      split(trim(textCol), "\\s+").as("t"))
    // hashGrams pre-filters candidates on 8-byte keys (hash-then-
    // verify): REMOVAL must never act on a hash collision, and here it
    // cannot — the winner election below still groups by the string
    val seeds = seedsOf(toks, n, hashGrams)
    // duplicated grams elect one winner occurrence apiece; min of a
    // (doc_id, pos) struct is lexicographic = global first occurrence
    val winners = seeds.groupBy("gram")
      .agg(count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("pos"))).as("w"))
      .where(col("occ") >= 2)
      .select(col("gram"), col("w.doc_id").as("wdoc"), col("w.pos").as("wpos"))
      // no checkpoint: the two consumers (loser join, winner intervals)
      // share the election's exchange via ReusedExchange — measured
      // faster than an eager localCheckpoint, which breaks that reuse
    val losers = seeds.join(winners, "gram")
      .where(!(col("doc_id") === col("wdoc") && col("pos") === col("wpos")))
      .select(col("doc_id"), col("pos"))
    val lossIv = intervalsOf(losers, n)
    val winIv = intervalsOf(winners
        .select(col("wdoc").as("doc_id"), col("wpos").as("pos")), n)
      .withColumnRenamed("iv", "wiv")
    applyIntervals(toks, lossIv, Some(winIv))
  }

  /** Prefix-causal batch step of the STREAMING self-dedup clip
    * ([[graft.streaming.StreamingSelfDedup]]): clip one arriving
    * micro-batch (doc_id-ordered feed) against the gram REGISTRY of
    * everything already streamed, elect winners among registry-fresh
    * grams within the batch, and return (clipped batch, new registry
    * rows). Semantics — the boundary-independent streaming form of
    * [[clipSpans]]:
    *   - losers: every occurrence that is not its gram's stream-order
    *     first — IDENTICAL to the batch operator's loser set;
    *   - winner protection: only winners whose second occurrence lies
    *     in the SAME document (intra-doc duplication). Batch
    *     [[clipSpans]] also protects winners whose duplicate arrives
    *     in a LATER document — a stream cannot know the future, so its
    *     protection is limited to what is causally visible at emission
    *     time. This is the one documented divergence, and it is
    *     deterministic and batch-boundary-INDEPENDENT (docs arrive
    *     whole, so intra-doc evidence is always complete when a doc is
    *     emitted) — which is what lets the whole route sit under the
    *     exact full-corpus [[clipSpansPrefixSql]] oracle.
    * Registry rows are (h = xxhash64(gram), gram); the probe matches
    * on the 8-byte hash and string-verifies in-row, so a collision can
    * never clip. At 100 TB the registry lives hash-bucketed so the
    * per-batch probe shuffles only batch seeds; a replayed batch may
    * re-append registry rows — duplicates are harmless to output
    * (interval union is idempotent) and fold away on compaction.
    *
    * `registryScreen`: an optional DRIVER-SIDE membership screen over
    * registry gram hashes (no false negatives — a Bloom filter over
    * every `h` ever appended; it is probed on the driver and never
    * serialized to executors). When NO batch seed passes the screen,
    * the batch provably has zero registry hits and both registry joins
    * collapse to an empty relation — the registry is not even SCANNED,
    * which is what keeps per-batch cost independent of stream lifetime
    * on clean batches. When SOME seeds pass, only their hash set —
    * bounded by true hits + fpp × batch seeds, never by registry size
    * — is pushed into the registry scan of both joins as `h IN (…)`:
    * bucket pruning and the h-sorted files' parquet page stats then
    * skip everything the batch does not touch, so a dirty batch pays
    * ∝ its hits. A false positive merely admits one extra hash to the
    * pushed set; the screen can never change the answer.
    *
    * @return (clipped batch, new registry rows, release) — `release`
    *         unpersists the step's two pinned localCheckpoints; call
    *         it after BOTH output actions (emit + registry append)
    *         complete, or a long-running stream accretes checkpoint
    *         blocks until their RDDs happen to be GC'd.
    */
  def clipSpansPrefixStep(df: DataFrame, idCol: Column, textCol: Column,
                          registry: DataFrame, minTokens: Int,
                          registryScreen: Option[Long => Boolean] = None):
      (DataFrame, DataFrame, () => Unit) =
    clipSpansPrefixStepScreened(df, idCol, textCol, registry, minTokens,
      registryScreen.map(SeedScreen.fromDriverProbe))

  /** [[clipSpansPrefixStep]] under a general [[SeedScreen]] — the form
    * [[graft.streaming.BucketScreen]]'s two-tier (executor bucket
    * blooms + driver tail bloom) screen plugs into.
    */
  def clipSpansPrefixStepScreened(
      df: DataFrame, idCol: Column, textCol: Column,
      registry: DataFrame, minTokens: Int,
      registryScreen: Option[SeedScreen]):
      (DataFrame, DataFrame, () => Unit) = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val n = minTokens
    val toks = df.select(idCol.cast("long").as("doc_id"),
      textCol.cast("string").as("orig"),
      split(trim(textCol), "\\s+").as("t"))
    // batch-sized and consumed by four branches (registry probe, fresh
    // election, losers, new-gram append) — pin it once
    val seeds = seedsOf(toks, n, hashGrams = false)
      .withColumn("h", xxhash64(col("gram"))).localCheckpoint()
    // screen fast path: probe the pinned batch seeds' 8-byte hashes
    // through the screen (no false negatives) and keep the POSITIVE
    // set — bounded by true hits + fpp × batch, never by registry
    // size. A clean batch (empty set) swaps the registry for limit(0)
    // — OptimizeLimitZero folds both joins to an empty relation, so
    // the registry is not even scanned. A DIRTY batch pushes
    // `h IN (positives)` into the registry scan of BOTH joins: the
    // batch pays ∝ its hits (bucket pruning + the h-sorted files'
    // page stats skip untouched data), not ∝ stream lifetime — the
    // all-or-nothing skip re-exposed the full registry scan on a
    // single hit (r13's measured 2.6/3.5/8.6s dirty slope). Shipping a
    // registry-sized filter to executors would re-create O(registry)
    // per batch; the positive SET ships instead, and only when small
    // (a batch where most seeds screen positive is mostly duplicate —
    // the full scan it falls back to is then genuinely needed).
    val reg = registryScreen match {
      case Some(screen) =>
        val positives = screen.positives(seeds.select(col("h")))
        if (positives.isEmpty) registry.limit(0)
        else if (positives.length > ScreenPushLimit) registry
        else registry.where(col("h").isin(positives.toIndexedSeq: _*))
      case None => registry
    }
    val regHits = seeds
      .join(reg.select(col("h"), col("gram").as("rgram")), "h")
      .where(col("gram") === col("rgram"))
      .select("doc_id", "pos")
    // ALSO pinned: the caller runs two actions (emit + registry
    // append), and without this the REGISTRY — the one input that
    // grows for the life of the stream — would be scanned and
    // anti-joined twice per batch
    val fresh = seeds.join(reg, Seq("h", "gram"), "left_anti")
      .localCheckpoint()
    val winners = fresh.groupBy("gram")
      .agg(count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("pos"))).as("w"))
      .where(col("occ") >= 2)
      .select(col("gram"), col("w.doc_id").as("wdoc"), col("w.pos").as("wpos"))
    val nonFirst = fresh.join(winners, "gram")
      .where(!(col("doc_id") === col("wdoc") && col("pos") === col("wpos")))
    val losers = nonFirst.select("doc_id", "pos")
    // causally-visible protection: the winner's second occurrence sits
    // in the winner's own document
    val protWin = winners.join(
        nonFirst.groupBy("gram")
          .agg(min(struct(col("doc_id"), col("pos"))).as("s")), "gram")
      .where(col("s.doc_id") === col("wdoc"))
      .select(col("wdoc").as("doc_id"), col("wpos").as("pos"))
    val lossIv = intervalsOf(regHits.unionByName(losers), n)
    val winIv = intervalsOf(protWin, n).withColumnRenamed("iv", "wiv")
    (applyIntervals(toks, lossIv, Some(winIv)),
      fresh.select("h", "gram").distinct(),
      () => Seq(seeds, fresh).foreach(
        org.apache.spark.sql.GraftColumnBridge.unpersistCheckpoint))
  }

  /** DuckDB twin of the [[clipSpansPrefixStep]] STREAM over a full
    * corpus fed in doc_id order: identical to [[clipSpansSql]] except
    * the protected-winner set, which is restricted to winners whose
    * rn=2 occurrence lies in the winner's own document.
    */
  def clipSpansPrefixSql(table: String, idExpr: String, textExpr: String,
                         minTokens: Int): String = {
    val n = minTokens
    s"""WITH toks AS (
       |  SELECT CAST($idExpr AS BIGINT) AS doc_id, $textExpr AS orig,
       |    string_split_regex(trim($textExpr), '\\s+') AS t FROM $table),
       |seeds AS (
       |  SELECT doc_id, i AS pos,
       |    array_to_string(list_slice(t, i, i + ${n - 1}), ' ') AS gram
       |  FROM (SELECT doc_id, t,
       |          unnest(range(1, greatest(len(t) - ${n - 1}, 0) + 1)) AS i
       |        FROM toks)),
       |ranked AS (
       |  SELECT gram, doc_id, pos,
       |    count(*) OVER (PARTITION BY gram) AS occ,
       |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
       |  FROM seeds),
       |win AS (
       |  SELECT gram, doc_id AS wdoc, pos AS wpos FROM ranked
       |  WHERE occ >= 2 AND rn = 1),
       |sec AS (SELECT gram, doc_id AS sdoc FROM ranked WHERE rn = 2),
       |losers AS (
       |  SELECT s.doc_id, s.pos FROM seeds s JOIN win w ON s.gram = w.gram
       |  WHERE NOT (s.doc_id = w.wdoc AND s.pos = w.wpos)),
       |iv AS (${islandFoldSql("SELECT doc_id, pos FROM losers", n)}),
       |wiv AS (${islandFoldSql(
      "SELECT w.wdoc AS doc_id, w.wpos AS pos FROM win w " +
        "JOIN sec s ON w.gram = s.gram WHERE s.sdoc = w.wdoc", n)}),
       |${clipTailSql(protect = true)}""".stripMargin
  }

  /** Shared clip tail of the apply-half operators: excise `lossIv`
    * positions (except those covered by the optional `protectIv`),
    * re-join the survivors, and pass documents with nothing to remove
    * through VERBATIM — (doc_id, clean_text, n_removed) for every
    * input doc. Factored once because the find/apply/decontam variants
    * must never diverge on exactly this logic.
    */
  private def applyIntervals(toks: DataFrame, lossIv: DataFrame,
                             protectIv: Option[DataFrame]): DataFrame = {
    val joined = protectIv.foldLeft(toks.join(lossIv, Seq("doc_id"), "left"))(
      (df, p) => df.join(p, Seq("doc_id"), "left"))
    def inIv(ivCol: String, posCol: Column): Column =
      coalesce(exists(col(ivCol), r =>
        posCol >= r.getField("s") && posCol <= r.getField("e")), lit(false))
    // the verbatim branch keys on NOTHING ACTUALLY REMOVED, not on the
    // presence of intervals: winner protection can cover a doc's loser
    // intervals entirely (winner seeds flanking a loser seed), and that
    // doc must keep its original whitespace, not a space-rejoined copy
    // (ADVICE r11). iv-null docs keep every token, so the one predicate
    // covers both cases.
    joined
      .withColumn("kept", filter(col("t"), (tok, i) =>
        !inIv("iv", i + 1) ||
          (if (protectIv.isEmpty) lit(false) else inIv("wiv", i + 1))))
      .select(col("doc_id"),
        when(size(col("t")) === size(col("kept")), col("orig"))
          .otherwise(array_join(col("kept"), " ")).as("clean_text"),
        (size(col("t")) - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** Cross-corpus decontamination CLIP — the span-level form of the
    * decontaminate family: excise from every TRAINING document each
    * maximal run covered by an n-gram that appears anywhere in the
    * BENCHMARK corpus. Doc-level screens
    * ([[graft.text.TextAnalysis]]'s decontaminate routes) drop whole
    * documents on overlap; this keeps the document and removes only
    * the contaminated intervals — the surgical variant for long
    * documents that merely QUOTE an eval item. No winner election:
    * benchmark text must not survive in training data at all.
    *
    * Scale shape: benchmark/eval suites are broadcast-sized by nature,
    * and the gram table is explicitly `broadcast()` — the training
    * corpus NEVER shuffles here. `hashGrams = true` broadcasts
    * `(xxhash64, gram)` pairs and matches on the 8-byte hash first
    * with an in-row string verify (removal must never act on a hash
    * collision) — the cheaper probe when gram strings are long. A
    * benchmark beyond broadcast rides [[graft.streaming.StreamingDecontam
    * .clipStream]]'s bloom-screen + exact-verify composition instead.
    * The clip tail is [[clipSpans]]'s shared [[applyIntervals]]:
    * untouched documents pass through VERBATIM.
    */
  def clipAgainst(train: DataFrame, idCol: Column, textCol: Column,
                  bench: DataFrame, benchTextCol: Column,
                  minTokens: Int, hashGrams: Boolean = false): DataFrame =
    clipAgainstGrams(train, idCol, textCol,
      benchGramsOf(bench, benchTextCol, minTokens), minTokens, hashGrams)

  /** The benchmark's distinct n-gram table — compute ONCE per suite
    * version (it is immutable input to every [[clipAgainstGrams]] /
    * streaming micro-batch that follows).
    */
  def benchGramsOf(bench: DataFrame, benchTextCol: Column,
                   minTokens: Int): DataFrame =
    seedsOf(bench.select(lit(0L).as("doc_id"),
      split(trim(benchTextCol), "\\s+").as("t")), minTokens,
      hashGrams = false)
      .select("gram").distinct()

  /** [[clipAgainst]] over a precomputed [[benchGramsOf]] table. */
  def clipAgainstGrams(train: DataFrame, idCol: Column, textCol: Column,
                       benchGrams: DataFrame, minTokens: Int,
                       hashGrams: Boolean = false): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val n = minTokens
    val toks = train.select(idCol.cast("long").as("doc_id"),
      textCol.cast("string").as("orig"),
      split(trim(textCol), "\\s+").as("t"))
    val seeds = seedsOf(toks, n, hashGrams = false)
    val contaminated =
      if (hashGrams)
        seeds.withColumn("h", xxhash64(col("gram")))
          .join(broadcast(benchGrams.select(col("gram").as("bgram"),
            xxhash64(col("gram")).as("h"))), "h")
          .where(col("gram") === col("bgram"))
          .select("doc_id", "pos")
      else
        seeds.join(broadcast(benchGrams), "gram").select("doc_id", "pos")
    applyIntervals(toks, intervalsOf(contaminated, n), None)
  }

  /** Island fold as a DuckDB subquery: merged `[pos, pos+n-1]`
    * interval union per doc over `src`'s (doc_id, pos) rows.
    */
  private def islandFoldSql(src: String, n: Int): String =
    s"""SELECT doc_id, min(pos) AS s, max(pos) + ${n - 1} AS e FROM (
       |  SELECT doc_id, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM (
       |    SELECT doc_id, pos,
       |      CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |        <= $n THEN 0 ELSE 1 END AS brk
       |    FROM ($src)))
       |GROUP BY doc_id, island""".stripMargin

  /** Shared SQL clip tail (mirrors [[applyIntervals]]): expects CTEs
    * `toks(doc_id, orig, t)` and `iv(doc_id, s, e)` — plus
    * `wiv(doc_id, s, e)` when `protect` — already defined upstream.
    */
  private def clipTailSql(protect: Boolean): String = {
    val protectClause =
      if (protect)
        """
          |    OR EXISTS (SELECT 1 FROM wiv
          |      WHERE wiv.doc_id = p.doc_id AND p.i BETWEEN wiv.s AND wiv.e)""".stripMargin
      else ""
    s"""posns AS (
       |  SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, t FROM toks),
       |kept AS (
       |  SELECT p.doc_id, p.i, p.t[p.i] AS tok FROM posns p
       |  WHERE NOT EXISTS (SELECT 1 FROM iv
       |      WHERE iv.doc_id = p.doc_id AND p.i BETWEEN iv.s AND iv.e)$protectClause)
       |SELECT toks.doc_id,
       |  CASE WHEN len(toks.t) = coalesce(k.n_kept, 0) THEN toks.orig
       |       ELSE coalesce(k.clean_text, '') END AS clean_text,
       |  CAST(len(toks.t) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
       |FROM toks
       |LEFT JOIN (
       |  SELECT doc_id AS kdoc, string_agg(tok, ' ' ORDER BY i) AS clean_text,
       |    count(*) AS n_kept
       |  FROM kept GROUP BY doc_id) k ON toks.doc_id = k.kdoc""".stripMargin
  }

  /** DuckDB twin of [[clipAgainst]]. `trainWhere`/`benchWhere` carve
    * the two corpora out of (possibly the same) tables.
    */
  def clipAgainstSql(trainTable: String, idExpr: String, textExpr: String,
                     trainWhere: String, benchTable: String,
                     benchTextExpr: String, benchWhere: String,
                     minTokens: Int): String = {
    val n = minTokens
    s"""WITH toks AS (
       |  SELECT CAST($idExpr AS BIGINT) AS doc_id, $textExpr AS orig,
       |    string_split_regex(trim($textExpr), '\\s+') AS t
       |  FROM $trainTable WHERE $trainWhere),
       |seeds AS (
       |  SELECT doc_id, i AS pos,
       |    array_to_string(list_slice(t, i, i + ${n - 1}), ' ') AS gram
       |  FROM (SELECT doc_id, t,
       |          unnest(range(1, greatest(len(t) - ${n - 1}, 0) + 1)) AS i
       |        FROM toks)),
       |bgrams AS (
       |  SELECT DISTINCT array_to_string(list_slice(t, i, i + ${n - 1}), ' ')
       |    AS gram
       |  FROM (SELECT t, unnest(range(1, greatest(len(t) - ${n - 1}, 0) + 1)) AS i
       |        FROM (SELECT string_split_regex(trim($benchTextExpr), '\\s+') AS t
       |              FROM $benchTable WHERE $benchWhere))),
       |contaminated AS (
       |  SELECT s.doc_id, s.pos FROM seeds s JOIN bgrams b ON s.gram = b.gram),
       |iv AS (${islandFoldSql("SELECT doc_id, pos FROM contaminated", n)}),
       |${clipTailSql(protect = false)}""".stripMargin
  }

  /** DuckDB twin of [[clipSpans]]: identical seed grams, row_number
    * winner election (same (doc_id, pos) order as the struct min),
    * identical island folds for loser AND winner intervals, the same
    * winner-protected position clip, and the same verbatim
    * pass-through for documents with nothing to remove.
    */
  def clipSpansSql(table: String, idExpr: String, textExpr: String,
                   minTokens: Int): String = {
    val n = minTokens
    s"""WITH toks AS (
       |  SELECT CAST($idExpr AS BIGINT) AS doc_id, $textExpr AS orig,
       |    string_split_regex(trim($textExpr), '\\s+') AS t FROM $table),
       |seeds AS (
       |  SELECT doc_id, i AS pos,
       |    array_to_string(list_slice(t, i, i + ${n - 1}), ' ') AS gram
       |  FROM (SELECT doc_id, t,
       |          unnest(range(1, greatest(len(t) - ${n - 1}, 0) + 1)) AS i
       |        FROM toks)),
       |win AS (
       |  SELECT gram, doc_id AS wdoc, pos AS wpos FROM (
       |    SELECT gram, doc_id, pos,
       |      count(*) OVER (PARTITION BY gram) AS occ,
       |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
       |    FROM seeds) WHERE occ >= 2 AND rn = 1),
       |losers AS (
       |  SELECT s.doc_id, s.pos FROM seeds s JOIN win w ON s.gram = w.gram
       |  WHERE NOT (s.doc_id = w.wdoc AND s.pos = w.wpos)),
       |iv AS (${islandFoldSql("SELECT doc_id, pos FROM losers", n)}),
       |wiv AS (${islandFoldSql("SELECT wdoc AS doc_id, wpos AS pos FROM win", n)}),
       |${clipTailSql(protect = true)}""".stripMargin
  }

  /** DuckDB twin of [[duplicatedSpans]]: identical seed grams (the
    * [[Dedup.shinglesSql]] slicing idiom), identical window count /
    * gaps-and-islands fold, integer positions throughout.
    */
  def duplicatedSpansSql(table: String, idExpr: String, textExpr: String,
                         minTokens: Int): String = {
    val n = minTokens
    s"""WITH toks AS (
       |  SELECT CAST($idExpr AS BIGINT) AS doc_id,
       |    string_split_regex(trim($textExpr), '\\s+') AS t FROM $table),
       |seeds AS (
       |  SELECT doc_id, i AS pos,
       |    array_to_string(list_slice(t, i, i + ${n - 1}), ' ') AS gram
       |  FROM (SELECT doc_id, t,
       |          unnest(range(1, greatest(len(t) - ${n - 1}, 0) + 1)) AS i
       |        FROM toks)),
       |dup AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS occ
       |    FROM seeds) WHERE occ >= 2),
       |isl AS (
       |  SELECT doc_id, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM (
       |    SELECT doc_id, pos,
       |      CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |        <= $n THEN 0 ELSE 1 END AS brk
       |    FROM dup))
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(pos) + ${n - 1} AS BIGINT) AS span_end,
       |  CAST(max(pos) + ${n - 1} - min(pos) + 1 AS BIGINT) AS span_len
       |FROM isl GROUP BY doc_id, island""".stripMargin
  }
}
