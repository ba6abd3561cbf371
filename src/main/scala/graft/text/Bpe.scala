package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Materialize

/** Byte-pair-encoding merge training over a document corpus — the
  * tokenizer-construction step of an LLM data pipeline (Sennrich et
  * al. 2016). No reference analog (the reference consumes a hosted
  * model's tokenization); this is the from-scratch vocabulary path.
  *
  * Scale shape — the classic trainer trick, distributed: BPE statistics
  * depend only on the WORD HISTOGRAM, so the single corpus-scale pass
  * is `groupBy(word).count` (vocabulary-sized output, Heaps-law sublinear
  * in corpus bytes). Every merge round then runs over the histogram:
  * pair-count (explode adjacent pairs weighted by word count → partial
  * agg), a 1-row deterministic argmax (max count, then lexicographic
  * (left, right)), and a narrow-map merge apply. Driver state per round
  * is ONE collected row.
  *
  * Representation (identical in both engines, which is what makes the
  * oracle exact): a word's symbol sequence is a single string with each
  * symbol wrapped in U+001F separators — `⟂s₁⟂⟂s₂⟂…` — so applying a
  * merge (a,b) is ONE literal leftmost-non-overlapping
  * `replace(w, "⟂a⟂⟂b⟂", "⟂ab⟂")`, which equals the greedy left-to-right
  * BPE merge because a merged token can never recreate its own left
  * half (`a+b == a` would need empty `b`). Symbols are code units
  * (ASCII-safe contract, same as the levenshtein tier — see
  * `Dedup.editVerifiedPairs`).
  */
object Bpe {

  private val SEP = ""

  /** Lowercased whitespace word histogram — the one corpus-scale pass. */
  private def wordHistogram(docs: DataFrame, textCol: Column): DataFrame =
    docs.select(explode(split(lower(trim(textCol)), "\\s+")).as("word"))
      .where(col("word") =!= "" && !col("word").contains(SEP))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** `⟂c₁⟂⟂c₂⟂…` initial wrap of a word's characters. */
  private def wrapChars(word: Column): Column =
    concat_ws("", transform(
      filter(split(word, ""), c => c =!= ""),
      c => concat(lit(SEP), c, lit(SEP))))

  /** Adjacent symbol pairs of a wrapped word, as (l, r) structs. */
  private def adjacentPairs(w: Column): Column = {
    val toks = split(substring(w, lit(2), length(w) - 2), SEP + SEP)
    val n = greatest(size(toks) - 1, lit(0))
    zip_with(
      slice(toks, lit(1), n),
      slice(toks, lit(2), n),
      (l, r) => struct(l.as("l"), r.as("r")))
  }

  /** Train `steps` BPE merges; returns rows
    * `(step, left, right, merged, pair_count)` — fewer than `steps`
    * rows if the pair space exhausts first. Each round is two
    * histogram-sized jobs (count + argmax); the corpus is never
    * rescanned.
    */
  def trainMerges(docs: DataFrame, textCol: Column, steps: Int,
                  checkpointEvery: Int = 16): DataFrame =
    mergeRounds(
      // histogram-sized; the rounds never re-read the corpus
      Materialize(wordHistogram(docs, textCol)
        .select(wrapChars(col("word")).as("w"), col("cnt"))),
      steps, checkpointEvery)

  /** The merge-round loop shared by the char and byte arms: `steps`
    * rounds of pair-count → deterministic argmax → literal replace
    * over an already-wrapped, pinned `(w, cnt)` histogram, which it
    * releases with every pin of its own before returning.
    */
  private def mergeRounds(words0: DataFrame, steps: Int,
                          checkpointEvery: Int): DataFrame = {
    require(steps > 0, "steps must be positive")
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    val spark = words0.sparkSession
    var words = words0
    val merges = scala.collection.mutable.ArrayBuffer.empty[Row]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val best = words
        .select(col("cnt"), explode(adjacentPairs(col("w"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("total"))
        .orderBy(col("total").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, total) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += Row(step, l, r, l + r, total)
        words = words.withColumn("w",
          replace(col("w"), lit(SEP + l + SEP + SEP + r + SEP),
            lit(SEP + l + r + SEP)))
        // Real vocabularies need tens of thousands of rounds: cut the
        // chained-replace lineage (and re-shrink the Tungsten plan) on a
        // fixed cadence with a reliable checkpoint, so per-round cost
        // stays flat instead of growing with the merge index.
        if (step % checkpointEvery == 0) {
          val ck = Materialize.reliably(words)
          Materialize.release(words)
          words = ck
        }
        step += 1
      }
    }
    Materialize.release(words0, words)
    val schema = StructType(Seq(
      StructField("step", IntegerType, nullable = false),
      StructField("left", StringType, nullable = false),
      StructField("right", StringType, nullable = false),
      StructField("merged", StringType, nullable = false),
      StructField("pair_count", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.toSeq, 1), schema)
  }

  /** Apply side — the corpus-scale half: re-tokenize every document
    * with an already-trained merge list. Each doc is a narrow map (no
    * shuffle): words wrap to symbol strings, the R merges apply as R
    * chained literal replaces, and the output is the BPE token count
    * per document next to its character count — the compression-ratio
    * surface a tokenizer-budget planner reads. `mergesOrdered` is
    * (left, right) in training order, driver-bounded by construction
    * (R ≤ 64).
    */
  def encodeTokenCounts(docs: DataFrame, idCol: Column, textCol: Column,
                        mergesOrdered: Seq[(String, String)]): DataFrame = {
    require(mergesOrdered.size <= 64, "merge list must be driver-bounded (≤ 64)")
    val words = filter(split(lower(trim(textCol)), "\\s+"),
      w => w =!= "" && !w.contains(SEP))
    def tokensOf(w: Column): Column = {
      val enc = mergesOrdered.foldLeft(wrapChars(w)) { case (acc, (l, r)) =>
        replace(acc, lit(SEP + l + SEP + SEP + r + SEP), lit(SEP + l + r + SEP))
      }
      // token count = segments between ⟂⟂ boundaries; outer ⟂s never
      // split, so no stripping is needed for counting
      size(split(enc, SEP + SEP))
    }
    docs.select(idCol.as("id"), words.as("__ws"), length(textCol).as("n_chars"))
      .select(col("id"), col("n_chars"),
        coalesce(aggregate(transform(col("__ws"), w => tokensOf(w).cast("long")),
          lit(0L), (a, x) => a + x), lit(0L)).as("n_bpe_tokens"))
  }

  /** The SCALE form of [[encodeTokenCounts]] — arbitrary merge counts
    * (real vocabularies are ~30k merges; the expression route chains
    * one literal `replace` per merge and stops being codegen-practical
    * past ~64). The ordered merge list ships as one broadcast rank
    * list; each task applies the merges IN TRAINING ORDER, one
    * leftmost-non-overlapping pass each — the exact semantics of the
    * expression route's chained literal replaces, mirrored rather than
    * the classic min-rank tokenizer loop (min-rank diverges from
    * in-order single-pass on vocabularies where a later merge recreates
    * an earlier token string; bit-parity with the declared contract
    * beats the constant-factor win). Per-partition distinct-word
    * memoization makes the cost ∝ distinct words per task, not tokens
    * (Heaps-law sublinear), and the map is narrow — no shuffle, the
    * same 100 TB shape as the expression route.
    *
    * Output and semantics are identical to [[encodeTokenCounts]]
    * (BpeSpec pins route equality and a 256-merge fixture).
    */
  def encodeTokenCountsScalable(docs: DataFrame, idCol: Column,
                                textCol: Column,
                                mergesOrdered: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(mergesOrdered.toArray)
    docs.select(idCol.cast("long").as("id"), textCol.as("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val merges = bc.value
        val cache = new java.util.HashMap[String, Long]()
        def tokensOf(word: String): Long = {
          val hit = cache.get(word)
          if (hit != 0L) hit
          else {
            var syms = word.map(_.toString).toArray
            var m = 0
            while (m < merges.length && syms.length >= 2) {
              val (l, r) = merges(m)
              // one leftmost-non-overlapping pass — replace() semantics
              var i = 0
              var hits = 0
              while (i < syms.length - 1) { // cheap pre-scan
                if (syms(i) == l && syms(i + 1) == r) { hits += 1; i += 2 }
                else i += 1
              }
              if (hits > 0) {
                val out = new Array[String](syms.length - hits)
                var j = 0
                var k = 0
                while (j < syms.length) {
                  if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
                    out(k) = l + r; j += 2
                  } else { out(k) = syms(j); j += 1 }
                  k += 1
                }
                syms = out
              }
              m += 1
            }
            val n = syms.length.toLong
            cache.put(word, n)
            n
          }
        }
        rows.map { case (id, text) =>
          val t = if (text == null) "" else text
          var total = 0L
          // same word stream as the Column route: \s+ split + empty
          // filter (so the trim flavor is immaterial), ROOT lowercase
          // (Spark `lower` is locale-independent), SEP words excluded
          t.toLowerCase(java.util.Locale.ROOT).split("\\s+").foreach { w =>
            if (w.nonEmpty && !w.contains(SEP)) total += tokensOf(w)
          }
          // Spark length() counts code points (as INT), not UTF-16 units
          (id, t.codePointCount(0, t.length), total)
        }
      }
      .toDF("id", "n_chars", "n_bpe_tokens")
  }

  /** DuckDB twin of [[trainMerges]]: the identical rounds as chained
    * materialized CTEs (histogram → per-round argmax + replace).
    */
  def trainMergesSql(table: String, textExpr: String, steps: Int): String = {
    require(steps > 0 && steps <= 64, "steps must be in [1, 64]")
    val out = (1 to steps)
      .map(t => s"""SELECT $t AS step, l AS "left", r AS "right", merged, CAST(total AS BIGINT) AS pair_count FROM b$t""")
      .mkString("\nUNION ALL ")
    s"""WITH ${trainMergesSqlCtes(table, textExpr, steps)}
       |SELECT CAST(step AS INTEGER) AS step, "left", "right", merged, pair_count
       |FROM ($out)""".stripMargin
  }

  /** DuckDB twin of train-then-[[encodeTokenCounts]]: the training CTEs
    * of [[trainMergesSql]], the per-step (pattern, replacement) pairs
    * pivoted into one row (chr(1) stand-ins for exhausted steps — a
    * byte the tokenizer alphabet cannot contain), and the same chained
    * replaces per word. Lambdas cannot hold subqueries, so the pairs
    * come in as columns of a 1-row cross join.
    */
  def encodeTokenCountsSql(table: String, idExpr: String, textExpr: String,
                           steps: Int): String = {
    require(steps > 0 && steps <= 64, "steps must be in [1, 64]")
    val ws = TextAnalysis.WsClassSqlPublic
    val hist = trainMergesSqlCtes(table, textExpr, steps)
    val pairCols = (1 to steps).map { t =>
      s"""coalesce((SELECT chr(31) || l || chr(31) || chr(31) || r || chr(31) FROM b$t), chr(1)) AS p$t,
         |  coalesce((SELECT chr(31) || merged || chr(31) FROM b$t), chr(1)) AS r$t""".stripMargin
    }.mkString(",\n  ")
    val wrap = s"""list_aggregate(list_transform(range(1, len(w) + 1),
                  |      i -> chr(31) || w[CAST(i AS INTEGER)] || chr(31)), 'string_agg', '')""".stripMargin
    val enc = (1 to steps).foldLeft(wrap) { (acc, t) =>
      s"replace($acc, p$t, r$t)"
    }
    s"""WITH $hist,
       |pc AS MATERIALIZED (SELECT $pairCols),
       |wordsper AS (
       |  SELECT $idExpr AS id, CAST(length($textExpr) AS INTEGER) AS n_chars,
       |    list_filter(string_split_regex(lower(trim($textExpr)), '$ws+'),
       |      w -> w <> '' AND NOT contains(w, chr(31))) AS wl
       |  FROM $table)
       |SELECT id, n_chars,
       |  CAST(coalesce(list_sum(list_transform(wl,
       |    w -> len(string_split($enc, chr(31) || chr(31))))), 0) AS BIGINT)
       |    AS n_bpe_tokens
       |FROM wordsper, pc""".stripMargin
  }

  /** The `w0 … b_steps/w_steps` CTE chain shared by the train and
    * encode twins (no leading WITH).
    */
  private def trainMergesSqlCtes(table: String, textExpr: String,
                                 steps: Int): String = {
    val ws = TextAnalysis.WsClassSqlPublic
    val hist =
      s"""w0 AS MATERIALIZED (
         |  SELECT list_aggregate(list_transform(range(1, len(word) + 1),
         |      i -> chr(31) || word[CAST(i AS INTEGER)] || chr(31)),
         |      'string_agg', '') AS w,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT unnest(string_split_regex(lower(trim($textExpr)), '$ws+')) AS word
         |    FROM $table)
         |  WHERE word <> '' AND NOT contains(word, chr(31))
         |  GROUP BY word)""".stripMargin
    s"$hist,\n${mergeRoundCtes(steps)}"
  }

  /** The per-round `b$t`/`w$t` CTE pair shared by the char and byte
    * twins (each round reads only `w{t-1}`, so the alphabet is
    * entirely the histogram CTE's concern).
    */
  private def mergeRoundCtes(steps: Int): String =
    (1 to steps).map { t =>
      s"""b$t AS MATERIALIZED (
         |  SELECT l, r, total, l || r AS merged FROM (
         |    SELECT u[1] AS l, u[2] AS r, SUM(cnt) AS total FROM (
         |      SELECT cnt, unnest(list_zip(toks[1:len(toks) - 1], toks[2:len(toks)])) AS u
         |      FROM (SELECT cnt, string_split(w[2:len(w) - 1], chr(31) || chr(31)) AS toks
         |            FROM w${t - 1}))
         |    GROUP BY 1, 2 ORDER BY total DESC, l, r LIMIT 1)),
         |w$t AS MATERIALIZED (
         |  SELECT CASE WHEN b.l IS NULL THEN w.w
         |    ELSE replace(w.w, chr(31) || b.l || chr(31) || chr(31) || b.r || chr(31),
         |                 chr(31) || b.merged || chr(31)) END AS w, w.cnt
         |  FROM w${t - 1} w LEFT JOIN b$t b ON TRUE)""".stripMargin
    }.mkString(",\n")

  // ------------------------------------------------------------------ //
  // Byte-level arm (GPT-2-style)                                       //
  // ------------------------------------------------------------------ //

  /** GPT-2-style pre-tokenization pattern (Radford et al. 2019),
    * lookahead-free so Java regex (Spark) and RE2 (DuckDB) parse it
    * identically — the original's `\s+(?!\S)` alternative needs
    * negative lookahead, which RE2 rejects, so trailing-space runs
    * fold into the plain whitespace-run alternative. Whitespace is the
    * explicit ASCII class both engines already share for the word arm
    * ([[TextAnalysis.WsClassSql]]); `\p{L}`/`\p{N}` are Unicode in
    * both. Case-SENSITIVE, exactly like the production byte tokenizers
    * this models.
    */
  val BytePretokenPattern: String = {
    val w = " \\t\\n\\x0B\\f\\r" // class body of TextAnalysis.WsClassSql
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^" + w +
      "\\p{L}\\p{N}]+|[" + w + "]+"
  }

  private def bytePretokenPatternSql: String =
    BytePretokenPattern.replace("'", "''")

  /** Pre-token histogram for the byte arm: GPT-2 regex matches, kept
    * case-sensitive, space prefixes retained (they are part of the
    * token, the property that lets byte BPE learn ` the`-style units).
    */
  private def byteHistogram(docs: DataFrame, textCol: Column): DataFrame =
    docs.select(explode(regexp_extract_all(textCol,
        lit(BytePretokenPattern), lit(0))).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** `⟂b₁⟂⟂b₂⟂…` wrap of a pre-token's UTF-8 BYTES, each byte as its
    * two-hex-digit symbol — the byte-alphabet analog of [[wrapChars]]
    * (hex is the engine-portable stand-in for GPT-2's byte↔unicode
    * table: separator-safe, case-stable, and merged tokens are just
    * concatenated hex strings).
    */
  private def wrapBytes(word: Column): Column = {
    val h = hex(encode(word, "UTF-8"))
    concat_ws("", transform(
      sequence(lit(1), (length(h) / lit(2)).cast("int")),
      i => concat(lit(SEP), h.substr(i * 2 - 1, lit(2)), lit(SEP))))
  }

  /** Byte-level BPE merge training: the SAME histogram trick and merge
    * rounds as [[trainMerges]], over GPT-2 pre-tokens and a byte
    * alphabet — `left`/`right`/`merged` are hex byte strings.
    */
  def trainMergesBytes(docs: DataFrame, textCol: Column, steps: Int,
                       checkpointEvery: Int = 16): DataFrame =
    mergeRounds(
      Materialize(byteHistogram(docs, textCol)
        .select(wrapBytes(col("word")).as("w"), col("cnt"))),
      steps, checkpointEvery)

  /** Byte-level encode: per-doc BPE token count against a trained byte
    * merge list, next to the document's UTF-8 byte count — the
    * tokens-per-byte compression surface. Narrow map, same shape as
    * [[encodeTokenCounts]].
    */
  def encodeTokenCountsBytes(docs: DataFrame, idCol: Column, textCol: Column,
                             mergesOrdered: Seq[(String, String)]): DataFrame = {
    require(mergesOrdered.size <= 64, "merge list must be driver-bounded (≤ 64)")
    val words = filter(
      regexp_extract_all(textCol, lit(BytePretokenPattern), lit(0)),
      w => w =!= "")
    def tokensOf(w: Column): Column = {
      val enc = mergesOrdered.foldLeft(wrapBytes(w)) { case (acc, (l, r)) =>
        replace(acc, lit(SEP + l + SEP + SEP + r + SEP), lit(SEP + l + r + SEP))
      }
      size(split(enc, SEP + SEP))
    }
    docs.select(idCol.as("id"), words.as("__ws"),
        coalesce(length(encode(textCol, "UTF-8")), lit(0)).as("n_bytes"))
      .select(col("id"), col("n_bytes"),
        coalesce(aggregate(transform(col("__ws"), w => tokensOf(w).cast("long")),
          lit(0L), (a, x) => a + x), lit(0L)).as("n_bpe_tokens"))
  }

  /** The SCALE form of [[encodeTokenCountsBytes]] — the byte-arm twin
    * of [[encodeTokenCountsScalable]]: arbitrary merge depth via a
    * broadcast rank list applied IN TRAINING ORDER (one
    * leftmost-non-overlapping pass per merge — replace() semantics),
    * GPT-2 regex pre-tokenization compiled once per task, per-partition
    * distinct-pre-token memoization. Same output and semantics as the
    * expression route; gated under the SAME oracle.
    */
  def encodeTokenCountsBytesScalable(docs: DataFrame, idCol: Column,
                                     textCol: Column,
                                     mergesOrdered: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(mergesOrdered.toArray)
    docs.select(idCol.cast("long").as("id"), textCol.as("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val merges = bc.value
        val pat = java.util.regex.Pattern.compile(BytePretokenPattern)
        val cache = new java.util.HashMap[String, Long]()
        def tokensOf(word: String): Long = {
          val hit = cache.get(word)
          if (hit != 0L) hit
          else {
            // uppercase hex pairs — the same symbols Spark's hex() emits
            var syms = word.getBytes("UTF-8").map(b => f"${b & 0xFF}%02X")
            var m = 0
            while (m < merges.length && syms.length >= 2) {
              val (l, r) = merges(m)
              var i = 0
              var hits = 0
              while (i < syms.length - 1) {
                if (syms(i) == l && syms(i + 1) == r) { hits += 1; i += 2 }
                else i += 1
              }
              if (hits > 0) {
                val out = new Array[String](syms.length - hits)
                var j = 0
                var k = 0
                while (j < syms.length) {
                  if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
                    out(k) = l + r; j += 2
                  } else { out(k) = syms(j); j += 1 }
                  k += 1
                }
                syms = out
              }
              m += 1
            }
            val n = syms.length.toLong
            cache.put(word, n)
            n
          }
        }
        rows.map { case (id, text) =>
          val t = if (text == null) "" else text
          var total = 0L
          val matcher = pat.matcher(t)
          while (matcher.find()) {
            val w = matcher.group()
            if (w.nonEmpty) total += tokensOf(w)
          }
          (id, t.getBytes("UTF-8").length, total)
        }
      }
      .toDF("id", "n_bytes", "n_bpe_tokens")
  }

  /** DuckDB twin of [[trainMergesBytes]] — the byte histogram CTE +
    * the shared merge rounds.
    */
  def trainMergesBytesSql(table: String, textExpr: String,
                          steps: Int): String = {
    require(steps > 0 && steps <= 64, "steps must be in [1, 64]")
    val out = (1 to steps)
      .map(t => s"""SELECT $t AS step, l AS "left", r AS "right", merged, CAST(total AS BIGINT) AS pair_count FROM b$t""")
      .mkString("\nUNION ALL ")
    s"""WITH ${trainMergesBytesSqlCtes(table, textExpr, steps)}
       |SELECT CAST(step AS INTEGER) AS step, "left", "right", merged, pair_count
       |FROM ($out)""".stripMargin
  }

  /** DuckDB twin of train-then-[[encodeTokenCountsBytes]]. */
  def encodeTokenCountsBytesSql(table: String, idExpr: String,
                                textExpr: String, steps: Int): String = {
    require(steps > 0 && steps <= 64, "steps must be in [1, 64]")
    val hist = trainMergesBytesSqlCtes(table, textExpr, steps)
    val pairCols = (1 to steps).map { t =>
      s"""coalesce((SELECT chr(31) || l || chr(31) || chr(31) || r || chr(31) FROM b$t), chr(1)) AS p$t,
         |  coalesce((SELECT chr(31) || merged || chr(31) FROM b$t), chr(1)) AS r$t""".stripMargin
    }.mkString(",\n  ")
    val wrap = byteWrapSql("w")
    val enc = (1 to steps).foldLeft(wrap) { (acc, t) =>
      s"replace($acc, p$t, r$t)"
    }
    s"""WITH $hist,
       |pc AS MATERIALIZED (SELECT $pairCols),
       |wordsper AS (
       |  SELECT $idExpr AS id,
       |    CAST(coalesce(octet_length(encode($textExpr)), 0) AS INTEGER) AS n_bytes,
       |    list_filter(regexp_extract_all($textExpr, '$bytePretokenPatternSql'),
       |      w -> w <> '') AS wl
       |  FROM $table)
       |SELECT id, n_bytes,
       |  CAST(coalesce(list_sum(list_transform(wl,
       |    w -> len(string_split($enc, chr(31) || chr(31))))), 0) AS BIGINT)
       |    AS n_bpe_tokens
       |FROM wordsper, pc""".stripMargin
  }

  /** Hex-byte ⟂-wrap of SQL expression `e` (a string). */
  private def byteWrapSql(e: String): String =
    s"""list_aggregate(list_transform(range(1, len(hex(encode($e))) // 2 + 1),
       |      i -> chr(31) || substr(hex(encode($e)), CAST(2 * i - 1 AS INTEGER), 2) || chr(31)),
       |      'string_agg', '')""".stripMargin

  private def trainMergesBytesSqlCtes(table: String, textExpr: String,
                                      steps: Int): String = {
    val hist =
      s"""w0 AS MATERIALIZED (
         |  SELECT ${byteWrapSql("word")} AS w,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT unnest(regexp_extract_all($textExpr, '$bytePretokenPatternSql')) AS word
         |    FROM $table)
         |  WHERE word <> ''
         |  GROUP BY word)""".stripMargin
    s"$hist,\n${mergeRoundCtes(steps)}"
  }
}
