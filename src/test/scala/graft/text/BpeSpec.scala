package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class BpeSpec extends AnyFunSuite with SparkSpec {

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  private def merges(df: org.apache.spark.sql.DataFrame, steps: Int) =
    Bpe.trainMerges(df, col("text"), steps).orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))

  test("hand-computed merge sequence on the classic low/lower fixture") {
    // words: low ×3, lower ×2 → pairs: (l,o)=5 (o,w)=5 (w,e)=2 (e,r)=2
    // step1 ties (l,o)/(o,w) at 5 → lexicographic picks (l,o)
    // step2: (lo,w)=5 beats (w,e)/(e,r)=2 → merged "low"
    // step3: (w,e)... gone — now (low,e)=2, (e,r)=2 → picks (e,r)
    val out = merges(docs("low low low lower lower"), 3)
    assert(out(0) == (1, "l", "o", "lo", 5L))
    assert(out(1) == (2, "lo", "w", "low", 5L))
    assert(out(2) == (3, "e", "r", "er", 2L))
  }

  test("greedy leftmost apply: aaaa under (a,a) yields (aa,aa), not a chain") {
    // step1 pair counts in 'aaaa': (a,a) ×3 → merge. Greedy left-to-right
    // re-segments to [aa, aa], so step2's top pair is (aa, aa) ×1
    val out = merges(docs("aaaa"), 2)
    assert(out(0) == (1, "a", "a", "aa", 3L))
    assert(out(1) == (2, "aa", "aa", "aaaa", 1L))
  }

  test("stops early when the pair space exhausts") {
    val out = merges(docs("a b c a b"), 5)
    assert(out.isEmpty) // all words are single symbols: no adjacent pairs
  }

  test("deterministic under repartitioning") {
    val d = docs("the quick brown fox", "the quick brown cat",
      "lazy dogs sleep", "the brown fox naps")
    val a = merges(d, 6)
    val b = merges(d.repartition(5), 6)
    assert(a.toSeq == b.toSeq)
  }

  test("encode with no merges counts characters; trained merges compress") {
    val d = docs("low low low lower lower")
    val none = Bpe.encodeTokenCounts(d, col("id"), col("text"), Nil).collect().head
    assert(none.getAs[Long]("n_bpe_tokens") == 19L) // 3·3 + 2·5 chars
    val m = Bpe.trainMerges(d, col("text"), 3).orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // merges (l,o), (lo,w), (e,r): low → [low]=1 each; lower → [low, er]=2
    val out = Bpe.encodeTokenCounts(d, col("id"), col("text"), m).collect().head
    assert(out.getAs[Long]("n_bpe_tokens") == 3L * 1 + 2L * 2)
  }

  test("words containing the separator byte are excluded, not corrupted") {
    val d = docs("ab ab ab", "abx abx")
    val out = merges(d, 1)
    assert(out(0) == (1, "a", "b", "ab", 3L)) // the U+001F words dropped
  }

  /** In-memory replay of the engine's exact algorithm over a word
    * histogram: same wrapped-string representation, same leftmost
    * non-overlapping `String.replace`, same (count desc, then lex
    * (l, r)) argmax. ASCII fixture so Scala char order == UTF8 binary
    * order.
    */
  private def refTrain(hist0: Map[String, Long],
                       steps: Int): Seq[(Int, String, String, String, Long)] = {
    val SEP = "\u001F"
    def wrap(w: String) = w.map(c => s"$SEP$c$SEP").mkString
    var hist: Seq[(String, Long)] =
      hist0.toSeq.map { case (w, c) => wrap(w) -> c }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var step = 1
    var done = false
    while (step <= steps && !done) {
      val pairs = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      for ((w, c) <- hist) {
        val toks = w.substring(1, w.length - 1).split(SEP + SEP, -1)
        var i = 0
        while (i < toks.length - 1) {
          pairs((toks(i), toks(i + 1))) += c; i += 1
        }
      }
      if (pairs.isEmpty) done = true
      else {
        val ((l, r), total) =
          pairs.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((step, l, r, l + r, total))
        val (pat, rep) = (SEP + l + SEP + SEP + r + SEP, SEP + l + r + SEP)
        hist = hist.map { case (w, c) => w.replace(pat, rep) -> c }
        step += 1
      }
    }
    out.toSeq
  }

  test("256 deep merges match an in-memory replay (checkpoint cadence 16)") {
    // Synthetic vocabulary rich enough to sustain 256 distinct merges:
    // ~220 fixed-seed words of length 6-10 over a-j with cycling counts.
    val rnd = new scala.util.Random(42)
    val vocab = Seq.tabulate(220) { i =>
      val len = 6 + rnd.nextInt(5)
      val w = Seq.fill(len)(('a' + rnd.nextInt(10)).toChar).mkString
      (w, (i % 37) + 1L)
    }.toMap // dedup collisions; counts deterministic per surviving word
    val text = vocab.toSeq.sortBy(_._1)
      .flatMap { case (w, c) => Seq.fill(c.toInt)(w) }.mkString(" ")
    val expected = refTrain(vocab, 256)
    assert(expected.size == 256, s"fixture exhausted at ${expected.size}")
    val got = merges(docs(text), 256).toSeq
    assert(got == expected)
  }

test("scalable encode equals the expression route on trained merges") {
    val d = docs("low low low lower lower", "the lowest slower flower",
      "unrelated words entirely", "")
    val m = Bpe.trainMerges(d, col("text"), 8).orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val expr = Bpe.encodeTokenCounts(d, col("id"), col("text"), m)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    val scal = Bpe.encodeTokenCountsScalable(d, col("id"), col("text"), m)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(expr.toSeq == scal.toSeq)
  }

  test("scalable encode at 256 merges matches a driver-side replay") {
    val SEP = "\u001F"
    val rnd = new scala.util.Random(11)
    val vocab = Seq.tabulate(200) { i =>
      val len = 5 + rnd.nextInt(6)
      (Seq.fill(len)(('a' + rnd.nextInt(8)).toChar).mkString, (i % 23) + 1)
    }.toMap
    val text = vocab.toSeq.sortBy(_._1)
      .flatMap { case (w, c) => Seq.fill(c)(w) }.mkString(" ")
    val d = docs(text)
    val m = Bpe.trainMerges(d, col("text"), 256).orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(m.size == 256)
    // driver-side replay of the in-order single-pass contract via the
    // same wrapped-string String.replace the expression route uses
    def wrap(w: String) = w.map(c => s"$SEP$c$SEP").mkString
    def countTokens(w: String): Long = {
      val enc = m.foldLeft(wrap(w)) { case (acc, (l, r)) =>
        acc.replace(SEP + l + SEP + SEP + r + SEP, SEP + l + r + SEP)
      }
      enc.split(SEP + SEP, -1).length.toLong
    }
    val expected = text.split("\\s+").filter(_.nonEmpty).map(countTokens).sum
    val out = Bpe.encodeTokenCountsScalable(d, col("id"), col("text"), m)
      .collect().head
    assert(out.getLong(2) == expected)
    assert(out.getInt(1) == text.length)
  }
}
