package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.embed.DeterministicEmbedder
import graft.sources.PdfTextExtractor

/** The benchmark's own checks, checked: the generator's PDFs extract to
  * the text it planted, the restated embedder matches the program's, and
  * every output check accepts a correct result and rejects a corrupted
  * one. Exits 1 on the first disagreement.
  */
object SelfTest {

  private var n = 0

  private def expect(name: String, ok: Boolean): Unit = {
    n += 1
    if (!ok) { System.err.println(s"selftest FAILED: $name"); sys.exit(1) }
  }

  private def accepts(name: String, errs: Seq[String]): Unit =
    expect(s"$name accepts the correct result (got: ${errs.take(2).mkString("; ")})", errs.isEmpty)

  private def rejects(name: String, errs: Seq[String]): Unit =
    expect(s"$name rejects the corrupted result", errs.nonEmpty)

  def main(args: Array[String]): Unit = {
    val r = new Random(1)

    // generator: extracted text is exactly the planted text
    Gen.shapes(r, 20, 300, 4000).zipWithIndex.foreach { case (shape, i) =>
      val d = Gen.caseDoc(r, s"c$i.pdf", shape)
      expect(s"case pdf $i round-trips", PdfTextExtractor.extract(d.pdf) == d.text)
    }
    val corpus = Gen.corpus(r, 60, 80, 250, 0.5, Seq(0.0, 0.05), 0.5, 10)
    corpus.docs.foreach(d => expect("corpus pdf round-trips", PdfTextExtractor.extract(d.pdf) == d.text))

    // the restated embedder equals the program's, bit for bit
    val spark = SparkSession.builder().master("local[1]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val texts = Seq("", "a", "appeal allowed", corpus.texts.head)
    val got = texts.toDF("t").select(DeterministicEmbedder(48).embed(col("t"))).collect()
      .map(_.getSeq[Float](0))
    texts.zip(got).foreach { case (t, g) => expect(s"embed('${t.take(12)}')", Checks.embed(t, 48).toSeq == g) }
    spark.stop()

    // ingest_build
    val okDoc = Checks.IngestedDoc("a.pdf", Set(Checks.sha256Hex("a.pdf")), 3, 8, 8)
    val want = Map("a.pdf" -> 3)
    accepts("ingestDocs", Checks.ingestDocs(Seq(okDoc), want, 8))
    rejects("ingestDocs chunk count", Checks.ingestDocs(Seq(okDoc.copy(chunks = 2)), want, 8))
    rejects("ingestDocs file_id", Checks.ingestDocs(Seq(okDoc.copy(fileIds = Set("x"))), want, 8))
    rejects("ingestDocs dims", Checks.ingestDocs(Seq(okDoc.copy(minDim = 7)), want, 8))
    rejects("ingestDocs missing doc", Checks.ingestDocs(Nil, want, 8))
    val cents = Array(Array(0.0, 0.0), Array(1.0, 1.0))
    accepts("ivfAssignment", Checks.ivfAssignment(Seq((Array(0.9f, 0.8f), 1)), cents))
    rejects("ivfAssignment", Checks.ivfAssignment(Seq((Array(0.9f, 0.8f), 0)), cents))

    // search_closed
    val q = Array(0f, 0f)
    val rows = Seq(
      (1L, "f1", "a.pdf", Gen.Won, Array(0.1f, 0f)), (2L, "f1", "a.pdf", Gen.Won, Array(0.5f, 0f)),
      (3L, "f2", "b.pdf", Gen.Lost, Array(0.2f, 0f)), (4L, "f3", "c.pdf", Gen.NoMatch, Array(0.3f, 0f)))
    val top = Checks.bruteTopK(rows, q, 2)
    expect("bruteTopK keeps each file's best chunk", top.map(_.fileId) == Seq("f1", "f2") &&
      top.map(_.score) == Seq(0.1, 0.2))
    val best = Map("f1" -> 0.1, "f2" -> 0.2, "f3" -> 0.3)
    val reply = Checks.Reply(top, 50.0, 1, 2, 0)
    accepts("searchReply", Checks.searchReply(reply, top, best))
    rejects("searchReply order", Checks.searchReply(reply.copy(results = top.reverse), top, best))
    rejects("searchReply score", Checks.searchReply(
      reply.copy(results = top.map(h => h.copy(score = h.score + 0.01))), top, best))
    rejects("searchReply files", Checks.searchReply(
      reply.copy(results = Seq(top.head, Checks.Hit("f3", "c.pdf", Gen.NoMatch, 0.2))), top, best))
    rejects("searchReply win stats", Checks.searchReply(reply.copy(winPct = 100.0), top, best))
    rejects("searchReply count", Checks.searchReply(reply.copy(results = top.take(1)), top, best))
    expect("recallAtK", Checks.recallAtK(top.take(1), top) == 0.5)

    // dedup pass
    val docs = IndexedSeq("a b c d e f", "a b c d e g", "x y z w v u", "A  b c d e f")
    val sh = (id: Long) => Checks.shingles(docs(id.toInt))
    accepts("pairs", Checks.pairs(Seq((0L, 1L, 0.6)), sh, 0.5))
    rejects("pairs below threshold", Checks.pairs(Seq((0L, 2L, 0.0)), sh, 0.5))
    rejects("pairs misreported jaccard", Checks.pairs(Seq((0L, 1L, 0.9)), sh, 0.5))
    val norm = docs.map(_.trim.toLowerCase.replaceAll("\\s+", " "))
    accepts("exactGroups", Checks.exactGroups(Seq((0L, 2L)), norm))
    rejects("exactGroups keeper", Checks.exactGroups(Seq((3L, 2L)), norm))
    val score = Map(0L -> 0.2, 1L -> 0.9, 3L -> 0.1)
    accepts("keepers", Checks.keepers(Seq((1L, 3L)), Seq((0L, 1L), (0L, 3L)), score))
    rejects("keepers best-scored", Checks.keepers(Seq((0L, 3L)), Seq((0L, 1L), (0L, 3L)), score))

    // streaming pass
    val order = (id: Long) => id.toInt
    accepts("streamVerdicts", Checks.streamVerdicts(
      Seq((0L, -1L, 0.0), (1L, 0L, 0.6), (2L, -1L, 0.0)), order, sh, 0.5))
    rejects("streamVerdicts below threshold", Checks.streamVerdicts(
      Seq((0L, -1L, 0.0), (2L, 0L, 0.6)), order, sh, 0.5))
    rejects("streamVerdicts later keeper", Checks.streamVerdicts(
      Seq((0L, 1L, 0.6), (1L, -1L, 0.0)), order, sh, 0.5))
    rejects("streamVerdicts dup of a dup", Checks.streamVerdicts(
      Seq((0L, -1L, 0.0), (1L, 0L, 0.6), (3L, 1L, 0.6)), order, sh, 0.5))

    println(s"selftest ok: $n checks")
    sys.exit(0)
  }
}
