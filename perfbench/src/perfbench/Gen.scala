package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.Deflater

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded input generator. Everything the program sees (PDF files,
  * corpus rows, collection rows) is a pure function of the seed, so two
  * runs with one seed feed the program byte-identical inputs.
  *
  * Words are pronounceable consonant-vowel strings from a fixed
  * 4000-word vocabulary. They never spell a decision phrase, a party
  * separator or a case number, so the only classify hits are the ones
  * the generator plants.
  */
object Gen {

  val Vocab: Array[String] = {
    val r = new Random(7L)
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val out = ArrayBuffer[String]()
    while (out.size < 4000) {
      val w = (0 until 2 + r.nextInt(3))
        .map(_ => s"${cons(r.nextInt(cons.length))}${vows(r.nextInt(vows.length))}")
        .mkString
      if (w != "case") out += w
    }
    out.toArray
  }

  def word(r: Random): String = Vocab(r.nextInt(Vocab.length))

  def words(r: Random, n: Int): Seq[String] = Seq.fill(n)(word(r))

  /** A document as the extractor returns it: pages of paragraphs of
    * lines. Lines join with "\n", paragraphs with "\n\n" and pages with
    * "\n" (the reference's page join), so a paragraph never spans a page.
    */
  final case class Layout(pages: Seq[Seq[Seq[String]]]) {
    def text: String =
      pages.map(_.map(_.mkString("\n")).mkString("\n\n")).mkString("\n")
    def pdf: Array[Byte] = Gen.pdf(pages)
  }

  /** Paragraphs of `nWords` words in lines of 9-14 words, 2-7 lines each. */
  def paragraphs(r: Random, nWords: Int): Seq[Seq[String]] = {
    val paras = ArrayBuffer[Seq[String]]()
    var left = nWords
    while (left > 0) {
      val lines = ArrayBuffer[String]()
      var nLines = 2 + r.nextInt(6)
      while (nLines > 0 && left > 0) {
        val n = math.min(left, 9 + r.nextInt(6))
        lines += words(r, n).mkString(" ")
        left -= n; nLines -= 1
      }
      paras += lines.toSeq
    }
    paras.toSeq
  }

  /** Pack paragraphs onto pages of about 45 lines. */
  def paginate(paras: Seq[Seq[String]]): Seq[Seq[Seq[String]]] = {
    val pages = ArrayBuffer[Seq[Seq[String]]]()
    var cur = ArrayBuffer[Seq[String]]()
    var lines = 0
    for (p <- paras) {
      if (lines > 0 && lines + p.size > 45) { pages += cur.toSeq; cur = ArrayBuffer(); lines = 0 }
      cur += p; lines += p.size
    }
    if (cur.nonEmpty) pages += cur.toSeq
    pages.toSeq
  }

  // ---- case documents (ingest and search queries) -----------------------

  val Won = "appellant_won"
  val Lost = "appellant_lost"
  val NoMatch = "invalid"

  final case class CaseDoc(name: String, label: String, hasHeader: Boolean, layout: Layout) {
    lazy val text: String = layout.text
    lazy val pdf: Array[Byte] = layout.pdf
    def nWords: Int = text.split("\\s+").count(_.nonEmpty)
  }

  private val Courts = Seq("HIGH COURT OF JUDICATURE", "CUSTOMS EXCISE AND SERVICE TAX APPELLATE TRIBUNAL",
    "SUPREME COURT OF INDIA", "OFFICE OF THE COMMISSIONER OF CUSTOMS")

  private def party(r: Random): String =
    s"M/s ${word(r).capitalize} ${word(r).capitalize} Traders"

  /** What a case document's cost depends on. */
  final case class Shape(words: Int, header: Boolean, label: String)

  /** Shapes of a batch of `n` documents, fixed by `n` alone: lengths at
    * the n mid-quantiles of log-uniform [minWords, maxWords], 60% with a
    * parties/case-number header (the metadata regexes hit; without one
    * the parties pattern scans the whole first page and misses), and
    * decision text planting won / lost / nothing for 40% / 40% / 20%.
    * The seed only decides which document gets which shape, so batch
    * cost does not vary with the seed. The length range comes from the
    * design; the distribution and the shares are assumptions, not
    * measured from real case files.
    */
  def shapes(r: Random, n: Int, minWords: Int, maxWords: Int): Seq[Shape] = {
    val (lo, hi) = (math.log(minWords), math.log(maxWords))
    val lens = (0 until n).map(i => math.exp(lo + (i + 0.5) / n * (hi - lo)).toInt)
    val heads = (0 until n).map(_ < math.round(0.6 * n))
    val labels = (0 until n).map(i => if (i < 0.4 * n) Won else if (i < 0.8 * n) Lost else NoMatch)
    r.shuffle(lens).zip(r.shuffle(heads)).zip(r.shuffle(labels))
      .map { case ((w, h), l) => Shape(w, h, l) }
  }

  def caseDoc(r: Random, name: String, shape: Shape): CaseDoc = {
    val header =
      if (!shape.header) Nil
      else Seq(Seq(
        s"IN THE ${Courts(r.nextInt(Courts.size))}",
        s"Appeal No. ${100 + r.nextInt(900)}/${2000 + r.nextInt(24)}",
        s"${party(r)} versus ${party(r)}",
        s"Decided on ${1 + r.nextInt(28)}.${1 + r.nextInt(12)}.${2000 + r.nextInt(24)}"))
    val decision = shape.label match {
      case Won => s"For the reasons above we allow the appeal and ${words(r, 6).mkString(" ")}."
      case Lost => s"For the reasons above the appeal dismissed and ${words(r, 6).mkString(" ")}."
      case _ => s"The registry shall list the matter for ${words(r, 6).mkString(" ")}."
    }
    val paras = header ++ paragraphs(r, shape.words) ++ Seq(Seq(decision, words(r, 10).mkString(" ")))
    CaseDoc(name, shape.label, shape.header, Layout(paginate(paras)))
  }

  // ---- near-duplicate corpora (dedup and streaming passes) --------------

  /** A corpus of `n` documents where about `dupShare` of them copy an
    * earlier document with a per-word substitution rate drawn from
    * `rates` (0.0 = exact copy). `near` of the copies take an original
    * from the previous `nearWindow` documents, the rest from anywhere
    * earlier. `planted` lists (original, copy) index pairs; `scores` is
    * a per-document quality score for keeper selection.
    */
  final case class Corpus(docs: IndexedSeq[Layout], planted: Seq[(Int, Int)],
                          scores: IndexedSeq[Double]) {
    lazy val texts: IndexedSeq[String] = docs.map(_.text)
  }

  def corpus(r: Random, n: Int, minWords: Int, maxWords: Int,
             dupShare: Double, rates: Seq[Double],
             near: Double, nearWindow: Int): Corpus = {
    val docs = ArrayBuffer[Layout]()
    val originals = ArrayBuffer[Int]()
    val planted = ArrayBuffer[(Int, Int)]()
    for (i <- 0 until n) {
      if (originals.nonEmpty && r.nextDouble() < dupShare) {
        val recent = originals.filter(_ >= i - nearWindow)
        val src =
          if (recent.nonEmpty && r.nextDouble() < near) recent(r.nextInt(recent.size))
          else originals(r.nextInt(originals.size))
        val rate = rates(r.nextInt(rates.size))
        val copy = docs(src).pages.map(_.map(_.map { line =>
          line.split(" ").map(w => if (r.nextDouble() < rate) word(r) else w).mkString(" ")
        }))
        docs += Layout(copy)
        planted += ((src, i))
      } else {
        val nWords = minWords + r.nextInt(maxWords - minWords + 1)
        docs += Layout(paginate(paragraphs(r, nWords)))
        originals += i
      }
    }
    Corpus(docs.toIndexedSeq, planted.toSeq,
      IndexedSeq.fill(n)(math.rint(r.nextDouble() * 1e6) / 1e6))
  }

  // ---- PDF writer ---------------------------------------------------------

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Classic PDF 1.4 with a Helvetica font, one Flate-compressed content
    * stream per page and an xref table. Each line is a `Tj` after a
    * line move; a paragraph break shows a literal "\n" so the extracted
    * text carries the blank line the chunker splits on.
    */
  def pdf(pages: Seq[Seq[Seq[String]]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val offsets = ArrayBuffer[Int]()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    def obj(body: => Unit): Unit = {
      offsets += out.size
      w(s"${offsets.size} 0 obj\n"); body; w("\nendobj\n")
    }
    val n = pages.size
    val fontId = 3 + 2 * n
    w("%PDF-1.4\n%âãÏÓ\n")
    obj(w("<< /Type /Catalog /Pages 2 0 R >>"))
    obj(w(s"<< /Type /Pages /Kids [${(0 until n).map(i => s"${3 + i} 0 R").mkString(" ")}] /Count $n >>"))
    for (i <- 0 until n)
      obj(w(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 $fontId 0 R >> >> /Contents ${3 + n + i} 0 R >>"))
    for (page <- pages) {
      val sb = new StringBuilder("BT /F1 10 Tf 72 760 Td\n")
      page.zipWithIndex.foreach { case (para, pi) =>
        if (pi > 0) sb.append("0 -12 Td (\\n) Tj\n")
        para.zipWithIndex.foreach { case (line, li) =>
          if (pi > 0 || li > 0) sb.append("0 -12 Td ")
          sb.append('(').append(line).append(") Tj\n")
        }
      }
      sb.append("ET")
      val z = deflate(sb.toString.getBytes(StandardCharsets.ISO_8859_1))
      obj {
        w(s"<< /Length ${z.length} /Filter /FlateDecode >>\nstream\n")
        out.write(z)
        w("\nendstream")
      }
    }
    obj(w("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>"))
    val xref = out.size
    w(s"xref\n0 ${offsets.size + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.size + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }
}
