package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.Deflater

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Deterministic PDF corpus for the end-to-end S1 gate: twelve
  * three-page case PDFs (six content-twin pairs) generated from fixed
  * strings, plus the extracted-text parquet the DuckDB oracle reads —
  * the bridge that lets the PDF→chunks→classify→KNN pipeline run
  * under the hash gate even though the oracle cannot parse PDF bytes
  * itself (reference flow: `extract_and_embed.py` upload→extract→
  * chunk→embed→insert, `extract_and_search_v2.py` search→classify).
  *
  * Layout choices that make the downstream pipeline deterministic:
  *  - twins: files `case_<p>a.pdf` / `case_<p>b.pdf` carry IDENTICAL
  *    text, so each file's nearest neighbor under the deterministic
  *    hash embedder is its twin at cosine exactly 1.0 (4dp);
  *  - page 2 is EMPTY, so the "\n"-joined page texts contain "\n\n" —
  *    a real paragraph boundary for F1 (ChunkPacker.paragraphs);
  *  - paragraph word counts (13 and 9-10) make the F2 greedy fold at
  *    maxWords = 15 emit exactly two chunks per document — below the
  *    budget singly, over it merged (with the reference's glued-word
  *    counting quirk) — which the oracle replays arithmetically;
  *  - page 3 cycles C1 cascade outcomes (won / lost / no-match) so the
  *    decision and win-stat surfaces carry all three labels.
  */
object PdfFixture {

  val PdfDir = "/tmp/graft_pdf_fixture"
  val ExtractedParquet = "/tmp/graft_pdf_fixture_extracted"

  val NumPairs = 6
  val MaxWords = 15

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Minimal PDF from page content streams; odd page indexes are
    * Flate-compressed so both decode paths stay exercised. Pages
    * flagged `type0` carry a /Resources → /Font entry selecting a
    * shared CID/Type0 font whose Flate-compressed /ToUnicode CMap
    * ([[cmapSource]]) maps the fixture's 2-byte codes — exercising the
    * composite-font extraction path under the flagship hash gate
    * (real court PDFs embed CID-keyed fonts; the reference's fitz
    * handles them, `/root/reference/extract_and_search.py:40-47`).
    */
  private def buildPdf(pages: Seq[(String, Boolean)],
                       objStm: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    val n = pages.length
    val pageIds = (0 until n).map(3 + _)
    val contentIds = (0 until n).map(3 + n + _)
    val fontId = 3 + 2 * n
    val cmapId = fontId + 1
    w(if (objStm) "%PDF-1.5\n" else "%PDF-1.4\n")
    // the document-structure dictionaries: inline objects in the 1.4
    // layout, or packed COMPRESSED into one /ObjStm in the 1.5 layout
    // (what modern generators emit — a raw byte scan sees no page tree
    // at all without object-stream decoding)
    val structure: Seq[(Int, String)] =
      (1, "<< /Type /Catalog /Pages 2 0 R >>") +:
      (2, s"<< /Type /Pages /Kids [${pageIds.map(i => s"$i 0 R").mkString(" ")}] /Count $n >>") +:
      pageIds.zip(contentIds).zip(pages).map { case ((p, c), (_, type0)) =>
        val res =
          if (type0) s" /Resources << /Font << /T0 $fontId 0 R >> >>" else ""
        (p, s"<< /Type /Page /Parent 2 0 R /Contents $c 0 R$res >>")
      }
    if (objStm) {
      val bodies = structure.map(_._2)
      val offsets = bodies.scanLeft(0)(_ + _.length + 1).init
      val header = structure.map(_._1).zip(offsets)
        .map { case (num, off) => s"$num $off" }.mkString(" ") + " "
      val payload = header + bodies.mkString("\n") + "\n"
      val z = deflate(payload.getBytes(StandardCharsets.ISO_8859_1))
      val stmId = cmapId + 1
      w(s"$stmId 0 obj\n<< /Type /ObjStm /N ${structure.size} " +
        s"/First ${header.length} /Length ${z.length} /Filter /FlateDecode >>\nstream\n")
      out.write(z)
      w("\nendstream\nendobj\n")
    } else structure.foreach { case (num, dict) =>
      w(s"$num 0 obj\n$dict\nendobj\n")
    }
    pages.map(_._1).zip(contentIds).zipWithIndex.foreach { case ((content, c), i) =>
      val raw = content.getBytes(StandardCharsets.ISO_8859_1)
      if (i % 2 == 1) {
        val z = deflate(raw)
        w(s"$c 0 obj\n<< /Length ${z.length} /Filter /FlateDecode >>\nstream\n")
        out.write(z)
      } else {
        w(s"$c 0 obj\n<< /Length ${raw.length} >>\nstream\n")
        out.write(raw)
      }
      w("\nendstream\nendobj\n")
    }
    if (pages.exists(_._2)) {
      w(s"$fontId 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /GraftCID" +
        s" /Encoding /Identity-H /ToUnicode $cmapId 0 R >>\nendobj\n")
      val z = deflate(cmapSource.getBytes(StandardCharsets.ISO_8859_1))
      w(s"$cmapId 0 obj\n<< /Length ${z.length} /Filter /FlateDecode >>\nstream\n")
      out.write(z)
      w("\nendstream\nendobj\n")
    }
    w("trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  // ---- shared Type0 code table ---------------------------------------
  // Deliberately NON-identity codes: lowercase letters ride one
  // bfrange at 0x0200, every other fixture char gets a bfchar at
  // 0x0300+i — so a Latin-1 fallback would visibly garble the page and
  // the hash gate proves the CMap path ran.

  private val BfRangeLo = 0x0200
  private val BfCharBase = 0x0300

  private lazy val bfCharCodes: Map[Char, Int] =
    (0 until NumPairs).flatMap(p => decisionSentence(p)).distinct
      .filterNot(c => c >= 'a' && c <= 'z').sorted.zipWithIndex
      .map { case (c, i) => c -> (BfCharBase + i) }.toMap

  private def type0Hex(text: String): String =
    text.map { c =>
      val code = if (c >= 'a' && c <= 'z') BfRangeLo + (c - 'a')
                 else bfCharCodes(c)
      f"$code%04X"
    }.mkString

  private lazy val cmapSource: String = {
    val chars = bfCharCodes.toSeq.sortBy(_._2)
      .map { case (c, code) => f"<$code%04X> <${c.toInt}%04X>" }
      .mkString("\n")
    s"""/CIDInit /ProcSet findresource begin
       |12 dict begin
       |begincmap
       |1 begincodespacerange
       |<0000> <FFFF>
       |endcodespacerange
       |1 beginbfrange
       |<0200> <0219> <0061>
       |endbfrange
       |${bfCharCodes.size} beginbfchar
       |$chars
       |endbfchar
       |endcmap
       |CMapName currentdict /CMap defineresource pop
       |end
       |end""".stripMargin
  }

  private def tj(lines: String*): String =
    "BT /F1 12 Tf 72 720 Td " +
      lines.map(l => s"($l) Tj").mkString(" 0 -14 Td ") + " ET"

  /** The decision sentence for pair `p` — cycles won / lost / invalid
    * through the real C1 cascade (allow the appeal → won; appeal
    * dismissed → lost; no phrase → invalid).
    */
  private def decisionSentence(p: Int): String = (p % 3) match {
    case 0 => "After hearing both sides we allow the appeal with costs"
    case 1 => "For the reasons recorded the appeal dismissed as without merit"
    case _ => "The registry shall list the matter for directions shortly"
  }

  /** Page content streams of pair `p`: 13-word heading paragraph,
    * empty page, decision paragraph. The decision page renders through
    * the shared CID/Type0 font — its text only extracts correctly
    * through the /ToUnicode CMap path, so every flagship row exercises
    * composite-font extraction.
    */
  private def pages(p: Int): Seq[(String, Boolean)] = Seq(
    (tj(s"Appeal No. ${100 + p} of 2024",
      "In the matter of Alpha versus Beta Industries"), false),
    ("q Q", false), // textless page => empty text => the \n\n boundary
    (s"BT /T0 12 Tf 72 720 Td <${type0Hex(decisionSentence(p))}> Tj ET",
      true))

  /** Write the PDF corpus and the extracted-text parquet (idempotent
    * overwrite); returns [[PdfDir]]. The parquet carries exactly what
    * [[BinaryDocs.scanPdfDir]] extracts, so the oracle consumes the
    * same text the engine pipeline consumes.
    */
  def ensure(spark: SparkSession): String = synchronized {
    val dir = Paths.get(PdfDir)
    Files.createDirectories(dir)
    (0 until NumPairs).foreach { p =>
      // odd pairs ship in the PDF 1.5 object-stream layout (page tree
      // compressed in an /ObjStm), even pairs in classic 1.4 — both
      // real-world layouts ride the flagship hash gates with IDENTICAL
      // text, so twins still match across layout styles
      val bytes = buildPdf(pages(p), objStm = p % 2 == 1)
      Seq("a", "b").foreach { t =>
        Files.write(dir.resolve(s"case_$p$t.pdf"), bytes)
      }
    }
    BinaryDocs.scanPdfDir(spark, PdfDir).toDF()
      .select(col("file_name"), col("file_id"), col("n_bytes"), col("text"))
      .coalesce(1).write.mode("overwrite").parquet(ExtractedParquet)
    PdfDir
  }
}
