package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.embed.DeterministicEmbedder
import graft.sources.PdfFixture

/** End-to-end HTTP round trips against [[CaseSearchService]] — the
  * S3/X3/X4 serving surface exercised the way the reference's curl
  * example does (`/root/reference/README.md:9-14`): real multipart
  * uploads of the PdfFixture corpus, real JSON responses.
  */
class ServeApiSpec extends AnyFunSuite with SparkSpec {

  private lazy val root = Files.createTempDirectory("graft_serve").toString
  private lazy val service =
    new CaseSearchService(spark, root, DeterministicEmbedder(dim = 16),
      maxWords = PdfFixture.MaxWords)
  private lazy val base: String = {
    PdfFixture.ensure(spark)
    val p = service.start()
    s"http://127.0.0.1:$p"
  }
  private val client = HttpClient.newHttpClient()

  override def afterAll(): Unit = {
    service.stop()
    super.afterAll()
  }

  // ------------------------------------------------------------ //
  // HTTP helpers                                                 //
  // ------------------------------------------------------------ //

  private val Boundary = "----graftServeSpecBoundary42"

  private def multipart(fields: Seq[(String, String)],
                        files: Seq[(String, String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.UTF_8))
    fields.foreach { case (k, v) =>
      w(s"--$Boundary\r\nContent-Disposition: form-data; name=\"$k\"\r\n\r\n$v\r\n")
    }
    files.foreach { case (k, fname, data) =>
      w(s"--$Boundary\r\nContent-Disposition: form-data; name=\"$k\"; " +
        s"filename=\"$fname\"\r\nContent-Type: application/pdf\r\n\r\n")
      out.write(data)
      w("\r\n")
    }
    w(s"--$Boundary--\r\n")
    out.toByteArray
  }

  private def post(path: String, body: Array[Byte]): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(base + path))
        .header("Content-Type", s"multipart/form-data; boundary=$Boundary")
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET.build(),
      HttpResponse.BodyHandlers.ofString())

  private def pdfBytes(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(PdfFixture.PdfDir, name))

  // ------------------------------------------------------------ //
  // Minimal JSON reader (tests only)                             //
  // ------------------------------------------------------------ //

  private def parseJson(s: String): Any = {
    val it = new JsonCursor(s)
    val v = it.value()
    it.skipWs()
    assert(it.done, s"trailing JSON content in: $s")
    v
  }

  private final class JsonCursor(s: String) {
    private var i = 0
    def done: Boolean = i >= s.length
    def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    private def expect(c: Char): Unit = { skipWs(); assert(s(i) == c, s"want $c at $i in $s"); i += 1 }
    def value(): Any = {
      skipWs()
      s(i) match {
        case '{' =>
          expect('{'); skipWs()
          val m = Map.newBuilder[String, Any]
          if (s(i) == '}') { i += 1 }
          else {
            var more = true
            while (more) {
              skipWs()
              val k = str()
              expect(':')
              m += k -> value()
              skipWs()
              if (s(i) == ',') i += 1 else { expect('}'); more = false }
            }
          }
          m.result()
        case '[' =>
          expect('['); skipWs()
          val b = Vector.newBuilder[Any]
          if (s(i) == ']') { i += 1 }
          else {
            var more = true
            while (more) {
              b += value()
              skipWs()
              if (s(i) == ',') i += 1 else { expect(']'); more = false }
            }
          }
          b.result()
        case '"' => str()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ =>
          val start = i
          while (i < s.length && (s(i).isDigit || "+-.eE".contains(s(i)))) i += 1
          val tok = s.substring(start, i)
          if (tok.exists(c => c == '.' || c == 'e' || c == 'E')) tok.toDouble
          else tok.toLong
      }
    }
    private def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          s(i) match {
            case 'n' => sb.append('\n'); case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'u' => sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar); i += 4
            case c => sb.append(c)
          }
        } else sb.append(s(i))
        i += 1
      }
      i += 1
      sb.toString
    }
  }

  private def obj(v: Any): Map[String, Any] = v.asInstanceOf[Map[String, Any]]
  private def arr(v: Any): Vector[Any] = v.asInstanceOf[Vector[Any]]

  // ------------------------------------------------------------ //
  // X3 health + X4 CORS                                          //
  // ------------------------------------------------------------ //

  test("health probe answers the reference's static JSON with CORS") {
    val r = get("/api/v1/health")
    assert(r.statusCode() == 200)
    assert(obj(parseJson(r.body())) ==
      Map("status" -> "healthy", "service" -> "legal-case-search-api"))
    assert(r.headers().firstValue("Access-Control-Allow-Origin").get == "*")
  }

  test("OPTIONS preflight on /api/ routes carries CORS headers") {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + "/api/v1/search-similar-cases"))
        .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 204)
    assert(r.headers().firstValue("Access-Control-Allow-Origin").get == "*")
    assert(r.headers().firstValue("Access-Control-Allow-Methods").get
      .contains("POST"))
  }

  test("unknown path is a JSON 404") {
    assert(get("/api/v1/nope").statusCode() == 404)
  }

  // ------------------------------------------------------------ //
  // S3 ingest                                                    //
  // ------------------------------------------------------------ //

  test("ingest uploads the fixture corpus; decisions ride the C1 cascade") {
    // pairs cycle won / lost / invalid through the real regex cascade
    val expect = Map(0 -> "appellant_won", 1 -> "appellant_lost", 2 -> "invalid")
    for (p <- 0 until 3; t <- Seq("a", "b")) {
      val name = s"case_$p$t.pdf"
      val r = post("/api/v1/ingest-legal-document", multipart(
        Seq("court_level" -> "3"), Seq(("file", name, pdfBytes(name)))))
      assert(r.statusCode() == 200, r.body())
      val o = obj(parseJson(r.body()))
      assert(o("status") == "success")
      assert(o("collection") == "case_files")
      assert(o("case_decision") == expect(p % 3), name)
      assert(o("chunks_inserted").asInstanceOf[Long] >= 1L)
    }
    val stored = spark.read.parquet(s"$root/case_files")
    assert(stored.count() >= 6)
    assert(stored.columns.toSet.contains("embedding"))
  }

  test("ingest validations mirror the reference's error messages") {
    val noFile = post("/api/v1/ingest-legal-document",
      multipart(Seq("court_level" -> "3"), Nil))
    assert(noFile.statusCode() == 400)
    assert(noFile.body().contains("No file part in the request"))

    val notPdf = post("/api/v1/ingest-legal-document", multipart(
      Seq("court_level" -> "3"), Seq(("file", "x.txt", "hi".getBytes))))
    assert(notPdf.statusCode() == 400)
    assert(notPdf.body().contains("Only PDF files are supported"))

    val badLevel = post("/api/v1/ingest-legal-document", multipart(
      Seq("court_level" -> "abc"),
      Seq(("file", "x.pdf", pdfBytes("case_0a.pdf")))))
    assert(badLevel.statusCode() == 400)
    assert(badLevel.body().contains("Invalid or missing court_level"))
  }

  // ------------------------------------------------------------ //
  // Flagship search over HTTP                                    //
  // ------------------------------------------------------------ //

  test("search finds the uploaded twin at distance 0 and reports win stats") {
    // corpus: the 6 files ingested above at level 3; query = case_0a at
    // court_level 2 → target 3. Identical text ⇒ identical deterministic
    // embeddings ⇒ both case_0 files score exactly 0.0 and rank first.
    val r = post("/api/v1/search-similar-cases", multipart(
      Seq("court_level" -> "2"),
      Seq(("case_file", "case_0a.pdf", pdfBytes("case_0a.pdf")))))
    assert(r.statusCode() == 200, r.body())
    val o = obj(parseJson(r.body()))
    assert(o("status") == "success")
    assert(obj(o("query")) == Map(
      "input_court_level" -> 2L, "target_court_level" -> 3L,
      "file_name" -> "case_0a.pdf"))
    val results = arr(o("results")).map(obj)
    assert(o("result_count") == results.size.toLong)
    assert(results.size == 5) // 6 distinct files, top-5
    // one row per file (V4 group-dedup)
    val names = results.map(_("file_name").asInstanceOf[String])
    assert(names.distinct.size == names.size)
    // ascending L2, twins first at exactly 0.0
    val scores = results.map(_("score") match {
      case d: Double => d
      case l: Long => l.toDouble
    })
    assert(scores == scores.sorted)
    assert(scores.take(2) == Vector(0.0, 0.0))
    assert(names.take(2).toSet == Set("case_0a.pdf", "case_0b.pdf"))
    // stats recompute from the rows themselves (A1–A3)
    val decisions = results.map(_("case_decision").asInstanceOf[String])
    val st = obj(o("appellant_statistics"))
    val win = decisions.count(_ == "appellant_won")
    val valid = decisions.count(d => d == "appellant_won" || d == "appellant_lost")
    assert(st("win_count") == win.toLong)
    assert(st("total_valid_decisions") == valid.toLong)
    assert(st("invalid_decisions") == (results.size - valid).toLong)
    val pct = st("win_percentage") match {
      case d: Double => d
      case l: Long => l.toDouble
    }
    assert(math.abs(pct - win * 100.0 / valid) < 0.01)
  }

  test("maxsim-search ranks the twin first with descending similarity") {
    // same corpus as the flagship search test (6 files at level 3);
    // query = case_0a at level 2 → its twin shares EVERY chunk, so
    // MaxSim = n_query_chunks × 1.0 — the maximum possible score
    val r = post("/api/v1/maxsim-search", multipart(
      Seq("court_level" -> "2", "k" -> "4"),
      Seq(("case_file", "case_0a.pdf", pdfBytes("case_0a.pdf")))))
    assert(r.statusCode() == 200, r.body())
    val o = obj(parseJson(r.body()))
    assert(o("status") == "success")
    val results = arr(o("results")).map(obj)
    assert(results.size == 4 && o("result_count") == 4L)
    val names = results.map(_("file_name").asInstanceOf[String])
    assert(names.distinct.size == names.size, "one row per document")
    val scores = results.map(_("score") match {
      case d: Double => d
      case l: Long => l.toDouble
    })
    assert(scores == scores.sorted.reverse, s"similarity descends: $scores")
    // both case_0 twins carry the perfect all-chunks match up front
    assert(names.take(2).toSet == Set("case_0a.pdf", "case_0b.pdf"))
    assert(scores(0) == scores(1), "identical text ⇒ identical MaxSim")
    assert(scores(2) < scores(0), "non-twin documents score strictly lower")
    // shared validation cascade + the route's own k check
    val badK = post("/api/v1/maxsim-search", multipart(
      Seq("court_level" -> "2", "k" -> "0"),
      Seq(("case_file", "q.pdf", pdfBytes("case_0a.pdf")))))
    assert(badK.statusCode() == 400 && badK.body().contains("Invalid k"))
    val noLevel = post("/api/v1/maxsim-search", multipart(
      Nil, Seq(("case_file", "q.pdf", pdfBytes("case_0a.pdf")))))
    assert(noLevel.statusCode() == 400 &&
      noLevel.body().contains("Missing court_level parameter"))
  }

  test("search validations mirror the reference's error messages") {
    val noLevel = post("/api/v1/search-similar-cases", multipart(
      Nil, Seq(("case_file", "q.pdf", pdfBytes("case_0a.pdf")))))
    assert(noLevel.statusCode() == 400)
    assert(noLevel.body().contains("Missing court_level parameter"))

    val badLevel = post("/api/v1/search-similar-cases", multipart(
      Seq("court_level" -> "two"),
      Seq(("case_file", "q.pdf", pdfBytes("case_0a.pdf")))))
    assert(badLevel.statusCode() == 400)
    assert(badLevel.body().contains("Invalid court_level"))

    val noFile = post("/api/v1/search-similar-cases",
      multipart(Seq("court_level" -> "2"), Nil))
    assert(noFile.statusCode() == 400)
    assert(noFile.body().contains("No case_file in the request"))

    val notPdf = post("/api/v1/search-similar-cases", multipart(
      Seq("court_level" -> "2"), Seq(("case_file", "q.docx", "x".getBytes))))
    assert(notPdf.statusCode() == 400)
    assert(notPdf.body().contains("Only PDF files are supported"))

    val missingCollection = post("/api/v1/search-similar-cases", multipart(
      Seq("court_level" -> "2", "collection" -> "never_made"),
      Seq(("case_file", "q.pdf", pdfBytes("case_0a.pdf")))))
    assert(missingCollection.statusCode() == 500)
    assert(missingCollection.body().contains("collection not found"))
  }

  test("bodies over the 16 MB cap are rejected with 413") {
    val big = new Array[Byte](CaseSearchService.MaxContentLength + 1024)
    val r = post("/api/v1/search-similar-cases", big)
    assert(r.statusCode() == 413)
    assert(r.body().contains("Request entity too large"))
  }

  // ------------------------------------------------------------ //
  // Lifecycle                                                    //
  // ------------------------------------------------------------ //

  test("stop() ends every request thread; start() works again") {
    val svc = new CaseSearchService(spark, root, DeterministicEmbedder(dim = 16))
    def health(p: Int): Int = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/api/v1/health")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).statusCode()
    def poolThreads(p: Int): Seq[Thread] = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala.toSeq
        .filter(_.getName.startsWith(s"graft-serve-$p-"))
    }
    for (_ <- 1 to 2) {
      val p = svc.start()
      assert(health(p) == 200)
      val threads = poolThreads(p)
      assert(threads.nonEmpty, "a served request runs on a named pool thread")
      svc.stop()
      threads.foreach(_.join(5000))
      assert(threads.forall(!_.isAlive),
        s"alive after stop(): ${threads.filter(_.isAlive).map(_.getName)}")
    }
  }
}
