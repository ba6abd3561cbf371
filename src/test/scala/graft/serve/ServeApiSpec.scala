package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.api.Ingest
import graft.embed.DeterministicEmbedder
import graft.sources.{PdfFixture, PdfTextExtractor}
import graft.text.ChunkPacker

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
  private def num(v: Any): Double = v match {
    case d: Double => d
    case l: Long => l.toDouble
  }

  /** Search `collection` at level 3 (court_level 2 + 1) with a fixture PDF. */
  private def searchIn(collection: String, pdf: String): HttpResponse[String] =
    post("/api/v1/search-similar-cases", multipart(
      Seq("court_level" -> "2", "collection" -> collection),
      Seq(("case_file", pdf, pdfBytes(pdf)))))

  /** (file_name, score) of a 200 search reply, in rank order. */
  private def hits(r: HttpResponse[String]): Vector[(String, Double)] = {
    assert(r.statusCode() == 200, r.body())
    arr(obj(parseJson(r.body()))("results")).map(obj)
      .map(h => (h("file_name").asInstanceOf[String], num(h("score"))))
  }

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

  // ------------------------------------------------------------ //
  // Per-request cost: a reused collection frame, one Spark job   //
  // ------------------------------------------------------------ //

  test("a cached collection frame follows ingests and in-place part-file rewrites") {
    val level3 = Paths.get(root, "cache_check", "court_level=3")
    def parts: Set[java.nio.file.Path] =
      if (!Files.exists(level3)) Set.empty
      else Files.list(level3).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSet
    def ingest(name: String): Unit = {
      val r = post("/api/v1/ingest-legal-document", multipart(
        Seq("court_level" -> "3", "collection" -> "cache_check"),
        Seq(("file", name, pdfBytes(name)))))
      assert(r.statusCode() == 200, r.body())
    }
    ingest("case_1a.pdf")
    assert(hits(searchIn("cache_check", "case_0a.pdf")).map(_._1) == Vector("case_1a.pdf"))

    // an ingest through the service: case_0b is case_0a's twin (same text)
    val before = parts
    ingest("case_0b.pdf")
    val twinParts = parts -- before
    assert(twinParts.nonEmpty)
    assert(hits(searchIn("cache_check", "case_0a.pdf")).head == ("case_0b.pdf", 0.0))

    // the same part files rewritten in place with new content and length
    for (part <- twinParts) {
      val tmp = Files.createTempDirectory("graft_serve_rewrite").resolve("t")
      spark.read.parquet(part.toString).drop("court_level")
        .withColumn("file_name", col("file_name").substr(1, 7)) // "case_0b"
        .coalesce(1).write.parquet(tmp.toString)
      val rewritten = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      assert(Files.size(rewritten) != Files.size(part))
      Files.copy(rewritten, part, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.deleteIfExists(part.resolveSibling(s".${part.getFileName}.crc"))
    }
    assert(hits(searchIn("cache_check", "case_0a.pdf")).head == ("case_0b", 0.0))
  }

  test("a warm search runs exactly one Spark job") {
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val ends = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(hits(searchIn("case_files", "case_0a.pdf")).nonEmpty) // warm
      // one client and no other work in this suite: every job started
      // while the request runs is the request's
      val t0 = System.currentTimeMillis()
      val r = searchIn("case_files", "case_1a.pdf")
      val t1 = System.currentTimeMillis()
      assert(hits(r).nonEmpty)
      // the listener bus delivers asynchronously; wait for it to settle
      def jobs = starts.asScala.count(t => t >= t0 && t <= t1)
      val deadline = t1 + 10000
      Thread.sleep(200)
      while ((jobs == 0 || ends.get < starts.size) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(jobs == 1, s"$jobs Spark jobs in one search request")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a chunk without an embedding never ranks; its file ranks by its other chunks") {
    import spark.implicits._
    val rep = ChunkPacker.chunkText(
      PdfTextExtractor.extract(pdfBytes("case_0a.pdf")), PdfFixture.MaxWords).head
    val q = Seq(rep).toDF("t").select(DeterministicEmbedder(dim = 16).embed(col("t")))
      .head().getSeq[Float](0)
    Ingest.write(Seq(
      (1L, "f_null", "with_null.pdf", "appellant_won", 3, null: Seq[Float]),
      (2L, "f_null", "with_null.pdf", "appellant_won", 3, q),
      (3L, "f_far", "far.pdf", "appellant_lost", 3, q.map(_ + 1.0f)))
      .toDF("chunk_id", "file_id", "file_name", "case_decision", "court_level", "embedding"),
      s"$root/null_embedding")
    val h = hits(searchIn("null_embedding", "case_0a.pdf"))
    assert(h.map(_._1) == Vector("with_null.pdf", "far.pdf"))
    assert(h.head._2 == 0.0 && h(1)._2 > 0.0)
  }
}
