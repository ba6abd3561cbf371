package graft.serve

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.classify.HttpChatFallback
import graft.embed.{DeterministicEmbedder, HttpEmbedder}
import graft.sources.PdfFixture

/** The production-shaped serving configuration: [[CaseSearchService]]
  * wired to the LIVE clients — the batched `/embeddings` embedder (F4)
  * and the chat-completions decision fallback (F8) — against local
  * fake OpenAI-compatible servers. Mirrors the reference's full ingest
  * tail (`/root/reference/extract_and_embed_v2.py:432-492`): a
  * cascade-`invalid` upload pays exactly one chat RPC and the
  * validated label lands on every written chunk row.
  */
class ServeLiveClientsSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {

  private val mapper = new ObjectMapper()
  private var fake: HttpServer = _
  private val chatCalls = new AtomicInteger(0)
  private val embedCalls = new AtomicInteger(0)

  /** Deterministic fake embedding: [len, sum(codes) mod 1000, 1]. */
  private def fakeVec(t: String): Seq[Double] =
    Seq(t.length.toDouble, (t.map(_.toInt).sum % 1000).toDouble, 1.0)

  private def embeddings(ex: HttpExchange): Unit = {
    embedCalls.incrementAndGet()
    val req = mapper.readTree(ex.getRequestBody)
    val inputs = (0 until req.get("input").size).map(req.get("input").get(_).asText())
    val root = mapper.createObjectNode()
    val data = root.putArray("data")
    inputs.indices.foreach { i =>
      val item = data.addObject()
      item.put("index", i)
      val emb = item.putArray("embedding")
      fakeVec(inputs(i)).foreach(emb.add)
    }
    val bytes = mapper.writeValueAsBytes(root)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def chat(ex: HttpExchange): Unit = {
    chatCalls.incrementAndGet()
    val root = mapper.createObjectNode()
    val msg = root.putArray("choices").addObject().putObject("message")
    msg.put("role", "assistant")
    msg.put("content", "appellant_won")
    val bytes = mapper.writeValueAsBytes(root)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    fake = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    fake.createContext("/v1/embeddings", embeddings _)
    fake.createContext("/v1/chat/completions", chat _)
    fake.createContext("/v1/down", (ex: HttpExchange) => {
      ex.sendResponseHeaders(503, -1); ex.close()
    })
    fake.start()
    PdfFixture.ensure(spark)
  }

  override def afterAll(): Unit = {
    if (fake != null) fake.stop(0)
    super.afterAll()
  }

  private def fakePort = fake.getAddress.getPort

  private val client = HttpClient.newHttpClient()
  private val Boundary = "----graftLiveClientsBoundary7"

  private def multipart(fields: Seq[(String, String)],
                        file: (String, String, Array[Byte])): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.UTF_8))
    fields.foreach { case (k, v) =>
      w(s"--$Boundary\r\nContent-Disposition: form-data; name=\"$k\"\r\n\r\n$v\r\n")
    }
    w(s"--$Boundary\r\nContent-Disposition: form-data; name=\"${file._1}\"; " +
      s"filename=\"${file._2}\"\r\nContent-Type: application/pdf\r\n\r\n")
    out.write(file._3)
    w("\r\n")
    w(s"--$Boundary--\r\n")
    out.toByteArray
  }

  private def post(base: String, path: String, body: Array[Byte]): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(base + path))
        .header("Content-Type", s"multipart/form-data; boundary=$Boundary")
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("cascade-invalid upload takes the chat fallback; label lands in the collection") {
    val root = Files.createTempDirectory("graft_serve_live").toString
    val svc = new CaseSearchService(spark, root,
      DeterministicEmbedder(dim = 8), maxWords = PdfFixture.MaxWords,
      chatFallback = Some(HttpChatFallback.Config(
        endpoint = s"http://127.0.0.1:$fakePort/v1/chat/completions",
        model = "test-chat", retryBackoffMs = 1L)))
    val base = s"http://127.0.0.1:${svc.start()}"
    try {
      chatCalls.set(0)
      // case_2a.pdf: fixture pair 2 — no decision phrase, the cascade
      // (incl. the metadata retry) leaves it invalid
      val invalidPdf = Files.readAllBytes(
        Paths.get(PdfFixture.PdfDir, "case_2a.pdf"))
      val r = post(base, "/api/v1/ingest-legal-document", multipart(
        Seq("court_level" -> "2", "collection" -> "live_chat"),
        ("file", "case_2a.pdf", invalidPdf)))
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("\"case_decision\": \"appellant_won\""), r.body())
      assert(chatCalls.get() == 1, s"exactly one chat RPC, got ${chatCalls.get()}")
      // the validated label is on every written chunk row
      val written = spark.read.parquet(s"$root/live_chat")
        .select("case_decision").collect().map(_.getString(0))
      assert(written.nonEmpty && written.forall(_ == "appellant_won"),
        written.toSeq.toString)

      // a rule-matched upload must NOT pay a chat RPC (case_0a: "allow
      // the appeal" → appellant_won by the cascade itself)
      chatCalls.set(0)
      val wonPdf = Files.readAllBytes(Paths.get(PdfFixture.PdfDir, "case_0a.pdf"))
      val r2 = post(base, "/api/v1/ingest-legal-document", multipart(
        Seq("court_level" -> "2", "collection" -> "live_chat"),
        ("file", "case_0a.pdf", wonPdf)))
      assert(r2.statusCode() == 200, r2.body())
      assert(r2.body().contains("\"case_decision\": \"appellant_won\""))
      assert(chatCalls.get() == 0, "rule-matched rows never pay an RPC")
    } finally svc.stop()
  }

  test("remote embedder serves both ingest and search end to end") {
    val root = Files.createTempDirectory("graft_serve_live_emb").toString
    val svc = new CaseSearchService(spark, root,
      DeterministicEmbedder(dim = 8), maxWords = PdfFixture.MaxWords,
      remoteEmbedder = Some(HttpEmbedder.Config(
        endpoint = s"http://127.0.0.1:$fakePort/v1/embeddings",
        model = "test-model", retryBackoffMs = 1L)))
    val base = s"http://127.0.0.1:${svc.start()}"
    try {
      embedCalls.set(0)
      // ingest two fixture PDFs at level 3 (search at level 2 targets 3)
      Seq("case_0a.pdf", "case_1a.pdf").foreach { name =>
        val bytes = Files.readAllBytes(Paths.get(PdfFixture.PdfDir, name))
        val r = post(base, "/api/v1/ingest-legal-document", multipart(
          Seq("court_level" -> "3", "collection" -> "live_emb"),
          ("file", name, bytes)))
        assert(r.statusCode() == 200, r.body())
      }
      val afterIngest = embedCalls.get()
      assert(afterIngest >= 2, "each ingest embeds its chunks remotely")
      // written vectors are the fake server's, batched (≤1 RPC per
      // ingest here: each fixture doc chunks to ≤ a handful of rows)
      val emb = spark.read.parquet(s"$root/live_emb")
        .selectExpr("embedding[2]").collect().map(_.getFloat(0))
      assert(emb.nonEmpty && emb.forall(_ == 1.0f),
        "all vectors must come from the fake /embeddings server")

      // search embeds the query remotely and ranks over the collection
      val q = post(base, "/api/v1/search-similar-cases", multipart(
        Seq("court_level" -> "2", "collection" -> "live_emb"),
        ("case_file", "query.pdf",
          Files.readAllBytes(Paths.get(PdfFixture.PdfDir, "case_0b.pdf")))))
      assert(q.statusCode() == 200, q.body())
      assert(embedCalls.get() == afterIngest + 1,
        "search pays exactly one embeddings RPC")
      assert(q.body().contains("\"result_count\": 2"), q.body())
      // case_0b's text EQUALS case_0a's (fixture pairs are copies):
      // identical fake vectors ⇒ the nearest file is case_0a at L2 = 0
      val resultFiles = """"file_name": "([^"]+)"""".r
        .findAllMatchIn(q.body()).map(_.group(1))
        .filterNot(_ == "query.pdf").toSeq
      assert(resultFiles.headOption.contains("case_0a.pdf"), q.body())
      assert(q.body().contains("\"score\": 0.0"), q.body())
    } finally svc.stop()
  }

  test("an embedding-service outage on search answers 500, not an empty ranking") {
    val root = Files.createTempDirectory("graft_serve_live_down").toString
    val svc = new CaseSearchService(spark, root,
      DeterministicEmbedder(dim = 8), maxWords = PdfFixture.MaxWords,
      remoteEmbedder = Some(HttpEmbedder.Config(
        endpoint = s"http://127.0.0.1:$fakePort/v1/down", maxRetries = 0,
        dropFailedBatches = true)))
    val base = s"http://127.0.0.1:${svc.start()}"
    try {
      val q = post(base, "/api/v1/search-similar-cases", multipart(
        Seq("court_level" -> "2"),
        ("case_file", "query.pdf",
          Files.readAllBytes(Paths.get(PdfFixture.PdfDir, "case_0b.pdf")))))
      assert(q.statusCode() == 500, q.body())
      assert(q.body().contains("Embedding service failed to embed the query text"), q.body())
    } finally svc.stop()
  }
}
