package graft.classify

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** F8 HTTP chat client against a local fake OpenAI-compatible server:
  * prompt construction (system prompt carries the C3 context and the
  * enum; user content is the F7 conclusion), enum validation, retry on
  * transient statuses, both exhaustion policies, and the
  * only-invalid-rows-pay-an-RPC composition.
  * The fake answers from markers in the user content so expectations
  * stay local: "...WIN..." → appellant_won, "...LOSE..." →
  * appellant_lost, "...GIBBERISH..." → an out-of-enum string.
  */
class HttpChatFallbackSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _
  private val requests = new AtomicInteger(0)
  private val failuresToServe = new AtomicInteger(0)
  @volatile private var lastSystemPrompt: String = ""

  private def respond(ex: HttpExchange): Unit = {
    requests.incrementAndGet()
    if (failuresToServe.getAndUpdate(n => math.max(0, n - 1)) > 0) {
      ex.sendResponseHeaders(503, -1); ex.close(); return
    }
    val req = mapper.readTree(ex.getRequestBody)
    assert(req.get("model").asText() == "test-chat")
    assert(req.get("temperature").asDouble() == 0.3)
    assert(req.get("max_tokens").asInt() == 10)
    val msgs = req.get("messages")
    assert(msgs.size == 2)
    assert(msgs.get(0).get("role").asText() == "system")
    assert(msgs.get(1).get("role").asText() == "user")
    lastSystemPrompt = msgs.get(0).get("content").asText()
    val user = msgs.get(1).get("content").asText()
    val answer =
      if (user.contains("WIN")) "  Appellant_Won \n" // survives trim+lower
      else if (user.contains("LOSE")) "appellant_lost"
      else if (user.contains("GIBBERISH")) "the appeal outcome is unclear"
      else "invalid"
    val root = mapper.createObjectNode()
    val choices = root.putArray("choices")
    val msg = choices.addObject().putObject("message")
    msg.put("role", "assistant"); msg.put("content", answer)
    val bytes = mapper.writeValueAsBytes(root)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/chat/completions", respond _)
    server.start()
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  private def cfg(retries: Int = 3, failClosed: Boolean = false) =
    HttpChatFallback.Config(
      endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/v1/chat/completions",
      model = "test-chat", maxRetries = retries, retryBackoffMs = 1L,
      failClosed = failClosed)

  test("classifies rows, validates the enum, and builds both prompts") {
    import spark.implicits._
    requests.set(0)
    val docs = Seq(
      (1L, "the WIN marker", "an appellate tribunal order"),
      (2L, "the LOSE marker", "a legal document"),
      (3L, "GIBBERISH here", "a legal document"))
      .toDF("id", "conclusion", "ctx")
    val out = HttpChatFallback.decide(spark, docs, "id", "conclusion", "ctx",
        cfg()).as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "appellant_won", 2L -> "appellant_lost",
      3L -> "invalid")) // out-of-enum response coerced
    assert(requests.get() == 3)
    assert(lastSystemPrompt.contains("appellant_won")
      && lastSystemPrompt.contains("appellant_lost"))
  }

  test("retries transient statuses, then succeeds") {
    requests.set(0)
    failuresToServe.set(2)
    val d = HttpChatFallback.decideOne("the WIN marker", "a legal document", cfg())
    assert(d == "appellant_won")
    assert(requests.get() == 3) // 2 failures + 1 success
  }

  test("exhausted retries coerce to invalid by default, or fail closed") {
    failuresToServe.set(10)
    assert(HttpChatFallback.decideOne("WIN", "ctx", cfg(retries = 1))
      == "invalid")
    failuresToServe.set(10)
    intercept[RuntimeException] {
      HttpChatFallback.decideOne("WIN", "ctx", cfg(retries = 1, failClosed = true))
    }
    failuresToServe.set(0)
  }

  test("decideWithFallback: only cascade-invalid rows pay an RPC") {
    import spark.implicits._
    requests.set(0)
    val docs = Seq(
      // cascade match — must NOT hit the server
      (10L, "after hearing both sides we allow the appeal"),
      // no rule matches — goes to the model; conclusion carries no
      // marker so the fake answers "invalid"... marker via text below
      (11L, "the parties WIN argued at length about procedure"))
      .toDF("doc_id", "text")
    val out = HttpChatFallback.decideWithFallback(spark, docs,
        $"doc_id", $"text", cfg())
      .as[(Long, String)].collect().toMap
    assert(out(10L) == "appellant_won")
    assert(out(11L) == "appellant_won") // fake saw WIN in the conclusion
    assert(requests.get() == 1, s"matched row must not call the model")
  }

  test("enum validation is exact after trim+lowercase") {
    assert(HttpChatFallback.validated(" Appellant_Won \n") == "appellant_won")
    assert(HttpChatFallback.validated("APPELLANT_LOST") == "appellant_lost")
    assert(HttpChatFallback.validated("invalid") == "invalid")
    assert(HttpChatFallback.validated("appellant won") == "invalid")
    assert(HttpChatFallback.validated("") == "invalid")
  }
}
