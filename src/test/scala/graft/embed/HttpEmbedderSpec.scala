package graft.embed

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** F4 HTTP client against a local fake OpenAI-compatible server: batch
  * granularity (the fix for the reference's 1-RPC-per-chunk loop),
  * index-based realignment, retry on transient statuses, and both
  * exhaustion policies. The fake embeds text t as
  * [t.length, sum(code points) mod 1000] so expectations are local.
  */
class HttpEmbedderSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _
  private val requests = new AtomicInteger(0)
  private val failuresToServe = new AtomicInteger(0)

  private def fakeVec(t: String): Seq[Double] =
    Seq(t.length.toDouble, (t.map(_.toInt).sum % 1000).toDouble)

  private def respond(ex: HttpExchange): Unit = {
    requests.incrementAndGet()
    if (failuresToServe.getAndUpdate(n => math.max(0, n - 1)) > 0) {
      ex.sendResponseHeaders(503, -1); ex.close(); return
    }
    val req = mapper.readTree(ex.getRequestBody)
    assert(req.get("model").asText() == "test-model")
    val inputs = (0 until req.get("input").size).map(req.get("input").get(_).asText())
    val root = mapper.createObjectNode()
    val data = root.putArray("data")
    // serve indices in REVERSE order — correct clients realign by index
    inputs.indices.reverse.foreach { i =>
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

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/embeddings", respond _)
    server.start()
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  private def cfg(batchSize: Int = 4, retries: Int = 3, drop: Boolean = false) =
    HttpEmbedder.Config(
      endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/v1/embeddings",
      model = "test-model", batchSize = batchSize, maxRetries = retries,
      retryBackoffMs = 1L, dropFailedBatches = drop)

  test("embeds every row with batched requests, realigned by index") {
    import spark.implicits._
    requests.set(0)
    val texts = (0 until 10).map(i => (i.toLong, s"chunk number $i"))
    val df = texts.toDF("id", "text").repartition(1)
    val out = HttpEmbedder.embed(spark, df, "id", "text", cfg(batchSize = 4))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    assert(out.length == 10)
    out.foreach { case (id, v) =>
      val expect = fakeVec(s"chunk number $id")
      assert(v.toSeq.map(_.toDouble) == expect, s"row $id")
    }
    // 10 rows at batch 4 in one partition = 3 requests, not 10 —
    // the reference's pathology is exactly requests == rows
    assert(requests.get() == 3, s"expected 3 batched requests, saw ${requests.get()}")
  }

  test("transient failures retry and then succeed") {
    import spark.implicits._
    requests.set(0)
    failuresToServe.set(2)
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text").repartition(1)
    val out = HttpEmbedder.embed(spark, df, "id", "text", cfg())
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    assert(out.length == 2)
    assert(out(0)._2.toSeq.map(_.toDouble) == fakeVec("alpha"))
    assert(requests.get() == 3, "two 503s then one success")
  }

  test("exhausted retries drop the batch when configured") {
    import spark.implicits._
    failuresToServe.set(100)
    try {
      val df = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text").repartition(1)
      val out = HttpEmbedder.embed(spark, df, "id", "text",
        cfg(retries = 1, drop = true)).collect()
      assert(out.isEmpty, "failed batch must be dropped, not partially kept")
    } finally failuresToServe.set(0)
  }

  test("exhausted retries fail the job by default") {
    import spark.implicits._
    failuresToServe.set(100)
    try {
      val df = Seq((1L, "alpha")).toDF("id", "text").repartition(1)
      val e = intercept[org.apache.spark.SparkException] {
        HttpEmbedder.embed(spark, df, "id", "text", cfg(retries = 1)).collect()
      }
      assert(e.getMessage.contains("embedding batch") ||
        (e.getCause != null && e.getCause.getMessage.contains("embedding batch")))
    } finally failuresToServe.set(0)
  }

  test("request body is the documented OpenAI array-input shape") {
    val json = HttpEmbedder.requestJson(Seq("a \"quoted\" text", "b"), "m")
    val tree = mapper.readTree(json)
    assert(tree.get("model").asText() == "m")
    assert(tree.get("input").size == 2)
    assert(tree.get("input").get(0).asText() == "a \"quoted\" text")
  }
}
