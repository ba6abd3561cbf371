package graft.embed

import java.io.{ByteArrayOutputStream, InputStream}
import java.net.{HttpURLConnection, URI}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}

/** F4 — the real (remote) embedding transform, batched per partition.
  *
  * The reference embeds one chunk per HTTPS round-trip, sequentially,
  * inside the request thread (`/root/reference/extract_and_embed.py
  * :99-115` — the worst scaling pathology in the repo: a 1000-chunk
  * document is 1000 serial RPCs). This client fixes the shape without
  * changing the contract: chunks stream through `mapPartitions`, each
  * task posts `batchSize` texts per request to an OpenAI-compatible
  * `/embeddings` endpoint (the API accepts an ARRAY input — the
  * reference just never uses it), and partitions embed in parallel
  * across the cluster. At 100 TB the embedding service, not Spark, is
  * the bottleneck; requests-per-text is the one dial that matters and
  * batching divides it by `batchSize`.
  *
  * Wire format (request `{"model":…,"input":[…]}`, response
  * `{"data":[{"index":i,"embedding":[…]},…]}`) follows the published
  * OpenAI embeddings API; rows realign by the response `index` field,
  * never by array position. JSON travels through Jackson, which Spark
  * already ships — no new dependency.
  *
  * Failure semantics are configurable and explicit where the reference
  * was silent: transient statuses (408/429/5xx) retry with linear
  * backoff up to `maxRetries`; a batch that still fails either fails
  * the task (default — a training corpus with silently missing rows is
  * worse than a failed job) or, with `dropFailedBatches = true`, drops
  * those rows like the reference's per-chunk `except: continue`.
  *
  * This client is external-world I/O and therefore NOT part of the
  * deterministic correctness surface (SURVEY §7.3): the oracle gate
  * runs on [[DeterministicEmbedder]]; this class is unit-tested against
  * a local fake server instead.
  */
object HttpEmbedder {

  final case class Config(
      endpoint: String,
      model: String = "text-embedding-ada-002",
      apiKey: Option[String] = None,
      batchSize: Int = 64,
      maxRetries: Int = 3,
      retryBackoffMs: Long = 200L,
      connectTimeoutMs: Int = 5000,
      readTimeoutMs: Int = 60000,
      dropFailedBatches: Boolean = false) {
    require(batchSize > 0, "batchSize must be positive")
    require(maxRetries >= 0, "maxRetries must be non-negative")
  }

  /** Embed `textCol` for every row of `chunks` → (id, embedding) rows.
    * One HTTP request per `batchSize` texts per partition; tasks run
    * the requests in parallel, so total wall-clock is
    * `ceil(rows / batchSize / parallelism)` round-trips.
    */
  def embed(spark: SparkSession, chunks: DataFrame,
            idCol: String, textCol: String, cfg: Config): DataFrame = {
    import spark.implicits._
    chunks.selectExpr(s"CAST($idCol AS BIGINT)", textCol).as[(Long, String)]
      .mapPartitions { rows =>
        rows.grouped(cfg.batchSize).flatMap { batch =>
          embedBatch(batch.map(_._2), cfg) match {
            case Some(vecs) =>
              batch.iterator.zip(vecs.iterator).map { case ((id, _), v) => (id, v) }
            case None => Iterator.empty // dropFailedBatches path
          }
        }
      }
      .toDF(idCol, "embedding")
  }

  // Jackson is thread-safe after configuration; one instance per JVM.
  private lazy val mapper = new ObjectMapper()

  /** One `/embeddings` request for a batch of texts, with retries.
    * Returns the vectors in input order (realigned via the response
    * `index` field), `None` when the batch was dropped, throws when
    * retries are exhausted and dropping is not enabled.
    */
  private[embed] def embedBatch(texts: Seq[String], cfg: Config): Option[Seq[Array[Float]]] = {
    val body = {
      val root = mapper.createObjectNode()
      root.put("model", cfg.model)
      val arr = root.putArray("input")
      texts.foreach(arr.add)
      mapper.writeValueAsBytes(root)
    }
    var attempt = 0
    while (true) {
      try {
        return Some(postOnce(body, texts.size, cfg))
      } catch {
        case _: RetryableFailure if attempt < cfg.maxRetries =>
          attempt += 1
          Thread.sleep(cfg.retryBackoffMs * attempt)
        case e: Exception =>
          if (cfg.dropFailedBatches) return None
          throw new RuntimeException(
            s"embedding batch of ${texts.size} failed after $attempt retries", e)
      }
    }
    None // unreachable
  }

  private final class RetryableFailure(msg: String) extends RuntimeException(msg)

  private def postOnce(body: Array[Byte], n: Int, cfg: Config): Seq[Array[Float]] = {
    val conn = URI.create(cfg.endpoint).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(cfg.connectTimeoutMs)
      conn.setReadTimeout(cfg.readTimeoutMs)
      conn.setRequestProperty("Content-Type", "application/json")
      cfg.apiKey.foreach(k => conn.setRequestProperty("Authorization", s"Bearer $k"))
      conn.setDoOutput(true)
      conn.getOutputStream.write(body)
      val status = conn.getResponseCode
      if (status == 408 || status == 429 || status >= 500)
        throw new RetryableFailure(s"transient status $status")
      if (status != 200)
        throw new RuntimeException(s"embeddings endpoint returned $status")
      parseResponse(conn.getInputStream, n)
    } finally conn.disconnect()
  }

  private def readAll(in: InputStream): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    var k = in.read(tmp)
    while (k >= 0) { buf.write(tmp, 0, k); k = in.read(tmp) }
    in.close()
    buf.toByteArray
  }

  private def parseResponse(in: InputStream, n: Int): Seq[Array[Float]] = {
    val root = mapper.readTree(readAll(in))
    val data = root.get("data")
    require(data != null && data.isArray && data.size == n,
      s"expected $n embeddings, got ${if (data == null) "none" else data.size.toString}")
    val out = new Array[Array[Float]](n)
    data.forEach { item =>
      val idx = item.get("index").asInt()
      require(idx >= 0 && idx < n && out(idx) == null, s"bad/duplicate index $idx")
      val emb = item.get("embedding")
      val v = new Array[Float](emb.size)
      var j = 0
      while (j < v.length) { v(j) = emb.get(j).floatValue(); j += 1 }
      out(idx) = v
    }
    out.toSeq
  }

  /** For tests: the exact request JSON this client sends. */
  private[embed] def requestJson(texts: Seq[String], model: String): String = {
    val root = mapper.createObjectNode()
    root.put("model", model)
    val arr = root.putArray("input")
    texts.foreach(arr.add)
    mapper.writeValueAsString(root)
  }
}
