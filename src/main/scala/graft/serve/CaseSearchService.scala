package graft.serve

import java.io.InputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Ingest
import graft.embed.Embedder
import graft.sources.{FileStamp, PdfTextExtractor}
import graft.stats.WinStats
import graft.text.ChunkPacker
import graft.vector.{Distance, Knn}

/** The reference's HTTP serving surface (S3 multipart source, X3 health
  * probe, X4 CORS) on the JDK's built-in `HttpServer` — no framework,
  * no new dependencies. Route-for-route analog of
  * `/root/reference/extract_and_search_v2.py:297-443`:
  *
  *   - `POST /api/v1/search-similar-cases` — multipart `court_level` +
  *     `case_file` (+ optional `collection`): PDF → S1 text extraction →
  *     F1/F2 chunking → F5 representative (first-chunk) embedding →
  *     filtered KNN at `court_level + 1` → per-file best-hit dedup →
  *     ascending top-5 → A1–A3 win statistics, answered in the README
  *     golden JSON shape (`/root/reference/README.md:17-64`).
  *   - `POST /api/v1/ingest-legal-document` — multipart `file` +
  *     `court_level` (+ `collection`): the §3.2 ingest pipeline
  *     ([[Ingest.chunkTableOf]]) appended to the collection's parquet,
  *     partitioned by `court_level`.
  *   - `GET /api/v1/health` — static JSON
  *     (`extract_and_embed.py:203-205`).
  *   - CORS: all origins on every `/api/` route
  *     (`extract_and_search_v2.py:25`),
  *     including `OPTIONS` preflight.
  *
  * Request bodies are capped at 16 MB (`MAX_CONTENT_LENGTH`,
  * `extract_and_embed.py:20`) → 413. Uploads never touch disk: the
  * reference spools to a temp file only because PyMuPDF wants a path;
  * [[PdfTextExtractor]] reads the bytes directly.
  *
  * A "collection" is a parquet directory under `root` — the vector
  * store analog where Milvus held the `case_files` collection. Search
  * reads it with the `court_level` filter pushed into partition
  * pruning, so per-request cost is the one target level, not the
  * corpus, and reuses its frame until a part file changes.
  *
  * == Live clients ==
  *
  * By default the service embeds with the deterministic in-plan
  * `embedder` and classifies with the regex cascade only — the
  * reproducible configuration the correctness gates run. Production
  * wiring mirrors `extract_and_embed_v2.py:432-492`:
  *
  *  - `remoteEmbedder = Some(cfg)` routes BOTH ingest chunk embedding
  *    ([[Ingest.chunkTableRemote]] — batched, one RPC per partition
  *    batch) and the search path's representative-chunk embedding
  *    through the OpenAI-compatible `/embeddings` client (F4);
  *  - `chatFallback = Some(cfg)` gives ingest the gpt-4o tail (F8):
  *    only when the C1 cascade (with the C4 metadata retry) leaves the
  *    upload `invalid` does the request pay one chat RPC over the F7
  *    conclusion + C3 context, enum-validated like
  *    `extract_and_embed_v2.py:295-297`. Search stays regex-only —
  *    the reference's search service has no AI fallback
  *    (`extract_and_search_v2.py:173-232`).
  */
final class CaseSearchService(spark: SparkSession, root: String,
                              embedder: Embedder, maxWords: Int = 400,
                              remoteEmbedder: Option[graft.embed.HttpEmbedder.Config] = None,
                              chatFallback: Option[graft.classify.HttpChatFallback.Config] = None) {

  import CaseSearchService._

  private var server: HttpServer = _
  private var requests: ExecutorService = _
  private val frames = new ConcurrentHashMap[String, CachedFrame]()

  /** Bound port after [[start]]. */
  def port: Int = server.getAddress.getPort

  /** Request threads are named `graft-serve-<port>-<n>`. */
  def start(requestedPort: Int = 0): Int = synchronized {
    require(server == null, "already started")
    Files.createDirectories(Paths.get(root))
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", requestedPort), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    requests = Executors.newFixedThreadPool(RequestThreads, requestThreadFactory(port))
    server.setExecutor(requests)
    server.start()
    port
  }

  /** Stops the listener, then the request pool: a request already
    * running gets [[StopTimeoutSeconds]] to finish before it is
    * interrupted, so an embedding JVM can exit after `stop()`.
    */
  def stop(): Unit = synchronized {
    if (server != null) {
      server.stop(0); server = null
      requests.shutdown()
      if (!requests.awaitTermination(StopTimeoutSeconds, TimeUnit.SECONDS))
        requests.shutdownNow()
      requests = null
    }
  }

  // ------------------------------------------------------------------ //
  // Routing                                                            //
  // ------------------------------------------------------------------ //

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod.toUpperCase
    try {
      if (path.startsWith("/api/")) corsHeaders(ex)
      (method, path) match {
        case ("OPTIONS", p) if p.startsWith("/api/") =>
          reply(ex, 204, None)
        case ("GET", "/api/v1/health") =>
          reply(ex, 200, Some(JObj.of(
            "status" -> JStr("healthy"),
            "service" -> JStr("legal-case-search-api")).render))
        case ("POST", "/api/v1/search-similar-cases") =>
          withBody(ex)(body => search(ex, body))
        case ("POST", "/api/v1/maxsim-search") =>
          withBody(ex)(body => maxsimSearch(ex, body))
        case ("POST", "/api/v1/ingest-legal-document") =>
          withBody(ex)(body => ingest(ex, body))
        case _ =>
          replyJson(ex, 404, JObj.of("error" -> JStr("Not found")))
      }
    } catch {
      case e: Throwable =>
        replyJson(ex, 500,
          JObj.of("error" -> JStr(Option(e.getMessage).getOrElse(e.toString))))
    } finally ex.close()
  }

  private def withBody(ex: HttpExchange)(f: Array[Byte] => Unit): Unit =
    readCapped(ex.getRequestBody, MaxContentLength) match {
      case None =>
        // drain so the client can finish writing and read the status
        val buf = new Array[Byte](64 * 1024)
        while (ex.getRequestBody.read(buf) >= 0) {}
        replyJson(ex, 413, JObj.of("error" -> JStr("Request entity too large")))
      case Some(body) => f(body)
    }

  private def parts(ex: HttpExchange, body: Array[Byte]): Seq[Multipart.Part] =
    Multipart.boundary(Option(ex.getRequestHeaders.getFirst("Content-Type"))
        .getOrElse(""))
      .map(Multipart.parse(body, _)).getOrElse(Nil)

  // ------------------------------------------------------------------ //
  // POST /api/v1/search-similar-cases                                  //
  // (extract_and_search_v2.py:297-418 — same validations, same order)  //
  // ------------------------------------------------------------------ //

  /** Shared multipart validation cascade for the search-shaped routes
    * (same checks, same error strings, same order as the reference's
    * handler) — on success hands (court_level, form, file part) to the
    * route body.
    */
  private def withSearchRequest(ex: HttpExchange, body: Array[Byte])(
      run: (Int, Map[String, String], Multipart.Part) => Unit): Unit = {
    val ps = parts(ex, body)
    val form = ps.filter(_.filename.isEmpty).map(p => p.name -> p.text).toMap
    form.get("court_level") match {
      case None =>
        replyJson(ex, 400, JObj.of("error" -> JStr("Missing court_level parameter")))
      case Some(levelRaw) => levelRaw.trim.toIntOption match {
        case None =>
          replyJson(ex, 400,
            JObj.of("error" -> JStr("Invalid court_level. It must be an integer.")))
        case Some(level) =>
          ps.find(p => p.name == "case_file" && p.filename.isDefined) match {
            case None =>
              replyJson(ex, 400, JObj.of("error" -> JStr("No case_file in the request")))
            case Some(file) if file.filename.exists(_.isEmpty) =>
              replyJson(ex, 400, JObj.of("error" -> JStr("No file selected")))
            case Some(file) if !file.filename.exists(_.toLowerCase.endsWith(".pdf")) =>
              replyJson(ex, 400, JObj.of("error" -> JStr("Only PDF files are supported")))
            case Some(file) => run(level, form, file)
          }
      }
    }
  }

  /** The reference's response shape for a ranked result set (rows in
    * their serving order) + the A1–A3 statistics recomputed over them.
    */
  private def searchResponse(ex: HttpExchange, level: Int, fileName: String,
      rows: Seq[(String, String, String, Double)]): Unit = {
    val results = rows.map { case (fid, fname, dec, score) =>
      JObj.of("file_id" -> JStr(fid), "file_name" -> JStr(fname),
        "case_decision" -> JStr(dec), "score" -> JDouble(score))
    }
    val winCount = rows.count(_._3 == WinStats.Won)
    val totalValid = rows.count(r =>
      r._3 == WinStats.Won || r._3 == WinStats.Lost)
    val pct =
      if (totalValid > 0)
        math.rint(winCount * 100.0 / totalValid * 100.0) / 100.0
      else 0.0
    replyJson(ex, 200, JObj.of(
      "status" -> JStr("success"),
      "query" -> JObj.of(
        "input_court_level" -> JLong(level.toLong),
        "target_court_level" -> JLong((level + 1).toLong),
        "file_name" -> JStr(fileName)),
      "results" -> JArr(results),
      "result_count" -> JLong(rows.size.toLong),
      "appellant_statistics" -> JObj.of(
        "win_percentage" -> JDouble(pct),
        "win_count" -> JLong(winCount.toLong),
        "total_valid_decisions" -> JLong(totalValid.toLong),
        "invalid_decisions" -> JLong((rows.size - totalValid).toLong))))
  }

  private def search(ex: HttpExchange, body: Array[Byte]): Unit =
    withSearchRequest(ex, body) { (level, form, file) =>
      val collection = form.getOrElse("collection", DefaultCollection)
      val fileName = baseName(file.filename.get)
      val text = PdfTextExtractor.extract(file.data)
      ChunkPacker.chunkText(text, maxWords).headOption match {
        case None =>
          replyJson(ex, 500, JObj.of(
            "error" -> JStr("Failed to generate embedding from the document")))
        case Some(representative) =>
          searchResponse(ex, level, fileName,
            topMatches(representative, level + 1, collection))
      }
    }

  /** The embedding of each query text, in text order, by the local or
    * the remote embedder, collected to the driver. The local embedder
    * computes it there ([[Embedder.vectors]]), with no query and no job.
    * With `cfg.dropFailedBatches` the remote client drops the rows of a
    * batch that exhausted its retries; ranking without them would render
    * an embedding-service outage as a legitimate result. Surface it as
    * the 500 it is (the outer handler turns this throw into an error
    * reply).
    */
  private def embedQueries(texts: Seq[String]): Seq[Array[Float]] = {
    val vectors = remoteEmbedder match {
      case Some(cfg) =>
        import spark.implicits._
        val ids = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("chunk_id", "__t")
        graft.embed.HttpEmbedder.embed(spark, ids, "chunk_id", "__t", cfg)
          .select(col("chunk_id"), col("embedding")).collect()
          .filter(!_.isNullAt(1)).sortBy(_.getLong(0))
          .map(_.getSeq[Float](1).toArray).toSeq
      case None => embedder.vectors(spark, texts)
    }
    if (vectors.size < texts.size)
      throw new RuntimeException("Embedding service failed to embed the query text")
    vectors
  }

  /** The flagship plan against one collection: pushed `court_level`
    * partition filter → L2 score against the query vector, bound as a
    * literal ([[Knn.vectorLit]]) → per-file best hit → ascending top-5,
    * all in one Spark job ([[Knn.nearestGroups]]). The literal array is
    * a codegen reference object, so every request reuses the same
    * generated class. Chunks without an embedding never rank, as Milvus
    * cannot hold a null vector.
    */
  private def topMatches(representative: String, targetLevel: Int,
                         collection: String): Seq[(String, String, String, Double)] = {
    val vec = embedQueries(Seq(representative)).head
    val scored = collectionFrame(collection)
      .where(col("court_level") === targetLevel)
      .select(col("chunk_id"), col("file_id"), col("file_name"),
        col("case_decision"),
        round(Distance.l2(col("embedding"), Knn.vectorLit(vec)), 4).as("score"))
    Knn.nearestGroups(scored, 5, col("file_id"), col("chunk_id"))
      .map(r => (r.getString(1), r.getString(2), r.getString(3), r.getDouble(4)))
      .toSeq
  }

  // ------------------------------------------------------------------ //
  // POST /api/v1/maxsim-search — extension route (no reference analog) //
  // ------------------------------------------------------------------ //

  /** Multi-vector late-interaction search: where the flagship route
    * reduces the query document to its FIRST chunk (the reference's
    * representative shortcut, `extract_and_search.py:86-87`), this
    * route embeds EVERY query chunk and ranks target-level documents
    * by [[graft.search.MaxSim]] (Σ per query chunk of its best
    * corpus-chunk cosine) — each query facet matches its own best
    * chunk. Same multipart contract, validations, and response shape
    * as the flagship route; `k` is an optional form field (default 5);
    * scores are similarities, so results order DESCENDING.
    */
  private def maxsimSearch(ex: HttpExchange, body: Array[Byte]): Unit =
    withSearchRequest(ex, body) { (level, form, file) =>
      form.get("k").map(_.trim) match {
        case Some(kRaw) if kRaw.toIntOption.forall(_ <= 0) =>
          replyJson(ex, 400,
            JObj.of("error" -> JStr("Invalid k. It must be a positive integer.")))
        case kOpt =>
          val k = kOpt.flatMap(_.toIntOption).getOrElse(5)
          val collection = form.getOrElse("collection", DefaultCollection)
          val fileName = baseName(file.filename.get)
          val chunks = ChunkPacker.chunkText(
            PdfTextExtractor.extract(file.data), maxWords)
          if (chunks.isEmpty)
            replyJson(ex, 500, JObj.of(
              "error" -> JStr("Failed to generate embedding from the document")))
          else
            searchResponse(ex, level, fileName,
              maxsimMatches(chunks, level + 1, collection, k))
      }
    }

  /** MaxSim over one collection: every query chunk embedded (local or
    * remote embedder — an embedding-service outage surfaces as the 500
    * it is, same contract as [[topMatches]]), document keys derived as
    * `xxhash64(file_id)` for the numeric-id kernel and joined back for
    * the response columns. Collected rows are bounded at k.
    */
  private def maxsimMatches(chunks: Seq[String], targetLevel: Int,
      collection: String, k: Int): Seq[(String, String, String, Double)] = {
    val qvecs = {
      import spark.implicits._
      embedQueries(chunks).zipWithIndex.map { case (v, i) => (0L, i.toLong, v) }
        .toDF("query_id", "qvec_id", "qvec")
    }
    val corpus = collectionFrame(collection)
      .where(col("court_level") === targetLevel)
      .select(xxhash64(col("file_id")).as("doc_key"),
        col("file_id"), col("file_name"), col("case_decision"),
        col("embedding"))
    val top = graft.search.MaxSim.maxSimTopK(
      corpus.select(col("doc_key"), col("embedding")),
      col("doc_key"), col("embedding"),
      qvecs, col("query_id"), col("qvec_id"), col("qvec"), k)
    val meta = corpus
      .select(col("doc_key"), col("file_id"), col("file_name"),
        col("case_decision")).distinct()
    top.join(meta, top("doc_id") === meta("doc_key"))
      .orderBy("rank")
      .select(col("file_id"), col("file_name"), col("case_decision"),
        col("score").cast("double"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
      .toSeq
  }

  // ------------------------------------------------------------------ //
  // POST /api/v1/ingest-legal-document                                 //
  // (extract_and_search_v2.py:379-443)                                 //
  // ------------------------------------------------------------------ //

  private def ingest(ex: HttpExchange, body: Array[Byte]): Unit = {
    val ps = parts(ex, body)
    val form = ps.filter(_.filename.isEmpty).map(p => p.name -> p.text).toMap
    ps.find(p => p.name == "file" && p.filename.isDefined) match {
      case None =>
        replyJson(ex, 400, JObj.of("error" -> JStr("No file part in the request")))
      case Some(file) if file.filename.exists(_.isEmpty) =>
        replyJson(ex, 400, JObj.of("error" -> JStr("No file selected")))
      case Some(file) if !file.filename.exists(_.toLowerCase.endsWith(".pdf")) =>
        replyJson(ex, 400, JObj.of("error" -> JStr("Only PDF files are supported")))
      case Some(file) =>
        val collection = form.getOrElse("collection", DefaultCollection)
        form.get("court_level").flatMap(_.trim.toIntOption) match {
          case None =>
            replyJson(ex, 400, JObj.of(
              "error" -> JStr("Invalid or missing court_level. It must be an integer.")))
          case Some(level) =>
            import spark.implicits._
            val fileName = baseName(file.filename.get)
            val text = PdfTextExtractor.extract(file.data)
            val attrs0 = Ingest.namedDocumentAttributes(
              Seq((fileName, text)).toDF("__name", "__text"),
              col("__name"), col("__text"), lit(level))
            val ruleDecision = attrs0.select(col("case_decision"))
              .head().getString(0)
            // F8 tail: only a cascade-invalid upload pays the chat RPC
            // (`extract_and_embed_v2.py:146-156`); the validated label
            // replaces `invalid` on every written chunk row
            val decision = chatFallback match {
              case Some(cfg)
                  if ruleDecision == graft.classify.DecisionRules.Invalid =>
                val row = attrs0.select(
                  graft.classify.Conclusion.extractCol(
                    col("doc_text"), col("document_type")),
                  graft.classify.Cascades.docContext(col("doc_text"))).head()
                graft.classify.HttpChatFallback.decideDocument(
                  row.getString(0), row.getString(1), cfg)
              case _ => ruleDecision
            }
            val attrs =
              if (decision == ruleDecision) attrs0
              else attrs0.withColumn("case_decision", lit(decision))
            val chunks = (remoteEmbedder match {
              case Some(cfg) => Ingest.chunkTableRemote(spark, attrs, cfg, maxWords)
              case None => Ingest.chunkTableOf(spark, attrs, embedder, maxWords)
            }).cache()
            val inserted =
              try {
                val n = chunks.count()
                Ingest.write(chunks, collectionPath(collection))
                n
              } finally chunks.unpersist()
            replyJson(ex, 200, JObj.of(
              "status" -> JStr("success"),
              "message" -> JStr("Document processed successfully"),
              "chunks_inserted" -> JLong(inserted),
              "case_decision" -> JStr(decision),
              "collection" -> JStr(collection)))
        }
    }
  }

  // ------------------------------------------------------------------ //
  // Plumbing                                                           //
  // ------------------------------------------------------------------ //

  private def collectionPath(collection: String): String = {
    val safe = collection.filter(c => c.isLetterOrDigit || c == '_' || c == '-')
    require(safe.nonEmpty, s"invalid collection name: $collection")
    Paths.get(root).resolve(safe).toString
  }

  /** A collection's frame, reused while its [[FileStamp]] holds:
    * `spark.read.parquet` lists the files and infers the schema with a
    * Spark job, which would otherwise be most of a search's cost. The
    * stamp is taken before the read, so a write that lands in between
    * only makes the next request read again.
    */
  private def collectionFrame(collection: String): DataFrame = {
    val p = collectionPath(collection)
    if (!Files.exists(Paths.get(p)))
      throw new IllegalArgumentException(s"collection not found: $collection")
    val hp = new org.apache.hadoop.fs.Path(p)
    val stamp = FileStamp.parquet(
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp).stamp
    val hit = frames.get(p)
    if (hit != null && hit.stamp == stamp) hit.frame
    else {
      val frame = spark.read.parquet(p)
      frames.put(p, CachedFrame(stamp, frame))
      frame
    }
  }

  private def corsHeaders(ex: HttpExchange): Unit = {
    val h = ex.getResponseHeaders
    h.set("Access-Control-Allow-Origin", "*")
    h.set("Access-Control-Allow-Methods", "GET, POST, OPTIONS")
    h.set("Access-Control-Allow-Headers", "Content-Type")
  }

  private def replyJson(ex: HttpExchange, code: Int, body: JObj): Unit =
    reply(ex, code, Some(body.render))

  private def reply(ex: HttpExchange, code: Int, body: Option[String]): Unit =
    body match {
      case Some(s) =>
        val bytes = s.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(code, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      case None =>
        ex.sendResponseHeaders(code, -1L)
    }
}

object CaseSearchService {

  /** `MAX_CONTENT_LENGTH` — `/root/reference/extract_and_embed.py:20`. */
  val MaxContentLength: Int = 16 * 1024 * 1024

  /** Default collection name — `extract_and_embed.py:164`. */
  val DefaultCollection = "case_files"

  private final case class CachedFrame(stamp: Seq[(String, Long, Long)], frame: DataFrame)

  private val RequestThreads = 4
  private val StopTimeoutSeconds = 10L

  private def requestThreadFactory(port: Int): ThreadFactory = {
    val n = new AtomicInteger()
    (r: Runnable) => new Thread(r, s"graft-serve-$port-${n.incrementAndGet()}")
  }

  /** `secure_filename` analog: strip any path components. */
  private[serve] def baseName(name: String): String = {
    val cut = math.max(name.lastIndexOf('/'), name.lastIndexOf('\\'))
    name.substring(cut + 1)
  }

  /** Read at most `cap` bytes; `None` when the stream exceeds the cap. */
  private[serve] def readCapped(in: InputStream, cap: Int): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n)
      if (out.size > cap) return None
      n = in.read(buf)
    }
    Some(out.toByteArray)
  }
}
