package perfbench

import java.io.ByteArrayOutputStream
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import java.nio.file.Paths
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Ingest
import graft.embed.DeterministicEmbedder
import graft.serve.CaseSearchService
import graft.sources.PdfTextExtractor
import graft.text.ChunkPacker
import graft.vector.{Distance, Knn}

import Main.timeS

/** `search_closed`: a collection of seeded 1536-dim chunk rows, written
  * through the ingest sink, served by `CaseSearchService` in-process;
  * two closed-loop clients POST distinct query PDFs to
  * `/api/v1/search-similar-cases`. The collection does not change while
  * requests are timed.
  */
object SearchClosed {

  val Dim = 1536
  val Levels = 4
  val FilesPerLevel = 150
  val Clients = 2
  val WarmRequests = 2
  val TracedRequests = 6

  /** 0.8 requests per second of `--seconds`: two clients at the
    * 1.5-1.9 s per request the route takes at dim 1536 on 4 cores; 12
    * requests at the 15 s that BENCHMARK.json sets.
    */
  def timedRequests(seconds: Int): Int = math.max(4, math.round(0.8 * seconds).toInt)

  final case class ChunkRow(chunkId: Long, fileId: String, fileName: String,
                            level: Int, decision: String, emb: Array[Float], text: String)
  final case class Query(name: String, level: Int, pdf: Array[Byte], want: Seq[Checks.Hit],
                         bestByFile: Map[String, Double])

  private val Schema = StructType(Seq(
    StructField("chunk_id", LongType), StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("file_name", StringType), StructField("file_id", StringType),
    StructField("court_level", IntegerType), StructField("case_decision", StringType),
    StructField("doc_key", StringType), StructField("chunk_idx", IntegerType),
    StructField("n_words", LongType), StructField("document_type", StringType)))

  /** The collection: `Levels` x `FilesPerLevel` files of 1-6 chunks
    * each, decisions drawn won/lost/invalid with equal odds. All of these
    * sizes are assumptions, not measured from a real collection.
    */
  def collection(r: Random): Seq[ChunkRow] = {
    var id = 0L
    for {
      lvl <- 1 to Levels
      f <- 0 until FilesPerLevel
      name = f"case_L${lvl}_$f%04d.pdf"
      dec = Seq(Gen.Won, Gen.Lost, Gen.NoMatch)(r.nextInt(3))
      c <- 0 until 1 + r.nextInt(6)
    } yield {
      id += 1
      ChunkRow(id, Checks.sha256Hex(name), name, lvl, dec,
        Array.fill(Dim)(((r.nextInt(2000001) - 1000000) / 1000000.0).toFloat),
        Gen.words(r, 60).mkString(" "))
    }
  }

  private def write(spark: SparkSession, rows: Seq[ChunkRow], path: String): Unit = {
    val df = spark.createDataFrame(rows.zipWithIndex.map { case (c, i) =>
      Row(c.chunkId, c.text, c.emb.toSeq, c.fileName, c.fileId, c.level, c.decision,
        c.fileName, i % 6, 60L, "high_court")
    }.asJava, Schema)
    Ingest.write(df, path)
  }

  // ---- the HTTP client -----------------------------------------------------

  private val mapper = new ObjectMapper()

  /** POST one multipart search; returns (status, body). */
  def post(port: Int, level: Int, name: String, pdf: Array[Byte]): (Int, String) = {
    val boundary = "----perfbench" + java.lang.Long.toHexString(System.nanoTime())
    val body = new ByteArrayOutputStream()
    def w(s: String): Unit = body.write(s.getBytes(StandardCharsets.UTF_8))
    w(s"--$boundary\r\nContent-Disposition: form-data; name=\"court_level\"\r\n\r\n$level\r\n")
    w(s"--$boundary\r\nContent-Disposition: form-data; name=\"case_file\"; filename=\"$name\"\r\n" +
      "Content-Type: application/pdf\r\n\r\n")
    body.write(pdf)
    w(s"\r\n--$boundary--\r\n")
    val conn = new URL(s"http://127.0.0.1:$port/api/v1/search-similar-cases")
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST"); conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", s"multipart/form-data; boundary=$boundary")
    conn.getOutputStream.write(body.toByteArray)
    conn.getOutputStream.close()
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = if (in == null) "" else new String(in.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (code, text)
  }

  def parseReply(body: String): Checks.Reply = {
    val j = mapper.readTree(body)
    val stats = j.get("appellant_statistics")
    Checks.Reply(
      j.get("results").elements().asScala.map(h => Checks.Hit(h.get("file_id").asText,
        h.get("file_name").asText, h.get("case_decision").asText, h.get("score").asDouble)).toSeq,
      stats.get("win_percentage").asDouble, stats.get("win_count").asLong,
      stats.get("total_valid_decisions").asLong, stats.get("invalid_decisions").asLong)
  }

  def run(ctx: Ctx): Outcome = {
    val r = new Random(ctx.seed)
    val rows = collection(r)
    val byLevel = rows.groupBy(_.level)
    // a traced run reports no end-to-end metric, so it checks a few
    // requests and spends its time on the traced passes
    val nTimed = if (ctx.trace) 4 else timedRequests(ctx.seconds)
    // one query per set-up, then the warm, timed and traced groups; each
    // group has its own fixed mix of shapes and target levels
    val groups = Seq(3, WarmRequests, nTimed) ++ (if (ctx.trace) Seq(TracedRequests, TracedRequests) else Nil)
    val specs = groups.flatMap { n =>
      Gen.shapes(r, n, 200, 700).zip(r.shuffle((0 until n).map(_ % (Levels - 1) + 1)))
    }
    val queries = specs.zipWithIndex.map { case ((shape, lvl), i) =>
      val d = Gen.caseDoc(r, f"query_s${ctx.seed}_$i%04d.pdf", shape)
      val rep = ChunkPacker.chunkText(d.text).head
      val q = Checks.embed(rep, Dim)
      val target = byLevel(lvl + 1).map(c => (c.chunkId, c.fileId, c.fileName, c.decision, c.emb))
      val best = target.groupBy(_._2).map { case (f, cs) => f -> cs.map(c => Checks.round4(Checks.l2(c._5, q))).min }
      Query(d.name, lvl, d.pdf, Checks.bruteTopK(target, q, 5), best)
    }
    val collectionBytes = rows.size.toLong * (Dim * 4 + 60 * 8)
    ctx.record("inputs") = Map("levels" -> Levels, "files_per_level" -> FilesPerLevel,
      "chunk_rows" -> rows.size, "dim" -> Dim, "collection_mb_raw" -> collectionBytes / 1048576.0,
      "ram_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "clients" -> Clients, "warm_requests" -> WarmRequests, "timed_requests" -> nTimed)

    var service: CaseSearchService = null
    var root: String = null
    var nextQuery = 0
    def take(n: Int): Seq[Query] = { val q = queries.slice(nextQuery, nextQuery + n); nextQuery += n; q }

    val setup = ctx.setupSeries(2) { spark =>
      root = ctx.fresh("collections")
      write(spark, rows, Paths.get(root, CaseSearchService.DefaultCollection).toString)
      service = new CaseSearchService(spark, root, DeterministicEmbedder(Dim))
      service.start(0)
      val q = take(1).head
      val (code, _) = post(service.port, q.level, q.name, q.pdf)
      require(code == 200, s"first search returned $code")
      val (s, d) = (service, root)
      () => { s.stop(); Main.deleteTree(d) }
    }
    val port = service.port

    val attempted = new java.util.concurrent.atomic.AtomicLong(0)
    val failed = new java.util.concurrent.atomic.AtomicLong(0)
    val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val recalls = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

    /** Closed loop: each client sends its next query when the previous
      * reply arrives. Returns per-request latencies (ms) and wall time.
      */
    def closedLoop(qs: Seq[Query], clients: Int, check: Boolean): (Seq[Double], Double) = {
      val pool = Executors.newFixedThreadPool(clients)
      try {
        val t0 = System.nanoTime()
        val futures = (0 until clients).map { c =>
          pool.submit(new Callable[Seq[Double]] {
            def call(): Seq[Double] = qs.indices.filter(_ % clients == c).map { i =>
              val q = qs(i)
              val (res, dt) = timeS(try post(port, q.level, q.name, q.pdf)
                catch { case e: Throwable => (-1, e.toString) })
              if (check) {
                val errs = res match {
                  case (200, body) =>
                    try {
                      val reply = parseReply(body)
                      recalls.add(Checks.recallAtK(reply.results, q.want))
                      Checks.searchReply(reply, q.want, q.bestByFile)
                    } catch { case e: Throwable => Seq(s"unparseable reply: $e") }
                  case (code, body) => Seq(s"status $code: ${body.take(200)}")
                }
                attempted.incrementAndGet(); if (errs.nonEmpty) failed.incrementAndGet()
                errs.take(2).foreach(e => problems.add(s"${q.name}: $e"))
              }
              dt * 1e3
            }
          })
        }
        val lat = futures.flatMap(_.get())
        (lat, (System.nanoTime() - t0) / 1e9)
      } finally pool.shutdown()
    }

    val (warmLat, _) = closedLoop(take(WarmRequests), Clients, check = false)
    System.gc() // start the timed window from the same heap state in every run
    val (lat, wall) = closedLoop(take(nTimed), Clients, check = true)
    ctx.liveSample()
    ctx.record("warm_latency_ms") = warmLat
    ctx.record("timed_wall_s") = wall
    ctx.record("timed_latency_ms") = lat
    ctx.record("latency_p95_ms") = Stats.quantile(lat, 0.95)
    val e2e = Map(
      "setup_s" -> setup,
      "docs_per_s" -> lat.size / wall,
      "latency_p50_ms" -> Stats.median(lat),
      "recall" -> recalls.asScala.sum / math.max(1, recalls.size))

    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else traced(ctx, root, port, take(TracedRequests), take(TracedRequests), closedLoop)
    Outcome(attempted.get, failed.get, problems.asScala.toSeq, e2e, layers)
  }

  /** Per-layer numbers: the functions the route composes, called one by
    * one on the same collection, then a one-client pass over the route
    * that counts jobs and driver-only time per request.
    */
  private def traced(ctx: Ctx, root: String, port: Int, direct: Seq[Query], viaRoute: Seq[Query],
                     closedLoop: (Seq[Query], Int, Boolean) => (Seq[Double], Double)): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val emb = DeterministicEmbedder(Dim)
    val coll = Paths.get(root, CaseSearchService.DefaultCollection).toString
    val (untracedLat, _) = closedLoop(viaRoute, 1, false)

    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(spark.sparkContext, enabled = true)
    val codegen0 = (Codegen.failureCount, Codegen.compileMs)
    val from = System.currentTimeMillis()
    val scanned = direct.zipWithIndex.map { case (q, i) =>
      tracer.span("search", req = s"q$i") {
        val text = tracer.span("sources.extract")(PdfTextExtractor.extract(q.pdf))
        val rep = tracer.span("text.chunk")(ChunkPacker.chunkText(text).head)
        val vec = tracer.span("embed") {
          Seq(rep).toDF("__t").select(emb.embed(col("__t"))).head().getSeq[Float](0)
        }
        val corpus = spark.read.parquet(coll).where(col("court_level") === q.level + 1)
          .select(col("chunk_id"), col("file_id"), col("file_name"), col("case_decision"),
            col("embedding"))
        tracer.span("vector.knn") {
          val scored = Knn.scored(corpus, Seq(vec).toDF("q_emb"), col("embedding"), Distance.l2)
            .drop("embedding")
          Knn.topK(Knn.bestPerGroup(scored, col("file_id"), col("chunk_id")), 5, col("file_id"))
            .collect()
        }
        (corpus.count(), Main.countFiles(s"$coll/court_level=${q.level + 1}"))
      }
    }
    // one client, so every job that starts during a request belongs to it
    val perRequest = viaRoute.map { q =>
      val t0 = System.currentTimeMillis()
      post(port, q.level, q.name, q.pdf)
      val t1 = System.currentTimeMillis()
      Thread.sleep(20) // let the listener bus deliver the request's job events
      ((t1 - t0).toDouble, counters.jobsIn(t0, t1).toDouble, counters.driverOnlyMs(t0, t1).toDouble)
    }
    val to = System.currentTimeMillis()
    spark.sparkContext.removeSparkListener(counters)
    ctx.record("spans") = Main.spanRecord(tracer, counters)
    val parts = Seq("sources.extract", "text.chunk", "embed", "vector.knn").map(tracer.medianMs).sum
    val routeMs = Stats.median(perRequest.map(_._1))
    Map(
      "sources.extract_ms_per_doc" -> tracer.medianMs("sources.extract"),
      "sources.files_written" -> Main.countFiles(coll).toDouble,
      "sources.files_per_search" -> Stats.median(scanned.map(_._2.toDouble)),
      "text.chunk_ms_per_doc" -> tracer.medianMs("text.chunk"),
      "text.chunks_per_doc" -> 1.0,
      "embed.ms_per_chunk" -> tracer.medianMs("embed"),
      "vector.knn_ms_per_search" -> tracer.medianMs("vector.knn"),
      "vector.rows_scanned_per_search" -> Stats.median(scanned.map(_._1.toDouble)),
      "serve.overhead_ms_per_search" -> (routeMs - parts),
      "serve.jobs_per_search" -> Stats.median(perRequest.map(_._2)),
      "serve.driver_only_ms_per_search" -> Stats.median(perRequest.map(_._3)),
      "bench.trace_overhead_pct" -> (routeMs / Stats.median(untracedLat) - 1.0) * 100.0
    ) ++ Main.sparkLayer(ctx, counters, from, to, codegen0)
  }
}
