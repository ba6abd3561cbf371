package graft.tools

import graft.GraftSession

/** Multi-executor smoke validation — `local-cluster[2,8,4096]`.
  *
  * Everything else in this repo runs in ONE JVM (`local[n]`), which
  * structurally cannot surface a class of cluster-only failures:
  * closure-serialization (a kernel capturing a non-serializable
  * enclosing scope), task-result/broadcast serialization of custom
  * aggregate buffers (CrossMomentAgg, GroupedTopK's Seq[Scored]),
  * codegen classes referencing driver-only state, and the custom
  * physical plan (KnnJoinExec) shipping to real executor processes.
  * local-cluster starts separate executor JVMs with a real
  * RPC/serialization boundary — the cheapest faithful stand-in for a
  * 1000-executor deployment.
  *
  * Runs the flagship plus one query per operator family and writes a
  * JSON artifact (`CLUSTERCHECK_r{N}.json` by convention, path is
  * arg 2). Exit code 1 when any query fails.
  *
  * Usage: `SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 sbt
  * "runMain graft.tools.ClusterSmoke [sfDir] [outPath]"` — the worker's
  * executor launcher builds the child JVM command from SPARK_HOME
  * (`AbstractCommandBuilder.getScalaVersion` fails without it).
  */
object ClusterSmoke {

  /** One query per family — chosen to cover every custom-kernel /
    * custom-plan / iterative / streaming code path whose
    * serialization behavior differs between local[n] and a real
    * executor boundary.
    */
  val Selected: Seq[String] = Seq(
    "flagship_similar_cases", // V1–V6/A1–A3 pipeline
    "flagship_from_pdfs",     // S1 PDF bytes (incl. Type0 CMap) end-to-end
    "flagship_sql",           // registered codegen kernels via spark.sql
    "c1_case_decision",       // classify cascade
    "f2_chunk_pack",          // order-dependent fold (Dataset encoder)
    "dedup_minhash_lsh",      // shingle/minhash codegen kernels
    "dedup_clusters_incremental", // iterative components + checkpoints
    "dedup_embedding_lsh",    // hyperplane-band kernel (broadcast planes)
    "ann_ivf_topk",           // IVF centroid expressions
    "emb_pca_randomized",     // CrossMomentAgg TypedImperativeAggregate
    "blockmatrix_cosine_topk", // SUMMA tiling
    "knn_join_exec",          // custom LogicalPlan/Strategy/SparkPlan
    "q_bm25_join",            // bucketed postings serve join
    "text_lm_perplexity",     // integer-cost LM scoring
    "tok_bpe_merges",         // iterative BPE training
    "q_maxsim_retrieval",     // GroupedTopK udaf buffer serialization
    "q_maxsim_ivf_full_probe", // IVF-routed MaxSim (centroid kernels)
    "q_quantile_sketch_grouped", // grouped sketch windows
    "streaming_quantiles_grouped", // stream-maintained grouped state
    "q_cumsum_scalable",      // two-phase RDD prefix sum
    "q_events_sessionize",    // events/window family
    "mm_mp4_frames",          // multimodal byte walking
    "s9_bloom_pointlookup",   // parquet bloom write/read
    "mldata_triplets_hard_lsh", // ml mining family
    "streaming_upsert_latest",  // foreachBatch on executor processes
    "streaming_maxsim_ivf",     // r10: IVF-routed streamed MaxSim (chained state)
    "streaming_quantiles_windowed", // r10: chained windowed QuantileSelect udaf
    "serving_restart",          // r10: cross-session restore of persisted artifacts
    "mldata_coreset_kcenter",   // r10: iterative argmax + typedLit broadcast
    "streaming_psi_drift",      // r10: streamed counts + window-agg PSI fold
    "dedup_substring_spans",    // r10: seed groupBy+join, gaps-and-islands
    "dedup_winnow_pairs",       // r10: winnow fingerprints + df-cut inverted index
    "dedup_clip_spans",         // r11: keep-first clip (indexed lambda filter)
    "q_psi_emb_drift",          // r11: least()-fold anchor assignment + PSI
    "streaming_maxsim_maintained", // r11: maintained layout served across refresh
    "dedup_clip_decontam",      // r11: hashed cross-corpus clip (verify join)
    "streaming_clip_decontam",  // r11: bloom screen + exact clip in foreachBatch
    "streaming_clip_self",      // r12: bucketed gram registry + prefix-causal clip
    "streaming_resume_clip_self", // r13: catalog re-registration + bloom rebuild on resume
    "streaming_resume_quantiles", // r12: checkpoint stop/resume, state-store restore
    "streaming_resume_ivf_maintained", // r12: file-sink exactly-once across restart
    "pipeline_training_data_v2",  // r12: composed clip pipeline (memoized docStats)
    "streaming_neardup_self",     // r14: band registry + executor bucket blooms
    "streaming_neardup_emb",      // r14: hyperplane-band registry, shared engine
    "streaming_neardup_keepfirst", // r15: keep-first registration anti-join +
                                   // multi-tier compaction across executors
    "streaming_neardup_keepfirst_chain") // r16: divergent chain fold +
                                   // zero-dial policy maintenance window

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outPath = if (args.length > 1) args(1) else "CLUSTERCHECK_r11.json"
    // Executor JVMs are launched as separate processes: they need the
    // application classes (sbt does not ship a jar) and the JDK17
    // module opens the in-process driver got from build.sbt.
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    val spark = GraftSession.builder("local-cluster[2,8,4096]", 16)
      .appName("graft-cluster-smoke")
      .config("spark.executor.memory", "3g")
      .config("spark.executor.extraClassPath",
        System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpens)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val queries = graft.SparkEntry.queries
    val results = scala.collection.mutable.LinkedHashMap[String, String]()
    var nOk = 0
    var nErr = 0

    def esc(s: String): String =
      s.replaceAll("[\"\\\\\n\r\t]", " ").take(200)

    def run(name: String, body: () => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      try {
        val rows = body().count()
        val dt = (System.nanoTime() - t0) / 1e9
        results(name) = f"""{"rows":$rows,"sec":$dt%.2f}"""
        nOk += 1
      } catch {
        case e: Throwable =>
          results(name) =
            s"""{"error":"${esc(Option(e.getMessage).getOrElse(e.getClass.getName))}"}"""
          nErr += 1
      }
      // same isolation the bench applies: drop gate tables/streams
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      spark.catalog.listTables().collect().foreach { t =>
        try spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
        catch { case _: Throwable => () }
      }
      spark.sharedState.cacheManager.clearCache()
    }

    run("entry", () => graft.SparkEntry.entry(spark))
    Selected.foreach { name =>
      queries.get(name) match {
        case Some(fn) => run(name, () => fn(spark, sfDir))
        case None =>
          results(name) = """{"error":"query not found"}"""
          nErr += 1
      }
    }

    val json = s"""{"master":"local-cluster[2,8,4096]","sf":"$sfDir",""" +
      s""""n_queries":${results.size},"n_ok":$nOk,"n_errors":$nErr,""" +
      s""""queries":{${results.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(json)
    if (nErr > 0) sys.exit(1)
  }
}
