package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Losing an executor after the engine pinned a frame does not fail the
  * query or change its rows. A child JVM ([[ExecutorLossCheck]]) runs
  * the queries on `local-cluster`, which starts real executor processes
  * that can be killed.
  */
class ExecutorLossSpec extends AnyFunSuite {

  test("a query whose pinned blocks die with their executor recomputes the same rows") {
    val cmd = Seq(System.getProperty("java.home") + "/bin/java", "-Xmx1g") ++
      ExecutorLossCheck.AddOpens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.ExecutorLossCheck",
        "/root/testdata/sf0.001") ++ ExecutorLossCheck.Queries
    // the worker builds each executor's command from SPARK_HOME's jars,
    // and keeps each application's work directory under it: a scratch
    // home over the installed jars keeps those directories out of it
    val home = Files.createTempDirectory("graft-spark-home")
    Seq("jars", "RELEASE").foreach(n =>
      Files.createSymbolicLink(home.resolve(n), Paths.get("/opt/spark", n)))
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_HOME", home.toString)
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new StringBuilder
    val reader = new Thread(() =>
      scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8").getLines()
        .foreach(l => out.synchronized(out.append(l).append('\n'))))
    reader.start()
    val finished = proc.waitFor(15, TimeUnit.MINUTES)
    if (!finished) proc.destroyForcibly()
    reader.join(10000)
    Files.walk(home).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    val log = out.synchronized(out.toString)
    assert(finished, s"executor-loss check did not finish:\n$log")
    val verdicts = log.linesIterator.collect {
      case l if l.startsWith("executor-loss ") => l.split(" ", 3) match {
        case Array(_, q, v) => q -> v
      }
    }.toMap
    assert(ExecutorLossCheck.Queries.forall(q => verdicts.get(q).contains("same")),
      s"verdicts $verdicts\n$log")
    assert(proc.exitValue() == 0, log)
  }
}

/** For each named query on `local-cluster[2,1,1024]`: the sorted-row
  * hash of a run with no fault, then the same query built again, one
  * action run, the executor holding its newest cached blocks killed,
  * and the hash taken again. Prints `executor-loss <query> same`,
  * `differs` or `failed: <message>`; exits 1 unless every query is the
  * same.
  *
  * Usage: `SPARK_HOME=<a Spark home> SPARK_SCALA_VERSION=2.13 java -cp <cp>
  * graft.ExecutorLossCheck <sfDir> q1 q2 ...`
  */
object ExecutorLossCheck {

  /** A trailing-sort row, a dedup miner, label propagation, PageRank. */
  val Queries: Seq[String] =
    Seq("f7_conclusion_extract", "dedup_minhash_lsh", "dedup_label_prop", "dedup_pagerank")

  /** The JDK 17 module opens a JVM running Spark outside spark-submit needs. */
  val AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .map(p => s"--add-opens=$p=ALL-UNNAMED")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.builder("local-cluster[2,1,1024]", 2)
      .appName("graft-executor-loss")
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions", AddOpens.mkString(" "))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    // the newest RDD each executor stored a block of: the query's last
    // pin, which the final read needs whatever the plan above it
    val newest = new ConcurrentHashMap[String, Integer]()
    sc.addSparkListener(new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val i = e.blockUpdatedInfo
        if (i.storageLevel.isValid) i.blockId.asRDDId.foreach(b =>
          newest.merge(i.blockManagerId.executorId, b.rddId,
            (a: Integer, c: Integer) => Integer.valueOf(math.max(a, c))))
      }
    })
    def await(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(2)
      while (!cond) {
        if (System.nanoTime() > deadline) throw new IllegalStateException(s"timed out: $what")
        Thread.sleep(200)
      }
    }
    // block managers, less the driver's
    def executors: Int = sc.getExecutorMemoryStatus.size - 1
    def reset(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      newest.clear()
    }
    def hash(df: DataFrame): String = {
      val rows = df.collect().map(_.toString).sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }
    def build(q: String): DataFrame = SparkEntry.queries(q)(spark, sfDir)

    val ok = args.drop(1).map { q =>
      val verdict =
        try {
          if (executors < 2) sc.requestExecutors(2 - executors)
          await("two executors")(executors == 2)
          reset()
          val expected = hash(build(q))
          reset()
          val df = build(q)
          df.count()
          Thread.sleep(1000) // let the block updates reach the listener
          val victim = newest.asScala.filter(_._1 != "driver").maxBy(_._2.intValue)._1
          sc.killExecutor(victim)
          await(s"executor $victim to go")(executors == 1)
          if (hash(df) == expected) "same" else "differs"
        } catch { case e: Throwable =>
          "failed: " + String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(300)
        }
      println(s"executor-loss $q $verdict")
      verdict == "same"
    }
    spark.stop()
    sys.exit(if (ok.forall(identity)) 0 else 1)
  }
}
