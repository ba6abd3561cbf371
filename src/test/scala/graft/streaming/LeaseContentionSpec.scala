package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** TRUE two-process lease contention — a second driver JVM (launched
  * via ProcessBuilder, running [[graft.tools.LeaseContender]]) attempts
  * maintenance against a lease THIS process holds. This closes the gap
  * MaintenanceLeaseSpec's hand-written foreign lease file leaves open:
  * here the contender is a real process with its own pid, holder
  * nonce, and FileSystem, exercising the on-disk protocol end to end
  * across an actual process boundary.
  */
class LeaseContentionSpec extends AnyFunSuite with SparkSpec {

  private def tmp(tag: String): String = graft.TempDirs.create(tag).toString

  private def fsFor(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Launch a contender JVM and return (exitCode, combined output).
    * The test JVM is forked by sbt, so `java.class.path` is the full
    * application classpath; the JDK17 add-opens mirror build.sbt (the
    * Spark-mode contender creates a SparkSession outside
    * spark-submit).
    */
  private def runContender(args: Seq[String], timeoutSec: Long = 300):
      (Int, String) = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g",
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.LeaseContender") ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS),
      s"contender did not exit within ${timeoutSec}s:\n$out")
    (proc.exitValue(), out)
  }

  test("a second real process's acquire is blocked while held, " +
      "succeeds after release") {
    val dir = tmp("contend-acquire")
    val fs = fsFor(dir)
    val lease = MaintenanceLease.acquire(fs, dir)
    assert(lease.held)
    val (code1, out1) = runContender(Seq("acquire", dir))
    assert(code1 == 3, s"contender must be blocked (exit 3): $code1\n$out1")
    assert(out1.contains("held by") &&
      out1.contains(MaintenanceLease.holderId.takeWhile(_ != '#')),
      s"refusal must name this process's holder:\n$out1")
    // our lease survived the contender's attempt (conditional-delete
    // protocol: an absent-or-foreign observer deletes nothing)
    assert(MaintenanceLease.readLease(fs, dir)
      .exists(_._1 == MaintenanceLease.holderId))
    MaintenanceLease.release(fs, lease)
    val (code2, out2) = runContender(Seq("acquire", dir))
    assert(code2 == 0, s"post-release acquire must succeed: $code2\n$out2")
    assert(out2.contains("CONTENDER-ACQUIRED"), out2)
    // the lease file now names the CHILD process (real foreign holder,
    // different pid), and is live — so a local acquire is refused
    val foreign = MaintenanceLease.readLease(fs, dir)
    assert(foreign.exists(h => h._1 != MaintenanceLease.holderId &&
      h._1.split("#")(1) != ProcessHandle.current().pid().toString),
      s"lease must name the child process: $foreign")
    val e = intercept[IllegalStateException] {
      MaintenanceLease.acquire(fs, dir)
    }
    assert(e.getMessage.contains("held by"), e.getMessage)
    fs.delete(new Path(dir, "__maintenance_lease"), false)
  }

  test("a second real driver's compact is refused while this process " +
      "holds the registry lease") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val reg = tmp("contend-compact") + "/reg"
    val ms = MemoryStream[(Long, String)]
    val q = StreamingNearDup.nearDupStream(
      ms.toDS().toDF("id", "text"), col("id"), col("text"),
      reg, buckets = 4, minJaccard = 0.9) { df => df.collect(); () }
    try {
      ms.addData(Seq((1L, "alpha beta gamma delta epsilon zeta eta"),
        (2L, "one two three four five six seven")))
      q.processAllAvailable()
    } finally q.stop()
    val bandsDir = s"$reg/bands"
    val fs = fsFor(bandsDir)
    val lease = MaintenanceLease.acquire(fs, bandsDir)
    try {
      val (code, out) = runContender(Seq("compact", reg, "4"))
      assert(code == 3,
        s"second driver's compact must be lease-blocked (exit 3): $code\n$out")
      assert(out.contains("CONTENDER-BLOCKED") && out.contains("held by"),
        out)
    } finally MaintenanceLease.release(fs, lease)
    // with the lease released the same compact completes in-process
    StreamingNearDup.compact(spark, reg, 4)
  }
}
