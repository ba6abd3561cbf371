package graft.tools

import graft.GraftSession

/** Dev smoke runner mirroring the driver's t1 gate: runs
  * `SparkEntry.entry` on sf0.001 and prints the result. Also prints the
  * formatted physical plan so scan pushdown / codegen spans can be
  * eyeballed after every change.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.SparkEntry.entry(spark)
    df.explain("formatted")
    df.show(20, truncate = false)
    println(s"rows=${df.count()}")
    spark.stop()
  }
}
