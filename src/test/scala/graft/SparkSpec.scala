package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for specs (one per suite; local[2] keeps
  * forked-JVM startup cheap).
  */
trait SparkSpec extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = GraftSession.builder("local[2]", 2)
    .appName(getClass.getSimpleName)
    .getOrCreate()

  override def afterAll(): Unit = {
    // Stateful-stream suites leave a StateStore maintenance task that
    // would keep calling the stopped context's coordinator.
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()
    super.afterAll()
  }
}
