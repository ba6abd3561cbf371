package graft.dedup

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Focused spec for the r17 session-2 single-job driver streaming
  * ([[SeedScreen.longsToDriver]]) and the probe built on it: the
  * rewrite replaced `toLocalIterator` (one Spark job per partition)
  * with one `runJob`, and the contract must hold — same values reach
  * the driver, partition-complete arrays, and the probe's positive
  * set and over-limit signal are unchanged.
  */
class SeedScreenSpec extends AnyFunSuite with SparkSpec {

  private def hframe(values: Seq[Long], parts: Int) = {
    import spark.implicits._
    values.toDF("h").repartition(parts)
  }

  test("longsToDriver delivers every value exactly once, one array per partition") {
    val values = (1L to 1000L) ++ (1L to 10L) // duplicates preserved
    val df = hframe(values, 7)
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    SeedScreen.longsToDriver(df) { arr => calls += 1; got ++= arr }
    assert(got.sorted == values.sorted.toBuffer)
    assert(calls == df.rdd.getNumPartitions)
  }

  test("longsToDriver on an empty frame delivers nothing") {
    val df = hframe(Seq.empty, 3)
    var n = 0L
    SeedScreen.longsToDriver(df)(arr => n += arr.length)
    assert(n == 0L)
  }

  test("fromDriverProbe collects exactly the filter-positive distinct values, sorted") {
    val values = Seq(5L, 1L, 9L, 5L, 12L, 40L, 9L, 7L)
    val screen = SeedScreen.fromDriverProbe(h => h % 2 == 1)
    val pos = screen.positives(hframe(values, 3))
    assert(pos.toSeq == Seq(1L, 5L, 7L, 9L))
  }

  test("fromDriverProbe signals over-limit with an array longer than ScreenPushLimit") {
    val n = Spans.ScreenPushLimit * 2
    val screen = SeedScreen.fromDriverProbe(_ => true)
    val pos = screen.positives(hframe((1L to n.toLong), 5))
    assert(pos.length > Spans.ScreenPushLimit)
    // and stays bounded: accumulation stops just past the limit, it
    // never grows toward the batch size
    assert(pos.length <= Spans.ScreenPushLimit + 1)
  }
}
