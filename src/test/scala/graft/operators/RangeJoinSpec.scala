package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class RangeJoinSpec extends AnyFunSuite with SparkSpec {

  private def pairs(radius: Long, binWidth: Long = 0L) = {
    import spark.implicits._
    val l = Seq((1L, 100L), (2L, 250L), (3L, 999L)).toDF("l_id", "l_ts")
    val r = Seq((10L, 90L), (11L, 150L), (12L, 205L), (13L, 400L)).toDF("r_id", "r_ts")
    RangeJoin.bandJoin(l, r, "l_ts", "r_ts", radius, binWidth)
      .select("l_id", "r_id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
  }

  test("band join equals the naive |Δ| ≤ radius semantics") {
    // radius 50: 1(100)↔{90,150}, 2(250)↔{205}, 3(999)↔{}
    assert(pairs(50L) == Set((1L, 10L), (1L, 11L), (2L, 12L)))
  }

  test("boundary pairs at exactly radius distance are included") {
    // radius 60: adds 2(250)↔11(150)? |250-150|=100 no; 1↔12 |100-205|=105 no
    // pick radius 105: includes the exact-distance pair 1↔12
    assert(pairs(105L).contains((1L, 12L)))
    assert(!pairs(104L).contains((1L, 12L)))
  }

  test("a pre-existing __bin/__rbin column is rejected, not silently overwritten") {
    import spark.implicits._
    val l = Seq((1L, 100L, 0L)).toDF("l_id", "l_ts", "__bin")
    val r = Seq((10L, 100L)).toDF("r_id", "r_ts")
    intercept[IllegalArgumentException] {
      RangeJoin.bandJoin(l, r, "l_ts", "r_ts", 50L)
    }
  }

  test("each qualifying pair appears exactly once (no bin-overlap dups)") {
    import spark.implicits._
    val l = Seq((1L, 100L)).toDF("l_id", "l_ts")
    val r = Seq((10L, 100L)).toDF("r_id", "r_ts")
    val out = RangeJoin.bandJoin(l, r, "l_ts", "r_ts", 50L).collect()
    assert(out.length == 1)
  }

  test("explicit binWidth changes the plan, not the result") {
    assert(pairs(50L, binWidth = 7L) == pairs(50L))
    assert(pairs(50L, binWidth = 500L) == pairs(50L))
  }

  test("agrees with a brute-force cross join on the sf0.001 events fixture") {
    // Tables.events normalizes ts to the epoch-nanos-long contract
    // regardless of the fixture's timestamp physicality.
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
    val c = ev.where(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("ts").as("c_ts"))
    val radius = 300000000000L
    val banded = RangeJoin.bandJoin(p, c, "p_ts", "c_ts", radius)
      .select("p_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = p.crossJoin(c)
      .where(abs(col("p_ts") - col("c_ts")) <= radius)
      .select("p_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute)
    assert(brute.nonEmpty)
  }
}
