package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The fixture generator has shipped `events.ts` as TIMESTAMP(NANOS)
  * (read as long under nanosAsLong) and TIMESTAMP(MICROS, ntz) across
  * rounds — and date columns as both tz and ntz. These pins keep the
  * loader contract stable whichever vintage the next round writes:
  * every temporal operator downstream assumes epoch-nanos longs from
  * `Tables.events` and comparable TIMESTAMP columns everywhere else.
  */
class TablesSpec extends AnyFunSuite with SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-tables-spec").toString

  test("events.ts: TIMESTAMP_NTZ micros normalize to epoch-nanos long") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "2024-03-01 12:00:00.123456"), (2L, "2024-03-02 00:30:00.000001"))
      .toDF("event_id", "s")
      .select(col("event_id"), to_timestamp_ntz(col("s")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == LongType)
    val byId = ev.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 2024-03-01T12:00:00.123456 UTC in nanos
    assert(byId(1L) == 1709294400123456000L, s"got ${byId(1L)}")
    assert(byId(2L) % 1000L == 0L, "micros fixture carries nanos = micros*1000")
  }

  test("events.ts: a legacy epoch-nanos long column passes through") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, 1709294400123456789L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == LongType)
    assert(ev.head().getLong(1) == 1709294400123456789L)
  }

  test("NTZ date columns load as comparable session TIMESTAMP") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "1997-06-01 00:00:00"), (2L, "1999-01-01 00:00:00"))
      .toDF("o_orderkey", "s")
      .select(col("o_orderkey"), to_timestamp_ntz(col("s")).as("o_orderdate"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val ord = Tables.orders(spark, dir)
    assert(ord.schema("o_orderdate").dataType == TimestampType)
    // the exact comparison shape every TPC-H-ish query uses
    val n = ord.where(col("o_orderdate") <
      lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))).count()
    assert(n == 1L)
  }

  // loadParallel: local[2] gives a target width of 2, and a table
  // needs >= 128 rows (64 per task) before it is worth splitting

  private def repartitioned(df: DataFrame): Boolean =
    df.queryExecution.logical.exists(_.isInstanceOf[Repartition])

  /** One single-row-group parquet part file holding `rows` rows. */
  private def partFile(rows: Int): Path = {
    val out = tmp()
    spark.range(rows).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(out)
    Files.list(Paths.get(out)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
  }

  test("loadParallel leaves tables under 128 rows unsplit, empty ones too") {
    for (rows <- Seq(0, 100)) {
      val dir = tmp()
      Files.createDirectories(Paths.get(dir, "documents.parquet"))
      Files.copy(partFile(rows), Paths.get(dir, "documents.parquet", "part-0.parquet"))
      val df = Tables.loadParallel(spark, dir, "documents")
      assert(!repartitioned(df), s"$rows rows: ${df.queryExecution.logical}")
      assert(df.count() == rows)
    }
  }

  test("loadParallel re-reads the footer when a part file is overwritten in place") {
    val dir = Paths.get(tmp(), "documents.parquet")
    Files.createDirectories(dir)
    val part = dir.resolve("part-0.parquet")
    Files.copy(partFile(10), part)
    assert(!repartitioned(Tables.loadParallel(spark, dir.getParent.toString, "documents")))
    // same file name, new contents; the directory's own mtime and
    // length stay as they were
    val dirMtime = Files.getLastModifiedTime(dir)
    Files.write(part, Files.readAllBytes(partFile(1000)))
    Files.setLastModifiedTime(dir, dirMtime)
    val df = Tables.loadParallel(spark, dir.getParent.toString, "documents")
    assert(repartitioned(df), "a 1000-row single-row-group table splits across 2 tasks")
    assert(df.count() == 1000L)
  }
}
