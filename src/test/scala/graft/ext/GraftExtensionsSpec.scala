package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The kernel SQL surface: registered functions resolve and agree with
  * the Column API.
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkSpec {

  test("registered SQL functions evaluate the codegen kernels") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT
        |  graft_l2(array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |           array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS l2,
        |  graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |            array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dot,
        |  graft_cosine(array(CAST(2.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |               array(CAST(5.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cos,
        |  graft_simhash64(array('alpha', 'beta')) AS sh,
        |  size(graft_minhash(array('a b c', 'b c d'))) AS sig_len
        |""".stripMargin).collect().head
    assert(row.getAs[Double]("l2") == 5.0)
    assert(row.getAs[Double]("dot") == 11.0)
    assert(math.abs(row.getAs[Double]("cos") - 1.0) < 1e-12)
    // simhash of a fixed token list is a fixed signature
    val again = spark.sql("SELECT graft_simhash64(array('alpha', 'beta')) AS sh")
      .collect().head.getAs[Long]("sh")
    assert(row.getAs[Long]("sh") == again)
    assert(row.getAs[Int]("sig_len") == 64)
  }

  test("graft_hyperplane_bands misuse raises a clear usage error") {
    GraftFunctions.register(spark)
    // wrong arity
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_hyperplane_bands(array(CAST(1.0 AS FLOAT)), 1, 8)")
        .collect()
    }
    assert(e1.getMessage.contains("graft_hyperplane_bands(emb, dim"),
      s"arity error lacks usage string: ${e1.getMessage}")
    // non-literal geometry argument
    val e2 = intercept[Exception] {
      spark.range(1).selectExpr(
        "graft_hyperplane_bands(array(CAST(1.0 AS FLOAT)), CAST(id AS INT), 8, 4, 42L)")
        .collect()
    }
    assert(e2.getMessage.contains("non-literal"),
      s"foldability error lacks reason: ${e2.getMessage}")
  }

  test("text kernels: graft_nfc, graft_term_stats, shingles, intersect") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      s"""SELECT
        |  graft_nfc('e\u0301') AS nfc,
        |  graft_term_stats('the cat and the hat', array('the', 'cat')) AS ts,
        |  graft_shingle_hash64(array('a', 'b', 'c'), 2) AS sh2,
        |  graft_sorted_intersect_count(
        |    graft_shingle_hash64(array('a', 'b', 'c'), 2),
        |    graft_shingle_hash64(array('a', 'b', 'd'), 2)) AS inter
        |""".stripMargin).collect().head
    assert(row.getAs[String]("nfc") == "\u00e9") // e + combining acute composes
    assert(row.getSeq[Long](1) == Seq(5L, 2L, 1L)) // [dl, tf_the, tf_cat]
    assert(row.getSeq[Long](2).length == 2) // shingles "a b", "b c"
    assert(row.getAs[Long]("inter") == 1L)  // shared shingle: "a b"
    // SQL route equals the Column-API kernels
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val viaColumn = Seq(Tuple1("a b c")).toDF("t")
      .select(graft.dedup.Dedup.shingleHashes(col("t"), 2).as("sh"))
      .collect().head.getSeq[Long](0)
    assert(row.getSeq[Long](2) == viaColumn)
  }

  test("graft_term_stats misuse raises a clear usage error") {
    GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.range(1).selectExpr(
        "graft_term_stats('x', array(CAST(id AS STRING)))").collect()
    }
    assert(e.getMessage.contains("non-literal"),
      s"foldability error lacks reason: ${e.getMessage}")
    // a NULL literal inside the term list gets the same friendly usage
    // error, not a raw NullPointerException at analysis time
    val eNull = intercept[Exception] {
      spark.range(1).selectExpr(
        "graft_term_stats('x', array('a', NULL))").collect()
    }
    assert(eNull.getMessage.contains("usage"),
      s"NULL-term error lacks usage text: ${eNull.getMessage}")
  }

  test("graft_hyperplane_bands matches the Column-API kernel") {
    GraftFunctions.register(spark)
    val sqlKeys = spark.sql(
      """SELECT graft_hyperplane_bands(
        |  array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT), CAST(0.5 AS FLOAT)),
        |  3, 8, 4, 42L) AS keys""".stripMargin)
      .collect().head.getSeq[Long](0)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val viaColumn = Seq(Tuple1(Array(1.0f, -2.0f, 0.5f))).toDF("emb")
      .select(graft.vector.VectorKernels.hyperplaneBandKeys(col("emb"),
        graft.dedup.EmbeddingDedup.hyperplanes(3, 8, 4, 42L), 3, 8, 4).as("keys"))
      .collect().head.getSeq[Long](0)
    assert(sqlKeys == viaColumn)
    assert(sqlKeys.length == 8)
  }
}
