package graft.ext

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.dedup.{Dedup, MinHashKernel, ShingleKernel}
import graft.text.UnicodeNorm
import graft.vector.VectorKernels

/** The engine's custom kernels as SQL functions, so `spark.sql(...)`
  * users get the same codegen operators as the Column API. Two entry
  * points over one function table:
  *
  *  - at session build: `.withExtensions(new GraftExtensions)` —
  *    registers the SQL functions AND the [[graft.plans.KnnJoinStrategy]]
  *    planner strategy (most operators compose to physical shapes
  *    Catalyst already has — TakeOrderedAndProject, WindowGroupLimit,
  *    hash joins; the KNN join is the exception where a custom physical
  *    operator beats the compositional plan);
  *  - on a live session: `GraftFunctions.register(spark)`.
  */
object GraftFunctions {

  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_l2", "graft_l2(a, b) - L2 distance between float vectors",
      exprs => VectorKernels.VectorDistance(exprs(0), exprs(1), VectorKernels.L2)),
    ("graft_dot", "graft_dot(a, b) - dot product of float vectors",
      exprs => VectorKernels.VectorDistance(exprs(0), exprs(1), VectorKernels.Dot)),
    ("graft_cosine", "graft_cosine(a, b) - cosine similarity of float vectors",
      exprs => VectorKernels.VectorDistance(exprs(0), exprs(1), VectorKernels.Cosine)),
    ("graft_simhash64", "graft_simhash64(tokens) - 64-bit SimHash of a string array",
      exprs => MinHashKernel.SimHash64(exprs.head)),
    ("graft_minhash", "graft_minhash(shingles) - 64-permutation MinHash signature",
      exprs => MinHashKernel.MinHashSignature(exprs.head,
        Dedup.permParamsA.toArray, Dedup.permParamsB.toArray)),
    ("graft_hyperplane_bands",
      "graft_hyperplane_bands(emb, dim, bands, bits, seed) - hyperplane LSH band keys",
      exprs => {
        // geometry args must be literals: planes are baked into the
        // expression at resolution time — validate arity and
        // foldability up front so a misuse reads as a usage error,
        // not an opaque IndexOutOfBounds/ClassCast at resolution
        val usage = "graft_hyperplane_bands(emb, dim INT, bands INT, bits INT, seed BIGINT)" +
          " — dim/bands/bits/seed must be integer literals"
        require(exprs.length == 5, s"wrong argument count ${exprs.length}; usage: $usage")
        require(exprs.tail.forall(_.foldable),
          s"non-literal geometry argument; usage: $usage")
        def numArg(i: Int) = exprs(i).eval(null) match {
          case n: Number => n
          case other => throw new IllegalArgumentException(
            s"argument ${i + 1} is ${if (other == null) "NULL" else other.getClass.getSimpleName}, expected integer; usage: $usage")
        }
        def intArg(i: Int) = numArg(i).intValue
        val (dim, bands, bits) = (intArg(1), intArg(2), intArg(3))
        val seed = numArg(4).longValue
        VectorKernels.HyperplaneBandKeys(exprs.head,
          graft.dedup.EmbeddingDedup.hyperplanes(dim, bands, bits, seed),
          dim, bands, bits)
      }),
    ("graft_nfc", "graft_nfc(s) - Unicode NFC normalization (codegen)",
      exprs => UnicodeNorm.NfcNormalize(exprs.head)),
    ("graft_term_stats",
      "graft_term_stats(text, array('t1', ...)) - per-term counts over one byte scan; terms must be a string-array literal",
      exprs => {
        val usage = "graft_term_stats(text, array('term1', 'term2', ...)) — " +
          "the term list must be a foldable string-array literal"
        require(exprs.length == 2, s"wrong argument count ${exprs.length}; usage: $usage")
        require(exprs(1).foldable, s"non-literal term list; usage: $usage")
        val terms = exprs(1).eval(null) match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData =>
            (0 until a.numElements()).map { i =>
              if (a.isNullAt(i)) throw new IllegalArgumentException(
                s"term $i is NULL; usage: $usage")
              a.getUTF8String(i).toString
            }
          case other => throw new IllegalArgumentException(
            s"argument 2 is ${if (other == null) "NULL" else other.getClass.getSimpleName}; usage: $usage")
        }
        graft.text.TextKernels.TermStats(exprs.head, terms)
      }),
    ("graft_shingle_hash64",
      "graft_shingle_hash64(tokens, n) - sorted distinct 64-bit n-gram shingle hashes; n must be an integer literal",
      exprs => {
        val usage = "graft_shingle_hash64(tokens ARRAY<STRING>, n INT) — n must be an integer literal"
        require(exprs.length == 2, s"wrong argument count ${exprs.length}; usage: $usage")
        require(exprs(1).foldable, s"non-literal shingle width; usage: $usage")
        val n = exprs(1).eval(null) match {
          case x: Number => x.intValue
          case other => throw new IllegalArgumentException(
            s"argument 2 is ${if (other == null) "NULL" else other.getClass.getSimpleName}, expected integer; usage: $usage")
        }
        ShingleKernel.ShingleHash64(exprs.head, n)
      }),
    ("graft_sorted_intersect_count",
      "graft_sorted_intersect_count(a, b) - intersection size of two sorted distinct long arrays (linear merge)",
      exprs => ShingleKernel.SortedIntersectCount(exprs(0), exprs(1))))

  /** Register on an already-running session (idempotent). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, _, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.ext.GraftFunctions", null, name), builder))
    }
    // whole-operator extensions: logical node → custom physical operator,
    // plus the operator's own pushdown rule (left_id filters commute
    // with the per-left-row top-k)
    e.injectPlannerStrategy(_ => graft.plans.KnnJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughKnnJoin)
  }
}
