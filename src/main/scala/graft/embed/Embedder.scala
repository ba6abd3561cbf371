package graft.embed

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression, UnsafeArrayData, XXH64, XxHash64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

/** F4 — the embedding transform
  * (`/root/reference/extract_and_embed.py:80-82`), as a pluggable
  * column operator.
  *
  * The reference calls OpenAI ada-002 once per chunk, sequentially —
  * the single worst scaling pathology in the reference (SURVEY §3
  * "performance pathologies"). Here embedding is a Column: it rides in
  * the chunk projection, is computed partition-parallel, and external
  * implementations batch per partition instead of per row.
  */
trait Embedder {
  def dim: Int

  /** Embedding of a text column as `array<float>` of [[dim]]. */
  def embed(text: Column): Column

  /** [[embed]] of a few texts, in order, on the driver. By default a
    * local query: the optimizer folds its projection, so it starts no
    * job, but it is analyzed, optimized and planned like any query.
    */
  def vectors(spark: SparkSession, texts: Seq[String]): Seq[Array[Float]] = {
    import spark.implicits._
    texts.toDF("__t").select(embed(col("__t"))).collect()
      .map(_.getSeq[Float](0).toArray).toSeq
  }
}

/** Deterministic seeded hash-projection embedder — the offline
  * correctness stand-in for ada-002 (non-deterministic, and unavailable
  * without egress; SURVEY §7.3). The text hashes once per row,
  * h = xxhash64(text, seed); component j = pmod(xxhash64(h, j), 2000001)
  * − 1000000, scaled by 1e-6 and narrowed to float. The column is
  * `array<float>` with `containsNull = true` and is never null (NULL
  * text maps to one fixed vector).
  */
final case class DeterministicEmbedder(dim: Int = 64, seed: Long = 42L) extends Embedder {
  def embed(text: Column): Column = GraftColumnBridge.column(
    HashProjection(GraftColumnBridge.expression(xxhash64(text, lit(seed))), dim))

  /** [[embed]]'s expression built resolved and evaluated directly, with
    * no query around it: a search embeds one text per request, and
    * planning a query for it costs more than the hashing.
    */
  override def vectors(spark: SparkSession, texts: Seq[String]): Seq[Array[Float]] =
    texts.map(t => HashProjection(new XxHash64(Seq(Literal(t), Literal(seed))), dim)
      .eval().asInstanceOf[ArrayData].toFloatArray())
}

/** All `dim` components from h in one loop, so the plan holds one node
  * at any width. Spark's `xxhash64(h, j)` is
  * XXH64.hashLong(j, XXH64.hashLong(h, 42)). Generated code calls
  * [[vector]]: a `CodegenFallback` would drop the whole projection out
  * of whole-stage codegen.
  */
private[embed] final case class HashProjection(child: Expression, dim: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = true)

  def vector(h: Long): ArrayData = {
    val base = XXH64.hashLong(h, 42L)
    val v = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      val m = java.lang.Math.floorMod(XXH64.hashLong(j.toLong, base), 2000001L)
      v(j) = ((m - 1000000L).toDouble / 1000000.0).toFloat
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(v)
  }

  override def nullSafeEval(input: Any): Any = vector(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, h => s"${ctx.addReferenceObj("embedder", this)}.vector($h)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
