package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftinternal.Bridge
import org.apache.spark.sql.types._

/** Sign-LSH bucket code in one pass: bit p of the result is set iff
  * dot(vec, plane_p) >= 0, over `planes` deterministic ±1 hyperplanes
  * derived from `seed` (the same [[graft.similarity.Ann.planeSign]] the
  * DuckDB oracle builders inline as literals — bit-identical codes, since
  * the per-plane accumulation order matches the HOF left fold this
  * replaces).
  *
  * Why an Expression and not the HOF composition (`aggregate(zip_with(vec,
  * ±1-literal-array, *), 0.0, +)` per plane): with 4 tables × 8 planes the
  * literal arrays put ~2k constant nodes into the plan — most of v04's
  * wall time was Catalyst analysis/codegen of that tree, a fixed cost paid
  * per query. Here the matrix lives in one expression node (re-derived
  * from `seed` on each executor, never shipped or shuffled) and the row
  * work is a planes×dim multiply-add loop with no lambda frames.
  *
  * Malformed input RAISES with a diagnosable message instead of returning
  * null or a wrong bucket: a wrong-length or null-element vector would
  * otherwise collapse into one bucket and degenerate the LSH join toward a
  * cross product (the round-2 64-dim collapse).
  */
case class SignBucketHash(child: Expression, planes: Int, seed: Long, dim: Int)
    extends UnaryExpression with KernelCodegen {

  // planes > 63 would wrap 1L << p so extra planes alias low bits; dim must
  // be positive for the plane matrix to exist
  require(planes >= 1 && planes <= 63,
    s"signBucket: planes must be in [1, 63], got $planes")
  require(dim >= 1, s"signBucket: dim must be >= 1, got $dim")

  override def prettyName: String = "sign_bucket"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<FLOAT> or ARRAY<DOUBLE>, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  // row-major ±1 matrix [p*dim + d]; @transient: each executor re-derives
  // it from (seed, planes, dim) instead of deserializing 8·planes·dim bytes
  @transient private lazy val signs: Array[Double] = {
    val a = new Array[Double](planes * dim)
    var p = 0
    while (p < planes) {
      var d = 0
      while (d < dim) {
        a(p * dim + d) = graft.similarity.Ann.planeSign(seed, p, d)
        d += 1
      }
      p += 1
    }
    a
  }

  @transient private lazy val elemIsFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def fail(len: String, nulls: String): Nothing =
    throw new IllegalArgumentException(
      s"signBucket: expected $dim-dim null-free vector, got len=$len nulls=$nulls")

  // no null short-cut: a null vector raises, on both evaluation paths
  override def eval(input: InternalRow): Any = nullSafeEval(child.eval(input))

  override def nullSafeEval(v: Any): Any = {
    if (v == null) fail("null", "null")
    val arr = v.asInstanceOf[ArrayData]
    if (arr.numElements() != dim) fail(arr.numElements().toString, "false")
    var code = 0L
    var p = 0
    while (p < planes) {
      val base = p * dim
      var acc = 0.0
      var d = 0
      while (d < dim) {
        if (arr.isNullAt(d)) fail(dim.toString, "true")
        val x = if (elemIsFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
        acc += x * signs(base + d)
        d += 1
      }
      if (acc >= 0.0) code |= 1L << p
      p += 1
    }
    code
  }

  override protected def withNewChildInternal(c: Expression): SignBucketHash =
    copy(child = c)
}

object SignBucketHash {
  /** Column facade used by [[graft.similarity.Ann.signBucket]]. */
  def signBucket(vec: Column, planes: Int, seed: Long, dim: Int): Column =
    Bridge.column(SignBucketHash(Bridge.expression(vec), planes, seed, dim))
}
