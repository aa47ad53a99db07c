package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftinternal.Bridge
import org.apache.spark.sql.types._

/** Expressions backing product-quantization retrieval
  * ([[graft.similarity.Ann.pqTopK]], v15 — Jégou et al. 2011, "Product
  * Quantization for Nearest Neighbor Search"): the vector space splits
  * into `m` subspaces of `subDim` dims, each with its own `ksub`-codeword
  * codebook; a vector encodes as `m` small integers and a query scores a
  * code by table lookup (ADC — asymmetric distance computation).
  *
  * The codebook rides each expression as a flat `m·ksub·subDim` double
  * array (the broadcast-sketch pattern — at the production 8×256×8 that is
  * 16k doubles, task-closure sized). Both expressions walk their input
  * once and are pure functions of it.
  *
  * REPLAY CONTRACT (the reason these are expressions and not a fit step):
  * the codeword choice rounds each subspace L2² to 5dp with the shared
  * `floor((d + 1e-9)·1e5 + 0.5)/1e5` rule (the v07 floor(+0.5) spelling —
  * Spark's and DuckDB's `round()` agree on HALF_UP but the floor form is
  * engine-neutral by construction) and breaks ties toward the LOWEST
  * codeword index, so the DuckDB oracle re-derives every code exactly.
  * ADC table entries stay UNROUNDED; only the final per-pair score rounds
  * (in the operator), so no rounding error accumulates across subspaces.
  */
private[functions] trait PqCodebook {
  def child: Expression
  def codebook: Array[Double]
  def m: Int
  def ksub: Int
  def subDim: Int

  require(m >= 1 && ksub >= 1 && subDim >= 1,
    s"pq: m=$m ksub=$ksub subDim=$subDim must all be >= 1")
  require(codebook.length == m * ksub * subDim,
    s"pq: codebook of ${codebook.length} doubles for m=$m ksub=$ksub subDim=$subDim")

  @inline protected final def cb(s: Int, j: Int, d: Int): Double =
    codebook((s * ksub + j) * subDim + d)

  protected final def round5(x: Double): Double =
    math.floor((x + 1e-9) * 1e5 + 0.5) / 1e5

  protected final def checkVec(dt: DataType, name: String): TypeCheckResult =
    dt match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name expects ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
    }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected final def elem(a: ArrayData, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** The child's value, checked to span the codebook's `m·subDim` dims. */
  protected final def vec(a: Any, name: String): ArrayData = {
    val v = a.asInstanceOf[ArrayData]
    require(v.numElements() == m * subDim,
      s"$name: vector of ${v.numElements()} dims, codebook spans ${m * subDim}")
    v
  }

  /** The codeword of subspace `s` nearest `v`: the smallest 5dp-rounded
    * L2², ties to the lowest index — the choice the oracles replay.
    */
  protected final def nearest(v: ArrayData, s: Int): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var j = 0
    while (j < ksub) {
      var d2 = 0.0
      var d = 0
      while (d < subDim) {
        val diff = elem(v, s * subDim + d) - cb(s, j, d)
        d2 += diff * diff
        d += 1
      }
      val r = round5(d2)
      if (r < bestD) { bestD = r; best = j } // strict <: ties keep lowest j
      j += 1
    }
    best
  }
}

/** PQ code of a vector: for each subspace, the index of the codeword with
  * the smallest 5dp-rounded L2², ties to the lowest index. Output
  * `ARRAY<INT>` of length `m`.
  */
case class PqEncode(child: Expression, codebook: Array[Double],
    m: Int, ksub: Int, subDim: Int)
    extends UnaryExpression with KernelCodegen with PqCodebook {

  override def prettyName: String = "pq_encode"
  override def checkInputDataTypes(): TypeCheckResult =
    checkVec(child.dataType, prettyName)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val v = vec(a, prettyName)
    new GenericArrayData(Array.tabulate(m)(nearest(v, _)))
  }

  override protected def withNewChildInternal(c: Expression): PqEncode =
    copy(child = c)
}

/** The query-side ADC lookup table: `table[s·ksub + j]` = dot(query's
  * subvector s, codeword (s, j)) — UNROUNDED doubles, `m·ksub` entries.
  * A corpus code then scores as Σ_s table[s·ksub + code_s] (computed by
  * the operator, rounded once at the end).
  */
case class PqAdcTable(child: Expression, codebook: Array[Double],
    m: Int, ksub: Int, subDim: Int)
    extends UnaryExpression with KernelCodegen with PqCodebook {

  override def prettyName: String = "pq_adc_table"
  override def checkInputDataTypes(): TypeCheckResult =
    checkVec(child.dataType, prettyName)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val v = vec(a, prettyName)
    val out = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < ksub) {
        var dot = 0.0
        var d = 0
        while (d < subDim) {
          dot += elem(v, s * subDim + d) * cb(s, j, d)
          d += 1
        }
        out(s * ksub + j) = dot
        j += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): PqAdcTable =
    copy(child = c)
}

/** [[PqEncode]]'s STORAGE form: the same codes as one unsigned byte per
  * subspace (`ksub` ≤ 256 enforced) — the persisted 8-bytes-per-vector
  * column the stored retrieval coarse-scans. Identical codeword choice to
  * PqEncode by construction (same rounding, same ties).
  */
case class PqEncodeBytes(child: Expression, codebook: Array[Double],
    m: Int, ksub: Int, subDim: Int)
    extends UnaryExpression with KernelCodegen with PqCodebook {

  require(ksub <= 256, s"pq_encode_bytes: ksub=$ksub exceeds one byte per code")

  override def prettyName: String = "pq_encode_bytes"
  override def checkInputDataTypes(): TypeCheckResult =
    checkVec(child.dataType, prettyName)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val v = vec(a, prettyName)
    Array.tabulate(m)(nearest(v, _).toByte)
  }

  override protected def withNewChildInternal(c: Expression): PqEncodeBytes =
    copy(child = c)
}

/** ADC score of a stored byte-code row against a query's lookup table:
  * Σ_s table[s·ksub + code_s] — the per-pair work of the stored coarse
  * pass, m adds. Summation in subspace order, so the score is
  * bit-identical to the inline array-codes path.
  */
case class PqAdcScoreBytes(left: Expression, right: Expression, ksub: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with KernelCodegen {

  require(ksub >= 1, s"pq_adc_score: ksub must be >= 1, got $ksub")

  override def prettyName: String = "pq_adc_score"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (BINARY, ARRAY<DOUBLE>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(codesAny: Any, tableAny: Any): Any = {
    val codes = codesAny.asInstanceOf[Array[Byte]]
    val table = tableAny.asInstanceOf[ArrayData]
    require(codes.length * ksub == table.numElements(),
      s"$prettyName: ${codes.length}-byte code against a " +
        s"${table.numElements()}-entry table at ksub=$ksub — " +
        "codes and table come from different PQ geometries")
    var acc = 0.0
    var s = 0
    while (s < codes.length) {
      acc += table.getDouble(s * ksub + (codes(s) & 0xFF))
      s += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : PqAdcScoreBytes = copy(left = l, right = r)
}

object PqExpressions {
  def pqEncode(vec: Column, codebook: Array[Double], m: Int, ksub: Int,
      subDim: Int): Column =
    Bridge.column(PqEncode(Bridge.expression(vec), codebook, m, ksub, subDim))

  def pqEncodeBytes(vec: Column, codebook: Array[Double], m: Int, ksub: Int,
      subDim: Int): Column =
    Bridge.column(PqEncodeBytes(Bridge.expression(vec), codebook, m, ksub, subDim))

  def pqAdcTable(vec: Column, codebook: Array[Double], m: Int, ksub: Int,
      subDim: Int): Column =
    Bridge.column(PqAdcTable(Bridge.expression(vec), codebook, m, ksub, subDim))

  def pqAdcScore(codes: Column, table: Column, ksub: Int): Column =
    Bridge.column(PqAdcScoreBytes(Bridge.expression(codes),
      Bridge.expression(table), ksub))
}
