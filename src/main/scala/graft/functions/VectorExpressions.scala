package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftinternal.Bridge.{column, expression}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for vector math over `ARRAY<FLOAT|DOUBLE>`
  * embedding columns (SURVEY.md §2.4 similarity search; §4.2 names cosine
  * the one justified custom-Catalyst item).
  *
  * Why an Expression and not a UDF or higher-order `aggregate`: a UDF boxes
  * both arrays per row; `zip_with`+`aggregate` allocate a lambda frame per
  * element. These generate (doGenCode) a tight primitive loop inside
  * whole-stage codegen — the difference between memory-bound and
  * compute-bound at 10^8 comparisons per executor.
  */
abstract class VectorBinaryExpression extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  /** Element representation per side: float/double array slots, or a
    * BINARY column of signed int8 codes (the [[QuantizeInt8]] storage
    * form) read byte-per-element. Everything else is rejected at analysis
    * time: the accessors read raw slots, so an int/long ARRAY would be
    * BIT-REINTERPRETED into garbage doubles (NaNs at best) instead of
    * failing.
    *
    * HAZARD — BINARY is untagged: ANY binary column (a media payload, a
    * hash, a serialized blob) type-checks as int8 codes and silently
    * scores byte-per-element; only a length mismatch against the other
    * side catches the mistake at runtime. Pass only columns produced by
    * [[QuantizeInt8]] / `withRetrievalColumns`. (A metadata tag on the
    * codes column that the kernel prefers is the long-term fix.)
    */
  protected sealed trait VecKind
  protected case object FloatVec extends VecKind
  protected case object DoubleVec extends VecKind
  protected case object ByteVec extends VecKind

  protected def kindOf(e: Expression): Option[VecKind] = e.dataType match {
    case ArrayType(FloatType, _)  => Some(FloatVec)
    case ArrayType(DoubleType, _) => Some(DoubleVec)
    case BinaryType               => Some(ByteVec)
    case _                        => None
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (kindOf(left).isDefined && kindOf(right).isDefined)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> (or binary int8 code) inputs, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  protected def leftKind: VecKind = kindOf(left).get
  protected def rightKind: VecKind = kindOf(right).get

  @inline protected final def lenOf(v: Any, k: VecKind): Int = k match {
    case ByteVec => v.asInstanceOf[Array[Byte]].length
    case _       => v.asInstanceOf[ArrayData].numElements()
  }

  @inline protected final def elem(v: Any, i: Int, k: VecKind): Double = k match {
    case FloatVec  => v.asInstanceOf[ArrayData].getFloat(i).toDouble
    case DoubleVec => v.asInstanceOf[ArrayData].getDouble(i)
    case ByteVec   => v.asInstanceOf[Array[Byte]](i).toDouble
  }

  /** Java accessor snippet for codegen (BinaryType's codegen value is a
    * raw `byte[]`, the array kinds are `ArrayData`).
    */
  protected def getter(v: String, i: String, k: VecKind): String = k match {
    case FloatVec  => s"(double) $v.getFloat($i)"
    case DoubleVec => s"$v.getDouble($i)"
    case ByteVec   => s"(double) $v[$i]"
  }

  protected def lenCode(v: String, k: VecKind): String = k match {
    case ByteVec => s"$v.length"
    case _       => s"$v.numElements()"
  }

  /** Mixed embedding dimensions are data corruption, not a computable case:
    * truncating to the shorter array would return plausible-looking but
    * wrong similarities with no signal (and DuckDB's list functions — the
    * reproducibility reference — error on mismatched lengths too).
    */
  @inline protected final def checkedLen(x: Any, y: Any, kx: VecKind, ky: VecKind): Int = {
    val n = lenOf(x, kx)
    val m = lenOf(y, ky)
    if (n != m)
      throw new IllegalArgumentException(
        s"$prettyName: vector dimensions differ (${n} vs ${m})")
    n
  }

  /** Codegen image of [[checkedLen]]. */
  protected def checkedLenCode(n: String, x: String, y: String,
      kx: VecKind, ky: VecKind): String =
    s"""
       |int $n = ${lenCode(x, kx)};
       |if ($n != ${lenCode(y, ky)}) {
       |  throw new IllegalArgumentException("$prettyName: vector dimensions differ ("
       |    + $n + " vs " + ${lenCode(y, ky)} + ")");
       |}
     """.stripMargin
}

/** dot(a, b) — sequential fold in array order (matters for cross-engine
  * FP reproducibility: DuckDB's list_dot_product folds the same way).
  */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val lk = leftKind; val rk = rightKind
    val n = checkedLen(a, b, lk, rk)
    var dot = 0.0; var i = 0
    while (i < n) { dot += elem(a, i, lk) * elem(b, i, rk); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      s"""
         |${checkedLenCode(n, x, y, leftKind, rightKind)}
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ${getter(x, i, leftKind)} * ${getter(y, i, rightKind)};
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot / (||a||·||b||); 0.0 when either norm is zero. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val lk = leftKind; val rk = rightKind
    val n = checkedLen(a, b, lk, rk)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xe = elem(a, i, lk); val ye = elem(b, i, rk)
      dot += xe * ye; na += xe * xe; nb += ye * ye; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xe = ctx.freshName("xe"); val ye = ctx.freshName("ye")
      s"""
         |${checkedLenCode(n, x, y, leftKind, rightKind)}
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xe = ${getter(x, i, leftKind)};
         |  double $ye = ${getter(y, i, rightKind)};
         |  $dot += $xe * $ye; $na += $xe * $xe; $nb += $ye * $ye;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** ||a||₂ — L2 norm. */
case class L2Norm(child: Expression) extends UnaryExpression {

  override def prettyName: String = "vec_norm"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  /** Same raw-slot-accessor hazard as the binary kernels: anything but a
    * float/double array would be bit-reinterpreted, so reject it at
    * analysis time.
    */
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an array<float|double> input, got ${other.simpleString}")
    }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var acc = 0.0; var i = 0
    val n = x.numElements()
    while (i < n) {
      val e = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      acc += e * e; i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) (v: String, i: String) => s"(double) $v.getFloat($i)"
              else (v: String, i: String) => s"$v.getDouble($i)"
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i"); val acc = ctx.freshName("acc"); val e = ctx.freshName("e")
      s"""
         |double $acc = 0.0;
         |for (int $i = 0; $i < $x.numElements(); $i++) {
         |  double $e = ${get(x, i)};
         |  $acc += $e * $e;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): L2Norm = copy(child = c)
}

/** int8 scalar quantization to BINARY: byte i = floor(xᵢ/‖x‖·127 + 0.5) —
  * the v07 code scheme, but packed ONE BYTE per element instead of an 8-byte
  * array slot, so a persisted `codes` column scans 4× smaller than float32
  * (8× smaller than the double-array form). Bit-parity with the on-the-fly
  * `transform(vec, x -> floor(x/vec_norm(vec)*127 + 0.5))` formulation:
  * same double accumulation order in the norm, same rounding expression, so
  * cosine over the codes is bit-identical whichever form produced them.
  * A zero-norm vector quantizes to all-zero bytes (its cosine is 0 anyway).
  */
case class QuantizeInt8(child: Expression) extends UnaryExpression {

  override def prettyName: String = "vec_quantize_int8"
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true

  /** Same raw-slot-accessor hazard as the other kernels: reject non-float
    * arrays at analysis time.
    */
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an array<float|double> input, got ${other.simpleString}")
    }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0.0; var i = 0
    while (i < n) {
      val e = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      acc += e * e; i += 1
    }
    val nrm = math.sqrt(acc)
    val out = new Array[Byte](n)
    if (nrm != 0.0) {
      i = 0
      while (i < n) {
        val e = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
        out(i) = math.floor(e / nrm * 127.0 + 0.5).toByte
        i += 1
      }
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) (v: String, i: String) => s"(double) $v.getFloat($i)"
              else (v: String, i: String) => s"$v.getDouble($i)"
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val nrm = ctx.freshName("nrm")
      val e = ctx.freshName("e"); val out = ctx.freshName("out")
      s"""
         |int $n = $x.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $e = ${get(x, i)};
         |  $acc += $e * $e;
         |}
         |double $nrm = java.lang.Math.sqrt($acc);
         |byte[] $out = new byte[$n];
         |if ($nrm != 0.0) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = (byte) java.lang.Math.floor(${get(x, i)} / $nrm * 127.0 + 0.5);
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): QuantizeInt8 = copy(child = c)
}

/** 64-bit SimHash over a token array: bit j of the result is the sign of
  * Σ_tokens (bit j of h64(token) ? +1 : -1) — the classic Charikar
  * sketch for near-duplicate text (SURVEY.md §2.4). Hamming distance between
  * SimHashes approximates token-multiset dissimilarity.
  *
  * h64 is assembled from two [[Mod61]] Carter-Wegman hashes of the
  * token's base hash — bits 0..60 from `(A3·x+C3) mod p`, bits 61..63
  * from the low bits of `(A4·x+C4) mod p` — so the t09 oracle can replay
  * every bit in DuckDB SQL (HUGEINT arithmetic; xxhash64's wrapping
  * 64-bit multiply could not be expressed there).
  */
case class SimHash64(child: Expression) extends UnaryExpression
    with KernelCodegen {

  override def prettyName: String = "simhash64"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val tok = arr.getUTF8String(i)
      if (tok != null) {
        val x = Mod61.hash61(tok)
        val h = Mod61.affine(Mod61.A3, x, Mod61.C3) |
          ((Mod61.affine(Mod61.A4, x, Mod61.C4) & 7L) << 61)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** Column-level facade. */
object VectorFunctions {
  def vec_dot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))
  def vec_cosine(a: Column, b: Column): Column = column(CosineSimilarity(expression(a), expression(b)))
  def vec_norm(a: Column): Column = column(L2Norm(expression(a)))
  def vec_quantize_int8(a: Column): Column = column(QuantizeInt8(expression(a)))
  def simhash64(tokens: Column): Column = column(SimHash64(expression(tokens)))
}
