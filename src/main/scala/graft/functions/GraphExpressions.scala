package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftinternal.Bridge
import org.apache.spark.sql.types._

/** The per-edge triangle contribution list, fused: for a directed edge
  * `(s, t)` with sorted out-neighbor lists `ns`/`nt`, the closers are
  * `ws = ns ∩ nt`; the edge contributes `(s, |ws|)`, `(t, |ws|)` and one
  * `(w, 1)` per closer — `ARRAY<STRUCT<vid BIGINT, c BIGINT>>`, empty
  * (and thus dropped by the consuming explode) when nothing closes. One
  * native kernel instead of merge + `size` + `concat` + `transform(...)`:
  * the HOF spelling is interpreted, a lambda frame per element on the
  * wedge-scale hot loop this sits in.
  *
  * The intersection is a two-pointer merge, not the builtin
  * `array_intersect`, which builds a hash set per row and probes it
  * element-wise. PRECONDITION (caller-enforced): both lists ascending,
  * distinct and null-free — what `array_sort(collect_list(...))` over a
  * dedup'd edge set emits, the adjacency build in GraphAlgos. On unsorted
  * input the merge silently drops matches. GraphSpec pins the closers
  * equal to `array_intersect` on that input shape.
  */
case class TriangleContribs(
    s: Expression, t: Expression, ns: Expression, nt: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with KernelCodegen {

  override def first: Expression = s
  override def second: Expression = t
  override def third: Expression = ns
  override def fourth: Expression = nt

  override def dataType: DataType = TriangleContribs.OutType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "triangle_contribs"

  override def checkInputDataTypes(): TypeCheckResult =
    (s.dataType, t.dataType, ns.dataType, nt.dataType) match {
      case (LongType, LongType, ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "triangle_contribs expects (BIGINT, BIGINT, ARRAY<BIGINT>, ARRAY<BIGINT>)")
    }

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    TriangleContribs.contribs(a.asInstanceOf[Long], b.asInstanceOf[Long],
      c.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      f: Expression, sec: Expression, th: Expression, fo: Expression): Expression =
    copy(s = f, t = sec, ns = th, nt = fo)
}

object TriangleContribs {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  val OutType: DataType = ArrayType(
    StructType(Seq(
      StructField("vid", LongType, nullable = false),
      StructField("c", LongType, nullable = false))),
    containsNull = false)

  private val Empty = new GenericArrayData(new Array[AnyRef](0))

  def contribs(s: Long, t: Long, ns: ArrayData, nt: ArrayData): ArrayData = {
    val na = ns.numElements()
    val nb = nt.numElements()
    val ws = new Array[Long](if (na < nb) na else nb)
    var k = 0
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val x = ns.getLong(i)
      val y = nt.getLong(j)
      if (x == y) { ws(k) = x; k += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    if (k == 0) return Empty
    val out = new Array[AnyRef](k + 2)
    out(0) = new GenericInternalRow(Array[Any](s, k.toLong)): InternalRow
    out(1) = new GenericInternalRow(Array[Any](t, k.toLong)): InternalRow
    var m = 0
    while (m < k) {
      out(m + 2) = new GenericInternalRow(Array[Any](ws(m), 1L)): InternalRow
      m += 1
    }
    new GenericArrayData(out)
  }

  def triangleContribs(s: Column, t: Column, ns: Column, nt: Column): Column =
    Bridge.column(TriangleContribs(Bridge.expression(s), Bridge.expression(t),
      Bridge.expression(ns), Bridge.expression(nt)))
}

/** All ascending pairs `(a(i), a(j)), i < j` of a sorted distinct
  * `ARRAY<BIGINT>` as `ARRAY<STRUCT<u BIGINT, v BIGINT>>` — the per-key
  * co-occurrence edge generator (g09's co-purchase graph: one sorted
  * item set per order → its C(k,2) canonical edges, generated LOCALLY).
  *
  * Why an Expression: the alternative is a self-join on the grouping key,
  * which shuffles the input twice and runs join machinery to produce
  * exactly these rows (measured at sf1: the lineitem self-join spent
  * ~4s of g09's canon stage that per-order local expansion avoids). A
  * higher-order-function spelling (nested `transform` + `slice` +
  * `flatten`) computes the same thing but HOFs run interpreted — lambda
  * frames per element on a 40M-struct stream.
  *
  * The per-key quadratic fan-out is the CALLER's skew contract, same as
  * any groupBy-explode: a key with k items emits C(k,2) pairs (TPC-H
  * orders cap at 7 lineitems; a 10k-item key would emit 50M structs from
  * one row and belongs on a different algorithm). Ascending-distinct
  * input keeps every emitted pair already canonical (u < v).
  */
case class AscendingPairs(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with KernelCodegen {

  override def dataType: DataType = AscendingPairs.OutType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ascending_pairs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ascending_pairs expects ARRAY<BIGINT>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    AscendingPairs.expand(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AscendingPairs {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  val OutType: DataType = ArrayType(
    StructType(Seq(
      StructField("u", LongType, nullable = false),
      StructField("v", LongType, nullable = false))),
    containsNull = false)

  def expand(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[AnyRef](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val u = a.getLong(i)
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(
          Array[Any](u, a.getLong(j))): InternalRow
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def pairs(arr: Column): Column =
    Bridge.column(AscendingPairs(Bridge.expression(arr)))
}
