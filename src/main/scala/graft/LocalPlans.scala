package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, LOCAL_RELATION}
import org.apache.spark.sql.types._

/** The small-input plan for the last operator of a query over a bag the
  * driver already holds. An `Aggregate` over a `LocalRelation` of at most
  * [[MaxRows]] rows (through [[Regime.fits]], so [[Regime.atScale]] keeps
  * Spark's plan) becomes the `LocalRelation` of its result, computed here
  * on the driver; Spark collects that with no job. The rule runs Spark's
  * own `ConvertToLocalRelation` first, so projections and filters between
  * aggregates fold too, to a fixed point: a count, a distinct (an
  * `Aggregate` of its keys), a distinct-then-count, `groupBy(..).count()`
  * and `Dataset.count()` over a walked traversal all end as a bare local
  * scan.
  *
  * It folds only where the answer is exactly Spark's, and leaves the plan
  * as it is otherwise: a streaming relation; a non-deterministic
  * expression or a subquery; an aggregate that is not declarative, is
  * DISTINCT or FILTERed, or depends on row order (`first`, `last`,
  * `any_value`, `max_by`, `min_by`); a float or double aggregation buffer;
  * a grouping key that is not binary-equal (floats, non-binary
  * collations); a sum or decimal average whose absolute values could
  * overflow its buffer in some order of addition. If the fold throws
  * anything (an error Spark would raise at execution, say), the plan is
  * left as it was and Spark raises its own error.
  *
  * Installed by [[GraftExtensions]], once per session.
  */
object LocalPlans extends Rule[LogicalPlan] {

  /** Most rows an aggregate folds on the driver: the most ids a
    * traversal hands on as a local relation
    * (`SnapshotIndex.MaxLocalFrontier`), so every bag the engine walks
    * folds. The fold evaluates Spark's own update expressions interpreted,
    * in one driver thread; past this size a local relation is left to
    * Spark's parallel plan.
    */
  val MaxRows = 1L << 16

  def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.containsAllPatterns(AGGREGATE, LOCAL_RELATION)) plan
    else ConvertToLocalRelation(plan).transformUp {
      case a @ Aggregate(_, _, r: LocalRelation, _) if Regime.fits(r.data.size.toLong, MaxRows) =>
        fold(a, r).getOrElse(a)
    }

  /** The result of `a` over `r`'s rows, or None where the fold may not
    * be exactly Spark's answer or fails.
    */
  private def fold(a: Aggregate, r: LocalRelation): Option[LocalRelation] =
    try a match {
      case PhysicalAggregation(keys, aggs, results, _) if !r.isStreaming &&
          a.expressions.forall(e => e.deterministic && !SubqueryExpression.hasSubquery(e)) &&
          keys.forall(k => binaryEqual(k.dataType)) && aggs.forall(exact) &&
          aggs.forall(ae => noOverflow(ae.aggregateFunction, r)) =>
        Some(LocalRelation(a.output, evaluate(keys, aggs, results, r)))
      case _ => None
    } catch { case NonFatal(_) => None }

  private def exact(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
      case _: First | _: Last | _: MaxMinBy => false
      case f: DeclarativeAggregate => f.aggBufferAttributes.forall(b => !floating(b.dataType))
      case _ => false
    })

  private def floating(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case ArrayType(e, _)        => floating(e)
    case MapType(k, v, _)       => floating(k) || floating(v)
    case StructType(fs)         => fs.exists(f => floating(f.dataType))
    case _                      => false
  }

  /** Types whose equal values have equal bytes in an `UnsafeRow`, so a
    * group is found by the key's bytes as Spark's hash aggregate finds it.
    */
  private def binaryEqual(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | BinaryType | _: DecimalType => true
    case s: StringType   => s == StringType // UTF8_BINARY, no collation
    case ArrayType(e, _) => binaryEqual(e)
    case StructType(fs)  => fs.forall(f => binaryEqual(f.dataType))
    case _               => false
  }

  /** A sum (and a decimal average's sum) can overflow its buffer, and
    * whether it does may depend on the order Spark's partitions add up
    * in. When the absolute values of its input sum within the buffer's
    * range, no order overflows, so the row-order fold is the answer.
    */
  private def noOverflow(f: AggregateFunction, r: LocalRelation): Boolean = {
    def fits(child: Expression, buffer: DataType): Boolean = {
      val limit = buffer match {
        case LongType       => Some(BigDecimal(Long.MaxValue))
        case d: DecimalType => Some(BigDecimal(10).pow(d.precision - d.scale) - BigDecimal(1, d.scale))
        case _              => None
      }
      val e = BindReferences.bindReference(child, r.output)
      limit.exists(max => r.data.iterator.map(e.eval(_)).foldLeft(BigDecimal(0)) {
        case (t, null)       => t
        case (t, d: Decimal) => t + d.toBigDecimal.abs
        case (t, n: Long)    => t + BigDecimal(n).abs
        case (t, n: Int)     => t + BigDecimal(n).abs
        case (t, n: Short)   => t + BigDecimal(n.toInt).abs
        case (t, n: Byte)    => t + BigDecimal(n.toInt).abs
        case (_, v)          => throw new IllegalStateException(s"sum over ${v.getClass}")
      } <= max)
    }
    f match {
      case s: Sum     => fits(s.child, s.aggBufferAttributes.head.dataType)
      case v: Average => fits(v.child, v.aggBufferAttributes.head.dataType)
      case _          => true
    }
  }

  /** Spark's complete-mode aggregation, interpreted, in row order: one
    * buffer per grouping key (one for a global aggregate, even over no
    * rows), updated row by row, then evaluated and projected.
    */
  private def evaluate(keys: Seq[NamedExpression], aggs: Seq[AggregateExpression],
      results: Seq[NamedExpression], r: LocalRelation): Seq[InternalRow] = {
    val fns = aggs.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
    val buffer = fns.flatMap(_.aggBufferAttributes)
    def mutable(es: Seq[Expression], in: Seq[Attribute]) = {
      val p = InterpretedMutableProjection.createProjection(BindReferences.bindReferences(es, in))
      p.initialize(0)
      p
    }
    val init = mutable(fns.flatMap(_.initialValues), Nil)
    val update = mutable(fns.flatMap(_.updateExpressions), buffer ++ r.output)
    val eval = mutable(fns.map(_.evaluateExpression), buffer)
    val key = InterpretedUnsafeProjection.createProjection(BindReferences.bindReferences(keys, r.output))
    val out = InterpretedUnsafeProjection.createProjection(BindReferences.bindReferences(
      results, keys.map(_.toAttribute) ++ aggs.map(_.resultAttribute)))
    val groups = new java.util.LinkedHashMap[InternalRow, InternalRow]
    def bufferOf(k: InternalRow): InternalRow = {
      val b = groups.get(k)
      if (b != null) b
      else {
        val fresh = init.target(new GenericInternalRow(buffer.length))(InternalRow.empty)
        groups.put(k.copy(), fresh)
        fresh
      }
    }
    if (keys.isEmpty) bufferOf(key(InternalRow.empty))
    val joined = new JoinedRow
    r.data.foreach { row =>
      val b = bufferOf(key(row))
      update.target(b)(joined(b, row))
    }
    val values = new GenericInternalRow(fns.length)
    groups.asScala.iterator.map { case (k, b) =>
      out(joined(k, eval.target(values)(b))).copy()
    }.toVector
  }
}
