package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftinternal.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/** Probes against broadcast sketches (CountMinSketch /
  * BloomFilter from Spark's public `org.apache.spark.util.sketch`).
  *
  * Why Expressions and not UDFs: the probe sits on the 100 TB scan's hot
  * path — every corpus row passes through it before the prefilter drops
  * the tail ([[graft.operators.Sketch]]). A ScalaUDF forces a
  * per-row InternalRow→Row conversion and breaks the surrounding
  * whole-stage-codegen span; these probe the sketch directly on the
  * UTF8String's bytes inside the generated loop ([[KernelCodegen]]).
  *
  * Hash agreement (the correctness-critical invariant): both sketches are
  * BUILT from string columns, which Spark's builders feed as UTF-8 bytes
  * (`CountMinSketchAgg.update` / `BloomFilterImpl.putString` both reduce
  * to the binary path), so probing with `estimateCount(utf8.getBytes)` /
  * `mightContainBinary(utf8.getBytes)` hashes the exact same bytes. The
  * String-key requirement is enforced at plan time here AND at operator
  * construction ([[graft.operators.Sketch.requireStringKey]]).
  *
  * The sketch rides a `Broadcast` (one copy per executor, not per task
  * closure); a `@transient lazy val` resolves `.value` once per
  * deserialized expression, so the per-row cost is the sketch's own
  * hash-and-lookup.
  */
private[graft] trait SketchProbe extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING (sketch and probe must hash the same " +
        s"bytes), got ${other.catalogString}")
  }
}

/** `estimateCount(key) >= threshold` against a broadcast CountMinSketch —
  * the prefilter predicate of [[graft.operators.Sketch.heavyHitters]].
  * One-sided: CMS never undercounts, so this is always a superset of the
  * truly-heavy keys.
  */
case class CmsAtLeast(child: Expression, bcCms: Broadcast[CountMinSketch],
    threshold: Long) extends SketchProbe {

  override def prettyName: String = "cms_at_least"

  @transient private lazy val cms: CountMinSketch = bcCms.value

  override def nullSafeEval(v: Any): Any =
    cms.estimateCount(v.asInstanceOf[UTF8String].getBytes) >= threshold

  override protected def withNewChildInternal(c: Expression): CmsAtLeast =
    copy(child = c)
}

/** `mightContain(key)` against a broadcast BloomFilter — the scan
  * prefilter of [[graft.operators.Sketch.bloomJoin]]. One-sided: a miss
  * PROVES non-membership.
  */
case class BloomMightContain(child: Expression, bcBloom: Broadcast[BloomFilter])
    extends SketchProbe {

  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val bloom: BloomFilter = bcBloom.value

  override def nullSafeEval(v: Any): Any =
    bloom.mightContainBinary(v.asInstanceOf[UTF8String].getBytes)

  override protected def withNewChildInternal(c: Expression): BloomMightContain =
    copy(child = c)
}

object SketchProbes {
  def cmsAtLeast(key: Column, bc: Broadcast[CountMinSketch],
      threshold: Long): Column =
    Bridge.column(CmsAtLeast(Bridge.expression(key), bc, threshold))

  def bloomMightContain(key: Column, bc: Broadcast[BloomFilter]): Column =
    Bridge.column(BloomMightContain(Bridge.expression(key), bc))
}
