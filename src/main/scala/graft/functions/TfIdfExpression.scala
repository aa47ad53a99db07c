package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftinternal.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Driver-built scoring model for the row-local tf-idf kernel: term →
  * idf = ln(n_docs / df), precomputed so the per-row probe is one hash
  * lookup. Ships ONCE per executor via Broadcast (the CmsAtLeast
  * pattern). Keys are UTF8String — the tokenizer's native type — so the
  * probe never decodes to java.lang.String.
  *
  * The model must cover every term of the corpus it scores (it is built
  * from the same corpus's document frequencies); a missing term is a
  * corpus/model mismatch and fails loudly rather than scoring wrong.
  */
final class IdfModel(val idf: java.util.HashMap[UTF8String, java.lang.Double])
  extends Serializable

/** The per-document kernel behind `tfidf_top_terms`: tokenize (the
  * [[WsTokens]] byte scan), count term frequencies into a small hash map,
  * score each DISTINCT term as `round(tf * idf(term) + 1e-9, 5)` —
  * bit-identical to the relational form `round(tf * ln(n_docs/df) + 1e-9,
  * 5)` that the DuckDB oracle replays (same doubles, same
  * BigDecimal.valueOf HALF_UP rounding as Spark's `round`) — and return
  * the top-k entries ordered by (tfidf DESC, term ASC binary), the same
  * total order the window form ranks by.
  *
  * Why a kernel and not the tf/df-join + window plan: per-document term
  * weights only need that document's tokens plus the (tiny, corpus-wide)
  * df table, so with df broadcast the WHOLE query is row-local — no
  * token-stream exchange, no corpus-sized window sort. At 100 TB that is
  * the difference between one narrow scan and shuffling the full token
  * stream twice. The join plan remains as the fallback for corpora whose
  * vocabulary outgrows the driver ([[graft.operators.TfIdf]] dispatches).
  */
object TfIdfKernel {

  def topTerms(text: UTF8String, model: IdfModel, k: Int): ArrayData = {
    val toks = WsTokens.tokensOf(text)
    val n = toks.numElements()
    val tf = new java.util.HashMap[UTF8String, Array[Long]](Math.max(8, n))
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      val slot = tf.get(t)
      if (slot == null) tf.put(t, Array(1L)) else slot(0) += 1L
      i += 1
    }
    val entries = new Array[AnyRef](tf.size)
    var j = 0
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val idf = model.idf.get(e.getKey)
      if (idf == null) throw new IllegalStateException(
        s"term '${e.getKey}' absent from the idf model — the model must " +
          "be built from the document frequencies of the scored corpus")
      entries(j) = (round5(e.getValue()(0) * idf.doubleValue() + 1e-9), e.getKey)
      j += 1
    }
    java.util.Arrays.sort(entries, EntryOrder)
    val out = new Array[Any](Math.min(k, entries.length))
    var p = 0
    while (p < out.length) {
      val (score, term) = entries(p).asInstanceOf[(Double, UTF8String)]
      out(p) = new GenericInternalRow(Array[Any](term, score))
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Spark's `round(x, 5)` for doubles, exactly: BigDecimal.valueOf
    * (Double.toString shortest-representation semantics) + HALF_UP.
    */
  @inline private def round5(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(5, java.math.RoundingMode.HALF_UP).doubleValue()

  private object EntryOrder extends java.util.Comparator[AnyRef] {
    override def compare(a: AnyRef, b: AnyRef): Int = {
      val (sa, ta) = a.asInstanceOf[(Double, UTF8String)]
      val (sb, tb) = b.asInstanceOf[(Double, UTF8String)]
      val c = java.lang.Double.compare(sb, sa) // score DESC
      if (c != 0) c else ta.compareTo(tb)      // term ASC (binary)
    }
  }
}

/** `tfidf_top_terms(text)` → `array<struct<term string, tfidf double>>`,
  * the document's top-k distinct terms by rounded tf-idf (see
  * [[TfIdfKernel]]). The idf model rides a Broadcast, resolved once per
  * deserialized expression.
  */
case class TfIdfTopTerms(child: Expression, bcModel: Broadcast[IdfModel],
    k: Int) extends UnaryExpression with KernelCodegen {

  override def prettyName: String = "tfidf_top_terms"
  override def nullIntolerant: Boolean = true

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tfidf", DoubleType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING, got ${other.catalogString}")
  }

  @transient private lazy val model: IdfModel = bcModel.value

  override protected def nullSafeEval(input: Any): Any =
    TfIdfKernel.topTerms(input.asInstanceOf[UTF8String], model, k)

  override protected def withNewChildInternal(c: Expression): TfIdfTopTerms =
    copy(child = c)
}

object TfIdfTopTerms {
  def apply(text: Column, bc: Broadcast[IdfModel], k: Int): Column =
    Bridge.column(TfIdfTopTerms(Bridge.expression(text), bc, k))
}
