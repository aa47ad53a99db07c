package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftinternal.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused lowercase + space-trim + whitespace tokenization as ONE
  * byte scan — the drop-in replacement for `split(trim(lower(text)), "\\s+")`,
  * the opening move of every text operator in the engine (tf-idf, BM25,
  * shingles, MinHash, token stats, quality scores).
  *
  * Why an Expression and not the builtin chain: `split` with a regex
  * pattern decodes the whole UTF8String to a java.lang.String, runs the
  * java.util.regex machinery, and re-encodes every token back to UTF-8 —
  * three full passes plus regex state per character, on the hottest scan
  * of the corpus (profiled at sf1: the tokenize+explode pass alone costs
  * ~2.5s of t14's 3.5s total). This expression never leaves UTF-8: one
  * `toLowerCase` (Spark's own Lower kernel, ASCII fast path), then a
  * single byte scan that slices tokens out directly. Java's `\s` class is
  * exactly the six ASCII bytes {9,10,11,12,13,32} (Pattern compiles \s
  * without UNICODE_CHARACTER_CLASS), and UTF-8 multi-byte sequences only
  * use bytes >= 0x80, so the byte test equals the regex on every input —
  * including non-ASCII text and non-breaking spaces (U+00A0 is NOT \s and
  * is not split on, both sides).
  *
  * Exact replay contract (oracle parity): DuckDB replays the builtin chain
  * as `string_split_regex(trim(lower(text)), '\s+')`; this expression
  * replicates the Spark side of that agreement bit-for-bit, including the
  * Java `split(re, -1)` edge cases — empty input yields `[""]`, a leading
  * whitespace run yields a leading `""` field, a trailing run yields a
  * trailing `""` field, and `trim` strips ASCII space (0x20) ONLY.
  */
object WsTokens {

  @inline private def isWs(b: Byte): Boolean = b == 32 || (b >= 9 && b <= 13)

  /** lower → trim(space) → split-on-\s+ with Java limit=-1 semantics.
    * Called from [[WhitespaceTokens]]' nullSafeEval and [[TfIdfKernel]].
    *
    * One bulk `getBytes` materializes the lowered doc as a heap array;
    * every token is then a zero-copy `fromBytes(bytes, pos, len)` WRAP of
    * that array — no per-token allocation beyond the 16-byte wrapper, no
    * per-byte `getByte` bounds checks in either the scan or the slices.
    * The wraps pin the doc array until the consumer copies the tokens
    * out, which an explode/projection does immediately (UnsafeRow
    * writers copy bytes), so peak footprint is one doc per in-flight row.
    */
  def tokensOf(str: UTF8String): ArrayData = {
    val s = str.toLowerCase.trim()
    val n = s.numBytes
    if (n == 0) return new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
    val bytes = s.getBytes
    val out = new java.util.ArrayList[AnyRef](8)
    @inline def slice(from: Int, until: Int): UTF8String =
      if (until == from) UTF8String.EMPTY_UTF8
      else UTF8String.fromBytes(bytes, from, until - from)
    var pos = 0
    var i = 0
    while (i < n) {
      if (isWs(bytes(i))) {
        out.add(slice(pos, i)) // "" exactly when the string starts with ws
        i += 1
        while (i < n && isWs(bytes(i))) i += 1
        pos = i
      } else i += 1
    }
    out.add(slice(pos, n)) // "" exactly when the string ends with ws
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size)))
  }
}

/** `ws_tokens(text)` — see [[WsTokens]]. Output never contains nulls
  * (empty-field edges produce `""`, as the regex chain does).
  */
case class WhitespaceTokens(child: Expression) extends UnaryExpression
    with KernelCodegen {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ws_tokens"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ws_tokens expects STRING, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    WsTokens.tokensOf(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WhitespaceTokens {
  def tokens(text: Column): Column =
    Bridge.column(WhitespaceTokens(Bridge.expression(text)))
}
