package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftinternal.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking of a token array — the rolling-hash boundary
  * rule behind substring-granularity exact dedup (t32).
  *
  * Why content-DEFINED and not a fixed grid: t22's fixed token blocks
  * miss boilerplate that is SHIFTED by a few tokens (a different-length
  * preamble moves every later block off the grid, so no block hash ever
  * matches). Here a chunk boundary is declared after token `i` iff the
  * rolling hash of the last `Window`=3 tokens satisfies
  * `h_i mod divisor == 0` — a purely LOCAL rule (the Rabin/Gear-style
  * anchoring used by content-defined storage dedup), so two documents
  * sharing a long span cut it at the SAME interior positions regardless
  * of what precedes the span: boundaries re-synchronize within one
  * window of the span's start, and every interior chunk hash matches.
  *
  * The hash lives in [[Mod61]]'s field (x_j = hash61(token_j),
  * h_i = (x_{i-2}·131² + x_{i-1}·131 + x_i) mod p, out-of-range terms
  * zero) so the t32 oracle replays every boundary in DuckDB SQL with
  * `lag()` windows and HUGEINT arithmetic — same replay argument as the
  * t08/t09 signatures.
  *
  * `divisor` is the expected chunk length in tokens (boundary probability
  * 1/divisor per position). No min/max chunk clamps: they would make
  * boundary eligibility depend on the PREVIOUS boundary (sequential
  * state, not SQL-replayable with one window pass) and cost the resync
  * property at span starts; the dedup consumer tolerates occasional
  * short/long chunks. The final chunk is the unanchored remainder, so
  * every non-empty token array yields >= 1 chunk.
  *
  * Returns ARRAY<STRUCT<n_tokens INT, chunk_text STRING>> in document
  * order (posexplode supplies the chunk index).
  */
case class CdcChunks(child: Expression, divisor: Int)
    extends UnaryExpression with KernelCodegen {

  require(divisor >= 1, s"cdc_chunks: divisor must be >= 1, got $divisor")

  override def prettyName: String = "cdc_chunks"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("chunk_text", StringType, nullable = false))),
    containsNull = false)

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val toks = a.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    val space = UTF8String.fromString(" ")

    def emit(start: Int, end: Int): Unit = { // tokens [start, end] inclusive
      val parts = new Array[UTF8String](end - start + 1)
      var j = start
      while (j <= end) { parts(j - start) = toks.getUTF8String(j); j += 1 }
      out += new GenericInternalRow(Array[Any](
        end - start + 1, UTF8String.concatWs(space, parts: _*)))
    }

    var start = 0
    var x1 = 0L // hash61 of token i-1 (0 when out of range)
    var x2 = 0L // hash61 of token i-2
    var i = 0
    while (i < n) {
      val xi = Mod61.hash61(toks.getUTF8String(i))
      // (x2·131² + x1·131 + xi) mod p — three sub-p terms, one fold
      var h = Mod61.mulmod(x2, 17161L) + Mod61.mulmod(x1, 131L) + xi
      h = (h & Mod61.P) + (h >>> 61)
      if (h >= Mod61.P) h -= Mod61.P
      if (h % divisor == 0) { emit(start, i); start = i + 1 }
      x2 = x1
      x1 = xi
      i += 1
    }
    if (start < n) emit(start, n - 1)
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(c: Expression): CdcChunks =
    copy(child = c)
}

object CdcChunks {
  /** Column facade: content-defined chunks with expected length `divisor`
    * tokens.
    */
  def cdcChunks(tokens: Column, divisor: Int): Column =
    Bridge.column(CdcChunks(Bridge.expression(tokens), divisor))
}
