package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftinternal.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass MinHash signature over a token array: shingles of `shingleN`
  * consecutive tokens, `k` signature slots.
  *
  * Why an Expression and not the HOF composition
  * (`transform(sequence(0,k-1), i -> array_min(transform(shingles, s ->
  * hash(i, s))))`): the interpreted higher-order path re-evaluates the
  * whole shingle subtree per outer slot — k× re-shingling plus per-element
  * lambda frames, which measured ~3 orders of magnitude slower at sf0.1.
  * This implementation walks the tokens once, base-hashes each shingle
  * into GF(2^61-1) and derives the k slot hashes by Carter-Wegman double
  * hashing slot_i = (u + i·v) mod p — O(shingles·k) integer adds, no
  * allocation beyond the signature array.
  *
  * The [[Mod61]] field arithmetic (not xxhash64) makes every slot
  * REPLAYABLE in DuckDB SQL with HUGEINT intermediates — the t08 oracle
  * computes these exact signatures independently instead of pinning
  * golden values.
  *
  * Deterministic across sessions/partitions: pure function of the input.
  */
case class MinHashSignature(child: Expression, k: Int, shingleN: Int)
    extends UnaryExpression with KernelCodegen {

  // k <= 0 would emit an empty signature (divide-by-zero in the Jaccard
  // estimate); shingleN <= 0 would absorb only the empty shingle, making
  // every document's signature identical — an all-pairs candidate explosion
  require(k >= 1, s"minhash_signature: k must be >= 1, got $k")
  require(shingleN >= 1, s"minhash_signature: shingleN must be >= 1, got $shingleN")

  override def prettyName: String = "minhash_signature"

  /** Analysis-time type contract: a non-ARRAY<STRING> child fails cleanly
    * at plan time instead of a runtime ClassCastException / garbage reads.
    */
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val toks = a.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val sig = Array.fill(k)(Long.MaxValue)

    def absorb(shingle: UTF8String): Unit = {
      val x = Mod61.hash61(shingle)
      val u = Mod61.affine(Mod61.A1, x, Mod61.C1)
      val v = Mod61.affine(Mod61.A2, x, Mod61.C2)
      var i = 0
      var h = u
      while (i < k) {
        if (h < sig(i)) sig(i) = h
        h += v // slot_{i+1} = (u + (i+1)·v) mod p: both < p, one subtract
        if (h >= Mod61.P) h -= Mod61.P
        i += 1
      }
    }

    if (n < shingleN) {
      // degenerate doc: single whole-text shingle (mirrors TextFunctions.shingles)
      val parts = new Array[UTF8String](math.max(n, 0))
      var i = 0
      while (i < n) { parts(i) = toks.getUTF8String(i); i += 1 }
      absorb(UTF8String.concatWs(UTF8String.fromString(" "), parts: _*))
    } else {
      val space = UTF8String.fromString(" ")
      var s = 0
      val parts = new Array[UTF8String](shingleN)
      while (s <= n - shingleN) {
        var j = 0
        while (j < shingleN) { parts(j) = toks.getUTF8String(s + j); j += 1 }
        absorb(UTF8String.concatWs(space, parts: _*))
        s += 1
      }
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSignature =
    copy(child = c)
}

object MinHashSignature {
  /** Column facade: signature of `k` slots over `shingleN`-gram shingles of
    * a token array.
    */
  def minhashSig(tokens: Column, k: Int, shingleN: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(tokens), k, shingleN))
}
