package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftinternal.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Expressions backing the DSIR importance-resampling operator
  * (`graft.operators.Dsir`, t34) — hashed n-gram features per document and
  * the per-document importance score against a fitted bucket log-ratio
  * table.
  *
  * The feature space is the published DSIR construction (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"):
  * unigrams and bigrams of the whitespace tokens, hashed into a fixed
  * number of buckets. The hash is [[Mod61.hash61]] — the same base-131
  * byte polynomial over GF(2^61-1) every sketch in this repo uses —
  * precisely so the DuckDB oracle can replay every bucket id in SQL
  * (HUGEINT arithmetic) instead of pinning golden values.
  *
  * Both expressions walk their input array once per row, allocate nothing
  * beyond the output, and are pure functions of the input (deterministic
  * across sessions/partitions).
  */
case class HashedNgramBuckets(child: Expression, buckets: Int)
    extends UnaryExpression with KernelCodegen {

  // 1 bucket would make every document's score n_grams·ratio[0] — a
  // degenerate fit; tiny counts are almost certainly a units mistake
  require(buckets >= 2, s"hashed_ngram_buckets: buckets must be >= 2, got $buckets")

  override def prettyName: String = "hashed_ngram_buckets"

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
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    // n unigrams then n-1 bigrams, in document order
    val out = new Array[Long](2 * n - 1)
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i < n) {
      out(i) = Mod61.hash61(toks.getUTF8String(i)) % buckets
      i += 1
    }
    i = 0
    while (i < n - 1) {
      val bg = UTF8String.concatWs(space,
        toks.getUTF8String(i), toks.getUTF8String(i + 1))
      out(n + i) = Mod61.hash61(bg) % buckets
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): HashedNgramBuckets =
    copy(child = c)
}

/** Sum of `table(b)` over a bucket-id array — the per-document DSIR
  * importance weight when `table` is the fitted log p(b) - log q(b). The
  * table rides the plan as a plain constructor field (a fixed `buckets`
  * doubles — the broadcast-sketch pattern of SketchExpressions, small
  * enough to serialize with every task closure).
  *
  * Summation order is the array order — deterministic per document; the
  * consumer rounds the sum (4dp + 1e-9 nudge, the t26 argument) before
  * anything order-sensitive, so the oracle's unordered SUM agrees.
  */
case class BucketTableSum(child: Expression, table: Array[Double])
    extends UnaryExpression with KernelCodegen {

  override def prettyName: String = "bucket_table_sum"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<BIGINT>, got ${other.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val bs = a.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    val n = bs.numElements()
    while (i < n) {
      val b = bs.getLong(i)
      require(b >= 0 && b < table.length,
        s"$prettyName: bucket id $b outside the fitted table of ${table.length} " +
          "- the score table was fitted with a different bucket count")
      acc += table(b.toInt)
      i += 1
    }
    acc
  }

  override protected def withNewChildInternal(c: Expression): BucketTableSum =
    copy(child = c)
}

/** [[Mod61.hash61]] of a string column — the deterministic uniform source
  * for DSIR's Gumbel perturbation (u = (hash61(id)+0.5)/p replays in DuckDB
  * exactly; rand() would not).
  */
case class Hash61(child: Expression)
    extends UnaryExpression with KernelCodegen {

  override def prettyName: String = "graft_hash61"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any =
    Mod61.hash61(a.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(c: Expression): Hash61 =
    copy(child = c)
}

object DsirExpressions {
  /** Hashed unigram+bigram bucket ids of a token array. */
  def ngramBuckets(tokens: Column, buckets: Int): Column =
    Bridge.column(HashedNgramBuckets(Bridge.expression(tokens), buckets))

  /** Sum of `table(b)` over a bucket-id array. */
  def bucketTableSum(bucketIds: Column, table: Array[Double]): Column =
    Bridge.column(BucketTableSum(Bridge.expression(bucketIds), table))

  /** hash61 of a string column. */
  def hash61(s: Column): Column =
    Bridge.column(Hash61(Bridge.expression(s)))
}
