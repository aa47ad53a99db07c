package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftinternal.Bridge
import org.apache.spark.sql.types._

import graft.functions._

/** The engine's `SparkSessionExtensions` integration point (SURVEY.md
  * §4.2), for what the DataFrame facade alone can't deliver. It installs
  * two things into a session:
  *
  *   - the custom Catalyst *functions* (the one place the engine went
  *     below the public API), so they are reachable from pure SQL too:
  *
  *       spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *       spark.sql("SELECT vec_cosine(a.embedding, b.embedding) ...")
  *
  *   - one optimizer rule, [[LocalPlans]]: an aggregate over a local
  *     relation of at most `LocalPlans.MaxRows` rows is computed on the
  *     driver, so a count, distinct or `groupBy` over a bag the engine
  *     already holds (a walked traversal) runs no Spark job. It folds only
  *     where its answer is exactly Spark's — deterministic, declarative,
  *     order-free aggregates with no float buffers and binary-equal
  *     grouping keys, no possible overflow — and leaves any other plan,
  *     or one whose fold throws, to Spark. No strategy or logical plan
  *     node is injected.
  *
  * For an already-running session (notebook / driver-owned lifecycles
  * where the extensions conf was fixed at startup), the same catalog and
  * rule are installed by `GraftExtensions.register(spark)`; the engine
  * itself installs the rule on the session it first hands a driver-known
  * bag to. This file is the only place rules enter a session.
  *
  * The reference's analog is its fixed Template-Haskell-generated API
  * surface (edgy src/Edgy.hs:1-60): every operator the schema admits is
  * callable by name. Here the session's FunctionRegistry plays that role
  * for SQL callers.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => LocalPlans)
  }
}

object GraftExtensions {

  private type Builder = Seq[Expression] => Expression

  /** Fixed-arity guard: a wrong-arity SQL call fails at analysis with the
    * function's signature instead of a MatchError from `args(i)`.
    */
  private def arity(name: String, sig: String, n: Int)(b: Builder): Builder =
    args =>
      if (args.length == n) b(args)
      else throw new IllegalArgumentException(
        s"$name expects $n arguments — usage: $sig — got ${args.length}")

  /** Hyper-parameters (signature width, shingle size, plane count, seed)
    * must be integer LITERALS: they shape the expression's output type and
    * the executor-side constant state (e.g. the sign-LSH plane matrix), so
    * a per-row value is meaningless. Resolution runs before constant
    * folding, so arithmetic like `8+4` is also rejected — by design, the
    * call site should state the parameter it pins.
    */
  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType)                  => v
    case Literal(v: Long, LongType) if v.isValidInt    => v.toInt
    case Literal(v: Short, ShortType)                  => v.toInt
    case Literal(v: Byte, ByteType)                    => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: <$arg> must be an integer literal, got ${other.sql}")
  }

  private def litLong(e: Expression, fn: String, arg: String): Long = e match {
    case Literal(v: Long, LongType)     => v
    case Literal(v: Int, IntegerType)   => v.toLong
    case Literal(v: Short, ShortType)   => v.toLong
    case Literal(v: Byte, ByteType)     => v.toLong
    case other => throw new IllegalArgumentException(
      s"$fn: <$arg> must be an integer literal, got ${other.sql}")
  }

  /** Constant double-array hyper-parameters (a DSIR score table, a PQ
    * codebook): the expression holds them as executor-side constant state
    * (the broadcast-sketch pattern), so the SQL argument must FOLD to a
    * constant — `array(0.1, ...)` of literals qualifies (the builder runs
    * after children resolve, so a foldable tree evals here); a per-row
    * column cannot. Null elements rejected: a null table entry has no
    * meaning in either consumer.
    */
  private def litDoubleArray(e: Expression, fn: String, arg: String): Array[Double] = {
    val ok = e.foldable && (e.dataType match {
      case ArrayType(_: NumericType, _) => true
      case _                            => false
    })
    if (!ok) throw new IllegalArgumentException(
      s"$fn: <$arg> must be a constant ARRAY of numbers " +
        s"(e.g. array(0.1, 0.2, ...)), got ${e.sql}")
    // SQL numeric literals parse as DECIMAL; fold through one cast so every
    // numeric element type lands on the double the expression stores
    val ad = org.apache.spark.sql.catalyst.expressions.Cast(e, ArrayType(DoubleType))
      .eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (ad == null) throw new IllegalArgumentException(
      s"$fn: <$arg> must not be NULL")
    Array.tabulate(ad.numElements()) { i =>
      if (ad.isNullAt(i)) throw new IllegalArgumentException(
        s"$fn: <$arg> contains a NULL element at position $i")
      ad.getDouble(i)
    }
  }

  /** Shared codebook-geometry resolution for the pq_* functions: m and
    * ksub are literal hyper-params, subDim falls out of the codebook
    * length — a non-divisible length is a mis-pasted codebook, caught
    * here with the arithmetic instead of a downstream require.
    */
  private def pqGeometry(fn: String, args: Seq[Expression])
      : (Array[Double], Int, Int, Int) = {
    val codebook = litDoubleArray(args(1), fn, "codebook")
    val m = litInt(args(2), fn, "m")
    val ksub = litInt(args(3), fn, "ksub")
    require(m >= 1 && ksub >= 1 && codebook.length % (m * ksub) == 0,
      s"$fn: codebook of ${codebook.length} doubles does not divide into " +
        s"m=$m x ksub=$ksub codewords")
    (codebook, m, ksub, codebook.length / (m * ksub))
  }

  private def desc(name: String, clazz: Class[_], sig: String, n: Int)(
      b: Builder): (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, null, name),
      arity(name, sig, n)(b))

  /** The full SQL-callable catalog — one entry per custom expression the
    * engine defines. Column-facade equivalents: [[VectorFunctions]],
    * [[MinHashSignature.minhashSig]], [[SignBucketHash.signBucket]].
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    desc("vec_dot", classOf[DotProduct],
      "vec_dot(array<float|double>|binary, array<float|double>|binary)", 2) {
      a => DotProduct(a(0), a(1))
    },
    desc("vec_cosine", classOf[CosineSimilarity],
      "vec_cosine(array<float|double>|binary, array<float|double>|binary)", 2) {
      a => CosineSimilarity(a(0), a(1))
    },
    desc("vec_norm", classOf[L2Norm], "vec_norm(array<float|double>)", 1) {
      a => L2Norm(a(0))
    },
    desc("vec_quantize_int8", classOf[QuantizeInt8],
      "vec_quantize_int8(array<float|double>)", 1) {
      a => QuantizeInt8(a(0))
    },
    desc("simhash64", classOf[SimHash64], "simhash64(array<string>)", 1) {
      a => SimHash64(a(0))
    },
    desc("minhash_signature", classOf[MinHashSignature],
      "minhash_signature(tokens array<string>, k int, shingle_n int)", 3) {
      a => MinHashSignature(a(0),
        litInt(a(1), "minhash_signature", "k"),
        litInt(a(2), "minhash_signature", "shingle_n"))
    },
    desc("sign_bucket", classOf[SignBucketHash],
      "sign_bucket(vec array<float|double>, planes int, seed bigint, dim int)", 4) {
      a => SignBucketHash(a(0),
        litInt(a(1), "sign_bucket", "planes"),
        litLong(a(2), "sign_bucket", "seed"),
        litInt(a(3), "sign_bucket", "dim"))
    },
    desc("cdc_chunks", classOf[CdcChunks],
      "cdc_chunks(tokens array<string>, divisor int)", 2) {
      a => CdcChunks(a(0), litInt(a(1), "cdc_chunks", "divisor"))
    },
    desc("graft_hash61", classOf[Hash61], "graft_hash61(s string)", 1) {
      a => Hash61(a(0))
    },
    desc("ws_tokens", classOf[WhitespaceTokens], "ws_tokens(text string)", 1) {
      a => WhitespaceTokens(a(0))
    },
    desc("hashed_ngram_buckets", classOf[HashedNgramBuckets],
      "hashed_ngram_buckets(tokens array<string>, buckets int)", 2) {
      a => HashedNgramBuckets(a(0),
        litInt(a(1), "hashed_ngram_buckets", "buckets"))
    },
    desc("bucket_table_sum", classOf[BucketTableSum],
      "bucket_table_sum(bucket_ids array<bigint>, table constant array<double>)",
      2) {
      a => BucketTableSum(a(0), litDoubleArray(a(1), "bucket_table_sum", "table"))
    },
    desc("pq_encode", classOf[PqEncode],
      "pq_encode(vec array<float|double>, codebook constant array<double>, " +
        "m int, ksub int)", 4) { a =>
      val (cb, m, ksub, subDim) = pqGeometry("pq_encode", a)
      PqEncode(a(0), cb, m, ksub, subDim)
    },
    desc("pq_encode_bytes", classOf[PqEncodeBytes],
      "pq_encode_bytes(vec array<float|double>, codebook constant array<double>, " +
        "m int, ksub int)", 4) { a =>
      val (cb, m, ksub, subDim) = pqGeometry("pq_encode_bytes", a)
      PqEncodeBytes(a(0), cb, m, ksub, subDim)
    },
    desc("pq_adc_table", classOf[PqAdcTable],
      "pq_adc_table(vec array<float|double>, codebook constant array<double>, " +
        "m int, ksub int)", 4) { a =>
      val (cb, m, ksub, subDim) = pqGeometry("pq_adc_table", a)
      PqAdcTable(a(0), cb, m, ksub, subDim)
    },
    desc("pq_adc_score", classOf[PqAdcScoreBytes],
      "pq_adc_score(codes binary, table array<double>, ksub int)", 3) {
      a => PqAdcScoreBytes(a(0), a(1), litInt(a(2), "pq_adc_score", "ksub"))
    })

  /** Install the catalog and [[LocalPlans]] into a LIVE session (the
    * extensions conf can only take effect at session construction).
    * Idempotent: re-registration replaces the same entries.
    */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (id, info, builder) =>
      Bridge.registerFunction(spark, id, info, builder)
    }
    installRules(spark)
  }

  /** Sessions whose optimizer is known to run [[LocalPlans]]. */
  private val ruled = new java.util.WeakHashMap[SparkSession, java.lang.Boolean]

  /** Makes `spark`'s optimizer run [[LocalPlans]], once per session and
    * safely from any thread: a session built with these extensions
    * already has it; any other gets it as an extra optimization.
    */
  private[graft] def installRules(spark: SparkSession): Unit = ruled.synchronized {
    if (!ruled.containsKey(spark)) {
      val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val has = s.sessionState.optimizer.extendedOperatorOptimizationRules.contains(LocalPlans) ||
        s.experimental.extraOptimizations.contains(LocalPlans)
      if (!has) s.experimental.extraOptimizations = s.experimental.extraOptimizations :+ LocalPlans
      ruled.put(spark, true)
    }
  }
}
