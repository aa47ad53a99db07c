package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{IdfModel, TfIdfTopTerms}
import graft.functions.TextFunctions.tokens

/** Per-document top-k terms by tf-idf — `tf(doc, term) × ln(N /
  * df(term))`, rounded (5dp + epsilon) and ranked with a term tiebreak so
  * the top-k replays identically cross-engine.
  *
  * Two physical plans, one answer (TfIdfSpec pins the equivalence):
  *
  *  - KERNEL (vocabulary ≤ [[TfIdf.DefaultVocabCap]], the norm — natural-language
  *    vocabularies are Zipf-bounded, millions of terms against billions
  *    of documents): one vocabulary-sized aggregation builds the df
  *    table, which collapses with N into a broadcast term→idf hash map;
  *    the whole scoring + per-doc top-k then runs as ONE codegen'd
  *    row-local expression over a second narrow corpus scan
  *    ([[graft.functions.TfIdfKernel]]). No token-stream exchange, no
  *    corpus-sized window sort — at 100 TB the cost is two parallel
  *    scans and a vocabulary aggregation, full stop.
  *  - JOIN (vocabulary above the cap): the relational form — tf
  *    aggregated on a doc-clustered exchange, df derived from tf
  *    (vocabulary-sized, broadcast while it fits, shuffled beyond), and
  *    a per-doc row_number window that reuses the tf clustering. This is
  *    the plan that survives a vocabulary the driver cannot hold
  *    (byte-shingle or adversarial corpora).
  *
  * The dispatch probe costs one vocabulary aggregation capped at
  * `DefaultVocabCap + 1` collected rows — bounded by construction; the
  * kernel branch reuses exactly those rows as the model, so the probe is
  * never wasted work. [[graft.Regime]] makes the choice.
  */
object TfIdf {

  /** Default driver capacity for the broadcast idf model: 2^20 terms ≈
    * tens of MB as a UTF8String hash map — comfortably inside driver and
    * executor memory, far above any whitespace-token natural-language
    * vocabulary (sf1 measures 310).
    */
  val DefaultVocabCap = 1 << 20

  def topTerms(docs: DataFrame, idCol: String, textCol: String, k: Int)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = docs.sparkSession
    val dfreq = docs
      .select(explode(array_distinct(tokens(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // vocab probe + (if small) the model rows in one bounded collect.
    // Terms ride as BINARY: Spark string columns carry raw bytes that are
    // not guaranteed valid UTF-8 (parquet BYTE_ARRAY is unvalidated), and
    // a UTF8String → java String → UTF8String round-trip rewrites invalid
    // sequences to U+FFFD — the model key would then miss the tokenizer's
    // raw-byte term at probe time. string→binary cast is the identity on
    // the underlying bytes, so the model keys equal the executor's terms.
    val capped = dfreq
      .select(col("term").cast("binary").as("term"), col("df"))
      .limit(DefaultVocabCap + 1).collect()
    if (!graft.Regime.fits(capped.length, DefaultVocabCap))
      topTermsJoined(docs, idCol, textCol, k)
    else {
      val nDocs = docs.count().toDouble
      val idf = new java.util.HashMap[UTF8String, java.lang.Double](
        capped.length * 2)
      capped.foreach { r =>
        idf.put(UTF8String.fromBytes(r.getAs[Array[Byte]](0)),
          java.lang.Double.valueOf(math.log(nDocs / r.getLong(1))))
      }
      val bc = spark.sparkContext.broadcast(new IdfModel(idf))
      docs
        .select(col(idCol),
          posexplode(TfIdfTopTerms(col(textCol), bc, k)).as(Seq("pos", "top")))
        .select(col(idCol), (col("pos") + 1).cast("int").as("rnk"),
          col("top.term").as("term"), col("top.tfidf").as("tfidf"))
    }
  }

  /** The relational fallback plan — see [[topTerms]]. Public so the
    * equivalence law can exercise it directly.
    */
  def topTermsJoined(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    // ONE token-scale exchange for the whole query: the explicit doc_id
    // repartition satisfies the tf groupBy's ClusteredDistribution (a
    // subset of the grouping keys co-locates every group), survives the
    // broadcast joins, and the per-doc top-k window reuses it — so
    // neither the df join nor the window shuffles the token stream again
    val toks = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .repartition(col(idCol))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // df from tf, not from a second tokenize pass: tf is already one row
    // per (doc, term), so counting rows per term IS the distinct-doc
    // count. The df table is VOCABULARY-sized — broadcast only while its
    // size estimate fits the session threshold (a vocabulary that
    // outgrows the driver falls back to the shuffle join instead of
    // OOMing on a forced hint)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dfreqSide =
      if (SaltedJoin.broadcastable(dfreq)) broadcast(dfreq) else dfreq
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreqSide, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs") / col("df")) + 1e-9, 5))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))))
      .where(col("rnk") <= k)
      .select(col(idCol), col("rnk"), col("term"), col("tfidf"))
  }
}
