package graft

import org.apache.spark.sql.DataFrame

import graft.operators.TfIdf

/** Laws of the two tf-idf physical plans (row-local kernel vs relational
  * join+window) — one answer whatever the dispatch picks.
  */
class TfIdfSpec extends SparkSpec {

  import spark.implicits._

  // planted structure: repeated terms (tf > 1), a ubiquitous term (idf
  // ln(1) = 0 exactly — the rounding edge), rounded-score TIES broken by
  // term order, single-term docs (fewer than k results), leading/trailing
  // whitespace (the [""] token edge), and mixed case
  private lazy val docs: DataFrame = Seq(
    (1L, "alpha alpha beta common"),
    (2L, "beta gamma common common"),
    (3L, "Alpha gamma common"),
    (4L, "common"),
    (5L, " padded common "),
    (6L, "zeta zeta zeta common")
  ).toDF("doc_id", "text")

  private def rows(df: DataFrame): Set[(Long, Int, String, Double)] =
    df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rnk"),
      r.getAs[String]("term"), r.getAs[Double]("tfidf"))).toSet

  test("kernel plan ≡ join plan on every row (the dispatch-equivalence law)") {
    val kernel = rows(TfIdf.topTerms(docs, "doc_id", "text", k = 3))
    val joined = rows(TfIdf.topTermsJoined(docs, "doc_id", "text", k = 3))
    assert(kernel === joined)
  }

  test("a vocabulary above the cap dispatches to the join plan, same answer") {
    // Regime.atScale forces the fallback on a 7-term vocabulary
    val forced = rows(Regime.atScale(TfIdf.topTerms(docs, "doc_id", "text", k = 3)))
    val joined = rows(TfIdf.topTermsJoined(docs, "doc_id", "text", k = 3))
    assert(forced === joined)
  }

  test("ranks are dense from 1 and capped at k; short docs yield short lists") {
    val out = rows(TfIdf.topTerms(docs, "doc_id", "text", k = 3))
    val byDoc = out.groupBy(_._1)
    assert(byDoc(4L).map(_._2) === Set(1), "single-term doc has one row")
    byDoc.foreach { case (doc, rs) =>
      val ranks = rs.map(_._2)
      assert(ranks === (1 to ranks.size).toSet, s"doc $doc ranks not dense: $ranks")
      assert(ranks.size <= 3)
    }
  }

  test("rounded-score ties order by term ascending (binary)") {
    // doc 2: beta and gamma both have tf=1 and df=2 → identical scores;
    // beta must outrank gamma
    val out = rows(TfIdf.topTerms(docs, "doc_id", "text", k = 3))
      .filter(_._1 == 2L).toSeq.sortBy(_._2)
    val beta = out.find(_._3 == "beta").get
    val gamma = out.find(_._3 == "gamma").get
    assert(beta._4 === gamma._4, "planted tie must tie after rounding")
    assert(beta._2 < gamma._2, "tie must break to the lexically smaller term")
  }

  test("ubiquitous term scores round(tf·ln(1)+1e-9, 5) = 0.0 exactly") {
    val out = rows(TfIdf.topTerms(docs, "doc_id", "text", k = 3))
    val common = out.filter(_._3 == "common")
    assert(common.nonEmpty)
    assert(common.forall(_._4 === 0.0))
  }

  test("invalid-UTF-8 terms survive the kernel model (raw-byte key law)") {
    // Spark string columns are raw bytes (parquet BYTE_ARRAY passes
    // through unvalidated); binary→string cast is the byte identity, so
    // 0xFF 0xFE here builds a term no java.lang.String can represent.
    // A model keyed via a String round-trip would rewrite it to U+FFFD,
    // miss the executor probe, and throw — the kernel must instead score
    // it identically to the join plan.
    import org.apache.spark.sql.functions.{col, concat, lit}
    val bad = Array[Byte](0xFF.toByte, 0xFE.toByte)
    val weird = Seq((10L, bad), (11L, bad))
      .toDF("doc_id", "raw")
      .select(col("doc_id"),
        concat(lit("alpha "), col("raw").cast("string")).as("text"))
    val corpus = docs.unionByName(weird)
    val kernel = TfIdf.topTerms(corpus, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(3))).toSet
    val joined = TfIdf.topTermsJoined(corpus, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(3))).toSet
    assert(kernel === joined)
    assert(kernel.exists(_._1 == 10L), "the invalid-byte doc must score")
  }

  test("null text scores as empty text (the coalesce-at-the-stats law)") {
    val withNull = docs.unionByName(Seq((7L, null: String)).toDF("doc_id", "text"))
    val kernel = rows(TfIdf.topTerms(withNull, "doc_id", "text", k = 3))
    val joined = rows(TfIdf.topTermsJoined(withNull, "doc_id", "text", k = 3))
    assert(kernel === joined)
  }
}
