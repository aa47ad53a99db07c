package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Retrieval

/** Laws of BM25 ranked retrieval and reciprocal-rank fusion. The fixtures
  * are hand-built so every law is checkable by inspection: term
  * frequencies, document lengths, and idf orderings are all planted, not
  * sampled.
  */
class RetrievalSpec extends SparkSpec {

  import spark.implicits._

  // 1 query + 5 corpus docs with planted lexical structure:
  //   d1 = the query verbatim        (every query term, maximal tf ratio)
  //   d2 = shares the RARE term only (df=2: query + d1-family)
  //   d3 = shares the COMMON term only (appears in every doc)
  //   d4 = shares nothing
  //   d5 = d2's text padded with filler — same matching tf, longer doc
  private lazy val corpus: DataFrame = Seq(
    (1L, "zebra quark common"),
    (2L, "zebra other common"),
    (3L, "common filler words here"),
    (4L, "unrelated text entirely"),
    (5L, "zebra other common pad pad pad pad pad pad pad pad pad")
  ).toDF("doc_id", "text")

  private lazy val query: DataFrame =
    Seq((0L, "zebra quark common")).toDF("doc_id", "text")

  private def ranked: Map[Long, Int] =
    Retrieval.bm25TopK(corpus, query, "doc_id", "text", k = 5,
      excludeSelf = false)
      .collect().map(r => r.getAs[Long]("corpus_id") -> r.getAs[Int]("rank"))
      .toMap

  test("bm25: verbatim copy of the query ranks first") {
    assert(ranked(1L) === 1)
  }

  test("bm25: sharing a rare term beats sharing only a ubiquitous term") {
    // d2 matches 'zebra' (df=3) + 'common'; d3 matches only 'common'
    // (df=5, in every doc) — the idf term must dominate
    assert(ranked(2L) < ranked(3L))
  }

  test("bm25: length normalization — same matching tf, shorter doc wins") {
    // d2 and d5 match the identical query terms with identical tf; d5 is
    // 4x longer, so b=0.75 length normalization must rank it below d2
    assert(ranked(2L) < ranked(5L))
  }

  test("bm25: no shared term means no candidate row at all") {
    assert(!ranked.contains(4L))
  }

  test("bm25: a null-text corpus row counts in the stats, same as empty text") {
    // NULL text must not vanish from n_docs/avgdl (explode of a null
    // token array would drop the doc and shift every idf): the null row
    // is coalesced to '' and the two corpora must score identically
    def scores(extra: (Long, String)): Set[(Long, Int, Double)] =
      Retrieval.bm25TopK(corpus.unionByName(Seq(extra).toDF("doc_id", "text")),
          query, "doc_id", "text", k = 5, excludeSelf = false)
        .collect().map(r => (r.getAs[Long]("corpus_id"),
          r.getAs[Int]("rank"), r.getAs[Double]("score"))).toSet
    val withNull = scores((6L, null))
    val withEmpty = scores((6L, ""))
    assert(withNull === withEmpty)
    assert(!withNull.exists(_._1 == 6L), "the empty doc shares no term")
  }

  test("bm25: excludeSelf drops exactly the query row when domains overlap") {
    val both = corpus // query id 1 is in the corpus
    val q1 = both.where(col("doc_id") === 1)
    val withSelf = Retrieval.bm25TopK(both, q1, "doc_id", "text", k = 5,
      excludeSelf = false).select(col("corpus_id")).as[Long].collect().toSet
    val noSelf = Retrieval.bm25TopK(both, q1, "doc_id", "text", k = 5)
      .select(col("corpus_id")).as[Long].collect().toSet
    assert(withSelf - 1L === noSelf)
    assert(withSelf.contains(1L) && !noSelf.contains(1L))
  }

  test("bm25: scores are positive and ranks are dense from 1") {
    val rows = Retrieval.bm25TopK(corpus, query, "doc_id", "text", k = 5,
      excludeSelf = false).collect()
    assert(rows.forall(_.getAs[Double]("score") > 0))
    assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq ===
      (1 to rows.length).toSeq)
  }

  test("bm25: k cut is respected under more candidates than k") {
    val out = Retrieval.bm25TopK(corpus, query, "doc_id", "text", k = 2,
      excludeSelf = false)
    assert(out.count() === 2L)
    assert(out.agg(max(col("rank"))).head.getInt(0) === 2)
  }

  test("bm25: maxDfFraction = 1.0 is exactly the default ranking") {
    val capped = Retrieval.bm25TopK(corpus, query, "doc_id", "text", k = 5,
      excludeSelf = false, maxDfFraction = 1.0).collect().map(_.toSeq).toSet
    val default = Retrieval.bm25TopK(corpus, query, "doc_id", "text", k = 5,
      excludeSelf = false).collect().map(_.toSeq).toSet
    assert(capped === default)
  }

  test("bm25: a binding df-cap drops ubiquitous-term-only candidates, inline ≡ staged") {
    withTempDir("graft_test_bm25_") { dir =>
      // 'common' has df=4 (docs 1/2/3/5); cap 0.5 → ceil(0.5·5)=3 excludes
      // it. d3 matched ONLY via 'common', so it must vanish; d1 (verbatim)
      // and d2/d5 (share 'zebra', df=3 ≤ 3) survive with d1 still first.
      val capped = Retrieval.bm25TopK(corpus, query, "doc_id", "text", k = 5,
        excludeSelf = false, maxDfFraction = 0.5)
      val byId = capped.collect()
        .map(r => r.getAs[Long]("corpus_id") -> r.getAs[Int]("rank")).toMap
      assert(!byId.contains(3L), s"ubiquitous-only candidate survived the cap: $byId")
      assert(byId(1L) === 1)
      assert(Set(2L, 5L).subsetOf(byId.keySet))
      Retrieval.stageBm25Index(corpus, "doc_id", "text").write(dir)
      val staged = Retrieval.bm25TopKStaged(
        Retrieval.StagedBm25Index.read(spark, dir), query, "doc_id", "text",
        k = 5, excludeSelf = false, maxDfFraction = 0.5)
      assert(staged.collect().map(_.toSeq).toSet ===
        capped.collect().map(_.toSeq).toSet)
    }
  }

  // --------------------------------------------- staged index (LSM) laws

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

  test("staged: serving from an EMPTY index yields no rows (stats row all-null)") {
    withTempDir("graft_test_bm25_") { dir =>
      // the one-collect construct (round 18) reads df and stats from a
      // tagged union; an index staged from zero docs must still produce the
      // all-null stats row and serve an empty result, not throw
      Retrieval.stageBm25Index(corpus.where(lit(false)), "doc_id", "text")
        .write(dir)
      val out = Retrieval.bm25TopKStaged(
        Retrieval.StagedBm25Index.read(spark, dir), query, "doc_id", "text",
        k = 5, excludeSelf = false)
      assert(out.count() === 0L)
    }
  }

  test("staged: bm25TopKStaged over a roundtripped index equals the inline operator") {
    withTempDir("graft_test_bm25_") { dir =>
      Retrieval.stageBm25Index(corpus, "doc_id", "text").write(dir)
      val staged = Retrieval.bm25TopKStaged(
        Retrieval.StagedBm25Index.read(spark, dir), query, "doc_id", "text",
        k = 5, excludeSelf = false)
      val inline = Retrieval.bm25TopK(corpus, query, "doc_id", "text",
        k = 5, excludeSelf = false)
      assert(rows(staged) === rows(inline))
    }
  }

  test("staged: folding a batch equals re-staging the union corpus") {
    withTempDir("graft_test_bm25_") { tmp =>
      // generation 1 = docs 1-3, generation 2 (folded) = docs 4-5: df deltas
      // must SUM across generations ('common' spans both) and the stats
      // rows must sum to the union corpus's n_docs/avgdl
      val foldDir = s"$tmp/foldDir"
      Retrieval.stageBm25Index(corpus.where(col("doc_id") <= 3), "doc_id", "text")
        .write(foldDir)
      Retrieval.foldIntoBm25Index(spark, foldDir,
        corpus.where(col("doc_id") > 3), "doc_id", "text", gen = 1L)
      val restageDir = s"$tmp/restageDir"
      Retrieval.stageBm25Index(corpus, "doc_id", "text").write(restageDir)
      val folded = Retrieval.bm25TopKStaged(
        Retrieval.StagedBm25Index.read(spark, foldDir), query, "doc_id", "text",
        k = 5, excludeSelf = false)
      val restaged = Retrieval.bm25TopKStaged(
        Retrieval.StagedBm25Index.read(spark, restageDir), query, "doc_id", "text",
        k = 5, excludeSelf = false)
      assert(rows(folded) === rows(restaged))
      assert(rows(folded) === rows(Retrieval.bm25TopK(corpus, query,
        "doc_id", "text", k = 5, excludeSelf = false)))
    }
  }

  test("compacted: compact(stage + folds) ≡ stage(union), one generation, term-sorted") {
    withTempDir("graft_test_bm25_") { tmp =>
      // two-generation source (the fold law's fixture), compacted into a
      // fresh dir: the serve must be row-identical to a from-scratch
      // union-corpus stage AND to the source it compacted
      val srcDir = s"$tmp/srcDir"
      Retrieval.stageBm25Index(corpus.where(col("doc_id") <= 3), "doc_id", "text")
        .write(srcDir)
      Retrieval.foldIntoBm25Index(spark, srcDir,
        corpus.where(col("doc_id") > 3), "doc_id", "text", gen = 1L)
      val dstDir = s"$tmp/dstDir"
      Retrieval.compactBm25Index(spark, srcDir, dstDir)

      def serve(dir: String) = rows(Retrieval.bm25TopKStaged(
        Retrieval.StagedBm25Index.read(spark, dir), query, "doc_id", "text",
        k = 5, excludeSelf = false))
      assert(serve(dstDir) === serve(srcDir))
      val restageDir = s"$tmp/restageDir"
      Retrieval.stageBm25Index(corpus, "doc_id", "text").write(restageDir)
      assert(serve(dstDir) === serve(restageDir))

      // structural claims: ONE generation everywhere, deltas summed
      def gens(sub: String): Set[Long] = spark.read
        .parquet(s"$dstDir/$sub").select(col("gen").cast("long"))
        .distinct().collect().map(_.getLong(0)).toSet
      assert(gens("postings") === Set(0L))
      assert(gens("term_df") === Set(0L))
      assert(gens("stats") === Set(0L))
      val termDf = Retrieval.StagedBm25Index.readGens(spark, s"$dstDir/term_df")
      assert(termDf.groupBy(col("term")).count().where(col("count") > 1).isEmpty,
        "compacted term_df must hold one summed row per term")
      assert(Retrieval.StagedBm25Index
        .readGens(spark, s"$dstDir/stats").count() === 1L)
      // the source is untouched (compaction is copy-then-swap, not in place)
      assert(Retrieval.StagedBm25Index
        .readGens(spark, s"$srcDir/stats").count() === 2L)

      // in-place compaction is refused LOUDLY (writeGen into srcDir would
      // clobber postings/gen=0 mid-scan) — including via a non-canonical
      // spelling of the same path
      intercept[IllegalArgumentException] {
        Retrieval.compactBm25Index(spark, srcDir, srcDir)
      }
      intercept[IllegalArgumentException] {
        Retrieval.compactBm25Index(spark, srcDir, srcDir + "/./")
      }
    }
  }

  test("staged: replaying a fold generation is idempotent, not a double-count") {
    withTempDir("graft_test_bm25_") { dir =>
      // the at-least-once delivery law: folding the SAME batch under the
      // SAME gen twice overwrites that generation's partition, so df/stats
      // sums across generations — and therefore every score — are
      // unchanged; a second DISTINCT gen of the same batch would instead
      // double n_docs and shift every idf
      Retrieval.stageBm25Index(corpus.where(col("doc_id") <= 3), "doc_id", "text")
        .write(dir)
      val batch = corpus.where(col("doc_id") > 3)
      Retrieval.foldIntoBm25Index(spark, dir, batch, "doc_id", "text", gen = 1L)
      val once = rows(Retrieval.bm25TopKStaged(
        Retrieval.StagedBm25Index.read(spark, dir), query, "doc_id", "text",
        k = 5, excludeSelf = false))
      Retrieval.foldIntoBm25Index(spark, dir, batch, "doc_id", "text", gen = 1L)
      val replayed = Retrieval.StagedBm25Index.read(spark, dir)
      assert(rows(Retrieval.bm25TopKStaged(replayed, query, "doc_id", "text",
        k = 5, excludeSelf = false)) === once)
      // the stats table proves it structurally: one base row + one fold row
      assert(replayed.stats.count() === 2L,
        "replayed generation appended instead of overwriting")
      // gen 0 is reserved for the base corpus layout
      val e = intercept[IllegalArgumentException] {
        Retrieval.foldIntoBm25Index(spark, dir, batch, "doc_id", "text", gen = 0L)
      }
      assert(e.getMessage.contains("base corpus"))
    }
  }

  test("staged: a tokenizer-version mismatch fails loudly, not silently empty") {
    val idx = Retrieval.stageBm25Index(corpus, "doc_id", "text")
    val doctored = idx.copy(meta =
      Seq(Tuple1(graft.dedup.Dedup.TokenizerVersion + 1)).toDF("tokenizer_version"))
    val e = intercept[IllegalArgumentException] {
      Retrieval.bm25TopKStaged(doctored, query, "doc_id", "text", k = 5)
    }
    assert(e.getMessage.contains("tokenized with"))
  }

  test("staged: a pre-gen flat-layout index (no layout_version) is refused") {
    withTempDir("graft_test_bm25_") { dir =>
      // a legacy meta has tokenizer_version only — folding gen=N/ files into
      // a flat directory would leave a mixed tree parquet readers reject, so
      // both the serve and the fold paths must fail with a re-stage message
      val idx = Retrieval.stageBm25Index(corpus, "doc_id", "text")
      val legacy = idx.copy(meta =
        Seq(Tuple1(graft.dedup.Dedup.TokenizerVersion)).toDF("tokenizer_version"))
      val e = intercept[IllegalArgumentException] {
        Retrieval.bm25TopKStaged(legacy, query, "doc_id", "text", k = 5)
      }
      assert(e.getMessage.contains("layout") &&
        e.getMessage.contains("re-run stageBm25Index"))

      idx.write(dir)
      legacy.meta.write.mode("overwrite").parquet(s"$dir/meta")
      val ef = intercept[IllegalArgumentException] {
        Retrieval.foldIntoBm25Index(spark, dir, corpus.limit(2), "doc_id",
          "text", gen = 1L)
      }
      assert(ef.getMessage.contains("layout"))
    }
  }

  test("staged plan: stored tables reached via pushed term range + IN-list") {
    withTempDir("graft_test_bm25_") { dir =>
      Retrieval.stageBm25Index(corpus, "doc_id", "text").write(dir)
      val plan = Retrieval.bm25TopKStaged(
        Retrieval.StagedBm25Index.read(spark, dir), query, "doc_id", "text",
        k = 5, excludeSelf = false).queryExecution.executedPlan.toString
      // the query-vocabulary range reaches the parquet scans as data
      // filters (row-group skipping on a term-sorted store)...
      assert(plan.contains("GreaterThanOrEqual(term") &&
        plan.contains("LessThanOrEqual(term"),
        s"expected a pushed term range in:\n$plan")
      // ...and a batch-bounded vocabulary prunes via a pushed literal IN —
      // zero join machinery on the stored side, and never a shuffled join
      assert(plan.contains("In(term"), s"expected a pushed IN prune in:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"stored tables must not reach a shuffled join:\n$plan")
    }
  }

  test("staged serve range is UTF8-binary ordered (supplementary-plane terms)") {
    withTempDir("graft_test_bm25_") { dir =>
      // '😀' (U+1F600) sorts ABOVE U+FFFD in UTF-8 bytes but BELOW it in
      // Java's UTF-16 ordering: a Java-ordered BETWEEN would cut the emoji
      // term out of the pushed range while the IN list still names it —
      // silently dropping its postings. Staged must equal inline.
      val c = Seq((1L, "😀 zebra"), (2L, "� zebra"),
        (3L, "zebra only here")).toDF("doc_id", "text")
      val q = Seq((0L, "😀 �")).toDF("doc_id", "text")
      Retrieval.stageBm25Index(c, "doc_id", "text").write(dir)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("corpus_id"),
          r.getAs[Int]("rank"), r.getAs[Double]("score"))).toSet
      val inline = rows(Retrieval.bm25TopK(c, q, "doc_id", "text", k = 3,
        excludeSelf = false))
      val staged = rows(Retrieval.bm25TopKStaged(
        Retrieval.StagedBm25Index.read(spark, dir), q, "doc_id", "text", k = 3,
        excludeSelf = false))
      assert(staged === inline)
      assert(staged.exists(_._1 == 1L), "the emoji-term doc must be a candidate")
    }
  }

  test("staged plan: a vocabulary beyond the IN bound prunes via broadcast semi") {
    withTempDir("graft_test_bm25_") { dir =>
      Retrieval.stageBm25Index(corpus, "doc_id", "text").write(dir)
      // a >MaxInListLiterals-term synthetic query batch forces the fallback
      val wide = (0 to Regime.MaxInListLiterals).map(i => (i.toLong, s"term$i zebra"))
        .toDF("doc_id", "text")
      val plan = Retrieval.bm25TopKStaged(
        Retrieval.StagedBm25Index.read(spark, dir), wide, "doc_id", "text",
        k = 5, excludeSelf = false).queryExecution.executedPlan.toString
      assert(plan.contains("LeftSemi"), s"expected semi-join prunes in:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"stored tables must not reach a shuffled join:\n$plan")
    }
  }

  // ------------------------------------------------------------------ RRF

  private def rankedList(pairs: (Long, Int)*): DataFrame =
    pairs.toSeq.map { case (id, r) => (0L, id, r) }
      .toDF("query_id", "corpus_id", "rank")

  test("rrf: top of both lists fuses to rank 1 with score 2/(c+1)") {
    val a = rankedList(10L -> 1, 11L -> 2)
    val b = rankedList(10L -> 1, 12L -> 2)
    val out = Retrieval.rrfFuse(a, b, k = 10).collect()
      .map(r => r.getAs[Long]("corpus_id") ->
        (r.getAs[Int]("rank"), r.getAs[Double]("rrf"))).toMap
    assert(out(10L)._1 === 1)
    assert(math.abs(out(10L)._2 - math.rint(2.0 / 61 * 1e6) / 1e6) < 1e-12)
  }

  test("rrf: appearing in one list still scores, with a null partner rank") {
    val a = rankedList(10L -> 1)
    val b = rankedList(11L -> 1)
    val rows = Retrieval.rrfFuse(a, b, k = 10).collect()
    val by = rows.map(r => r.getAs[Long]("corpus_id") -> r).toMap
    assert(by(10L).isNullAt(by(10L).fieldIndex("rank_b")))
    assert(by(11L).isNullAt(by(11L).fieldIndex("rank_a")))
    // symmetric single-list rank-1 entries tie on score; id breaks the tie
    assert(by(10L).getAs[Int]("rank") === 1)
    assert(by(11L).getAs[Int]("rank") === 2)
  }

  test("rrf: two mid-list appearances beat one top appearance at c=60") {
    // 1/61 ≈ 0.0164 < 1/70 + 1/70 ≈ 0.0286 — consensus wins over a
    // single strong signal, the property RRF is chosen for
    val a = rankedList(20L -> 1, 21L -> 10)
    val b = rankedList(21L -> 10)
    val out = Retrieval.rrfFuse(a, b, k = 10).collect()
      .map(r => r.getAs[Long]("corpus_id") -> r.getAs[Int]("rank")).toMap
    assert(out(21L) === 1 && out(20L) === 2)
  }

  // ------------------------------------------------- plan-shape assertions

  test("bm25 plan: query side broadcast; no cartesian product") {
    val plan = graft.Pinned.scope {
      Retrieval.bm25TopKLazy(corpus, query, "doc_id", "text", k = 5)
        .queryExecution.executedPlan.toString
    }
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast joins in:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"corpus-side cartesian in:\n$plan")
  }
}
