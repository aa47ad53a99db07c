package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.multimodal.Multimodal
import graft.similarity.Ann

/** Exactness/recall tests for the LLM-pipeline operators whose internals
  * (xxhash64 sketches, sign-LSH) have no DuckDB oracle (SURVEY.md §2.4).
  */
class LlmOpsSpec extends SparkSpec {

  private val dir = TestSpark.sf0001

  private def docs = spark.read.parquet(s"$dir/documents.parquet")
  private def embs = spark.read.parquet(s"$dir/embeddings.parquet")

  test("vector expressions agree with the HOF reference formula") {
    val hofCos = {
      val dot = aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, x) => acc + x)
      val na = aggregate(transform(col("a"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)
      val nb = aggregate(transform(col("b"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)
      dot / (sqrt(na) * sqrt(nb))
    }
    val pairs = embs.select(col("embedding").as("a"))
      .crossJoin(embs.limit(3).select(col("embedding").as("b")))
    val rows = pairs.select(
      vec_cosine(col("a"), col("b")).as("expr_cos"), hofCos.as("hof_cos"),
      vec_dot(col("a"), col("b")).as("expr_dot"),
      vec_norm(col("a")).as("expr_norm")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
        s"cosine mismatch: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("cosine expression codegen path == interpreted path") {
    val byMode = inEvalModes {
      embs.limit(50).select(col("vec_id"),
        vec_cosine(col("embedding"), col("embedding")).as("self"))
        .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    }
    val (_, first) = byMode.head
    assert(first.size === 50)
    // self-cosine is 1.0 up to rounding, and bit-identical on every path
    first.values.foreach(v => assert(math.abs(v - 1.0) < 1e-12))
    byMode.foreach { case (mode, got) => assert(got === first, s"$mode differs") }
  }

  test("Mod61.hash61 batched path equals the one-byte recurrence") {
    // the 4-bytes-per-fold fast path must be bit-identical to the
    // reference recurrence the DuckDB oracles replay ((h*131+b) mod p
    // one byte at a time) — checked over lengths covering every tail
    // remainder case (0-3 bytes) and multi-byte UTF-8
    import graft.functions.Mod61
    def ref(s: String): Long = {
      var h = BigInt(0)
      s.getBytes("UTF-8").foreach(b => h = (h * 131 + (b & 0xFF)) % BigInt(Mod61.P))
      h.toLong
    }
    val rnd = new scala.util.Random(7)
    (0 until 200).foreach { i =>
      val base = rnd.alphanumeric.take(i % 23).mkString
      val s = if (i % 3 == 0) base + "é⊕𝄞" else base
      assert(Mod61.hash61(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) === ref(s),
        s"mismatch on '$s'")
    }
  }

  test("t32 CDC dedup catches boilerplate shifted off t22's fixed grid") {
    // the class of duplication fixed-grid block dedup PROVABLY misses: the
    // same 200-token boilerplate span behind preambles of different length
    // (7 vs 13 tokens). The 6-token shift puts every t22 block of doc 2 at
    // a different grid offset than doc 1's, so no block hash matches; the
    // CDC boundaries depend only on a 3-token window, re-synchronize just
    // inside the span, and every interior (and tail) chunk dedups.
    import spark.implicits._
    val boiler = (1 to 200).map(i => s"boil${i * 37 % 991}").mkString(" ")
    val twoDocs = Seq(
      (1L, (1 to 7).map(i => s"alpha$i").mkString(" ") + " " + boiler),
      (2L, (1 to 13).map(i => s"beta$i").mkString(" ") + " " + boiler))
      .toDF("doc_id", "text")
    def ratioOf(df: org.apache.spark.sql.DataFrame): Double =
      df.where(col("doc_id") === 2L)
        .select(col("dup_token_ratio")).head().getDouble(0)
    val gridRatio = ratioOf(
      Dedup.blockDedup(twoDocs, "doc_id", "text", blockTokens = 20))
    val cdcRatio = ratioOf(
      Dedup.cdcDedup(twoDocs, "doc_id", "text", avgChunkTokens = 20))
    assert(gridRatio === 0.0,
      s"fixture broken: the grid should miss the shifted span, got $gridRatio")
    assert(cdcRatio > 0.5,
      s"CDC chunks failed to re-synchronize on the shared span: $cdcRatio")
    // sanity: within one doc nothing self-dedups (all chunks distinct)
    assert(ratioOf(Dedup.cdcDedup(twoDocs.where(col("doc_id") === 2L),
      "doc_id", "text", avgChunkTokens = 20)) === 0.0)
  }

  test("t33 prefix-filtered Jaccard equals the uncapped inverted-index join exactly") {
    // the prefix principle's completeness, checked against the
    // independently-shaped t07 kernel with the cap OFF — same threshold,
    // same shingles, so any lost candidate is a wrong row here
    def pairSet(f: org.apache.spark.sql.DataFrame) = f
      .select(col("doc_a"), col("doc_b"), round(col("jaccard") + 1e-9, 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val pp = pairSet(Dedup.ppjoinPairs(docs, "doc_id", "text", threshold = t))
      val naive = pairSet(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = t, maxDf = 0))
      assert(pp === naive, s"threshold=$t: prefix filter diverged " +
        s"(missing=${(naive -- pp).take(3)}, extra=${(pp -- naive).take(3)})")
      assert(pp.nonEmpty, s"threshold=$t: fixture should contain planted dups")
    }
  }

  test("minhash LSH candidates cover the exact n-gram Jaccard pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    val lsh = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // At j≈0.99, a 16-band/4-row signature collides with prob ~1-(1-.96)^16≈1:
    // every exact pair must surface as an LSH candidate.
    assert(exact.subsetOf(lsh), s"missed pairs: ${exact -- lsh}")
  }

  test("minhash estimated Jaccard tracks exact Jaccard on planted dups") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.8)
      .withColumnRenamed("jaccard", "exact_j")
    val est = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.0)
    val joined = exact.join(est, Seq("doc_a", "doc_b")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val e = r.getAs[Double]("exact_j"); val m = r.getAs[Double]("est_jaccard")
      assert(math.abs(e - m) < 0.25, s"estimate too far: exact=$e est=$m")
    }
  }

  test("simhash hamming distance small exactly for near-dup pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-identical token multisets → tiny hamming; most j≥0.9 pairs surface
    val covered = exact.count(sim.contains)
    assert(covered >= exact.size / 2,
      s"simhash found $covered of ${exact.size} planted pairs")
  }

  test("language ID picks the dominant stopword profile on real phrases") {
    val samples = Seq(
      ("the cat sat on the mat and it is a good day for the dog", "en"),
      ("el perro y la casa de los vecinos es un lugar que vemos", "es"),
      ("le chat et le chien sont dans la maison des voisins est", "fr"),
      ("der hund und die katze ist ein tier von den nachbarn mit", "de"),
      ("zzz qqq xxx", "und"))
    val df = spark.createDataFrame(samples).toDF("text", "expected")
    val got = df.select(col("expected"), langId(tokens(col("text"))).as("got")).collect()
    got.foreach(r => assert(r.getString(1) === r.getString(0),
      s"expected ${r.getString(0)} got ${r.getString(1)}"))
  }

  test("LSH ANN recall@5 vs brute force is usable") {
    val queries = embs.where(col("vec_id") < 20)
    val exact = Ann.bruteForceTopK(embs, queries, "vec_id", "embedding", 5)
      .select("query_id", "corpus_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = Ann.lshTopK(embs, queries, "vec_id", "embedding", 5,
      planes = 4, tables = 16)
      .select("query_id", "corpus_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      approx.get(q).map(a => (ids & a).size.toDouble / ids.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean > 0.4, s"mean recall@5 too low: $mean")
  }

  test("PQ ANN recall@5 is usable and full-candidate PQ equals brute force") {
    val queries = embs.where(col("vec_id") < 20)
    val exact = Ann.bruteForceTopK(embs, queries, "vec_id", "embedding", 5)
      .select("query_id", "corpus_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = Ann.pqTopK(embs, queries, "vec_id", "embedding", 5,
      m = 8, ksub = 16, nCandidates = 50)
      .select("query_id", "corpus_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      approx.get(q).map(a => (ids & a).size.toDouble / ids.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    // the 50-candidate ADC cut covers 10% of the corpus; the 8-byte codes
    // must buy far more of the true top-5 than a random 10% sample would
    assert(mean > 0.4, s"mean PQ recall@5 too low: $mean")

    // repair law: when the candidate cut covers the whole corpus, the
    // exact rerank makes PQ ≡ brute force REGARDLESS of code quality —
    // the approximation lives only in the cut, never in the final scores
    val n = embs.count().toInt
    def rounded(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("corpus_id"),
        round(col("cosine") + 1e-9, 5).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = rounded(Ann.pqTopK(embs, queries, "vec_id", "embedding", 5,
      m = 8, ksub = 16, nCandidates = n, rankRoundDp = 5))
    // over-fetch then rounded-rerank (the v02 convention), so the two
    // sides cut rounded ties identically
    val brute = rounded(Ann.bruteForceTopK(embs, queries, "vec_id", "embedding", 10)
      .withColumn("cosine", round(col("cosine") + 1e-9, 5))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("corpus_id"))))
      .where(col("rank") <= 5))
    assert(full === brute, "full-candidate PQ diverges from brute force")
  }

  test("Lloyd-trained PQ codebook (v18): error monotone, seed at 0 iters, repair law") {
    val m = 8; val ksub = 16
    val seedCb = Ann.pqSeedCodebook(embs, "vec_id", "embedding", m, ksub)
    val subDim = seedCb.length / (m * ksub)
    // 0 iterations IS the seed rule — one codebook derivation, two spellings
    assert(Ann.pqTrainedCodebook(embs, "vec_id", "embedding", m, ksub, 0)
      .toSeq === seedCb.toSeq)
    val trained = Ann.pqTrainedCodebook(embs, "vec_id", "embedding", m, ksub, 2)
    assert(trained.toSeq !== seedCb.toSeq, "two Lloyd steps changed nothing")

    // Lloyd monotonicity: mean quantization error (per-subspace L2² to the
    // nearest codeword, summed over subspaces, over unit vectors) must not
    // rise — each step's assignment and mean-update are both non-increasing
    // (Jégou et al. 2011 §II); the 6dp codeword rounding bounds the slack
    val vecs = embs.select(col("embedding")).collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray)
      .map { v => val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    def err(cb: Array[Double]): Double =
      vecs.map { v =>
        (0 until m).map { s =>
          (0 until ksub).map { j =>
            (0 until subDim).map { d =>
              val diff = v(s * subDim + d) - cb((s * ksub + j) * subDim + d)
              diff * diff
            }.sum
          }.min
        }.sum
      }.sum / vecs.length
    val (e0, e2) = (err(seedCb), err(trained))
    assert(e2 <= e0 + 1e-6, s"training raised quantization error: $e0 -> $e2")

    // repair law under the TRAINED codebook: full-candidate PQ ≡ brute
    // force — the approximation still lives only in the cut
    val queries = embs.where(col("vec_id") < 10)
    val n = embs.count().toInt
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("corpus_id"),
        round(col("cosine") + 1e-9, 5).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = key(Ann.pqTopK(embs, queries, "vec_id", "embedding", 5,
      m = m, ksub = ksub, nCandidates = n, rankRoundDp = 5, lloydIters = 2))
    val brute = key(Ann.bruteForceTopK(embs, queries, "vec_id", "embedding", 10)
      .withColumn("cosine", round(col("cosine") + 1e-9, 5))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("corpus_id"))))
      .where(col("rank") <= 5))
    assert(full === brute, "full-candidate trained PQ diverges from brute force")
  }

  test("stored PQ codes (v16): byte-only coarse scan, parity, tag safety") {
    val m = 8; val ksub = 16
    val codebook = Ann.pqSeedCodebook(embs, "vec_id", "embedding", m, ksub)
    withTempDir("graft-pq") { dir =>
      Ann.withPqCodes(embs, "embedding", codebook, m, ksub)
        .write.mode("overwrite").parquet(s"$dir/corpus")
      val stored = spark.read.parquet(s"$dir/corpus")
      val queries = embs.where(col("vec_id") < 10)

      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "rank", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

      // parity: the persisted byte codes reproduce the inline array-codes
      // retrieval exactly (same codebook, same summation order)
      val storedRes = Ann.pqTopKStored(stored, queries, "vec_id", "embedding",
        "pq_codes", codebook, k = 5, m = m, ksub = ksub,
        nCandidates = 50, rankRoundDp = 5)
      val inlineRes = Ann.pqTopK(embs, queries, "vec_id", "embedding", k = 5,
        m = m, ksub = ksub, nCandidates = 50, rankRoundDp = 5)
      assert(key(storedRes) === key(inlineRes),
        "persisted PQ codes must reproduce the inline computation exactly")

      // plan pin: the coarse scan of the stored layout reads the code BYTES
      // and never the vector column; the rerank scan legitimately reads both
      val scans = storedRes.queryExecution.executedPlan.toString
        .split("FileScan parquet").toSeq.drop(1)
        .filter(_.contains("graft-pq"))
      assert(scans.size >= 2,
        s"expected coarse + rerank scans of the layout, got ${scans.size}")
      val coarseScans = scans.filter(
        "ReadSchema: struct<[^>]*pq_codes".r.findFirstIn(_).isDefined)
      assert(coarseScans.nonEmpty, "no layout scan reads the pq_codes column")
      coarseScans.foreach { s =>
        val schema = "ReadSchema: struct<[^>]*>".r.findFirstIn(s).get
        assert(!schema.contains("embedding"),
          s"coarse scan reads full vectors: $schema")
      }

      // tag safety: an untagged BINARY impostor is refused, and codes from a
      // DIFFERENT geometry are refused even though they carry the tag
      val impostor = embs.withColumn("pq_codes", md5(col("vec_id").cast("string"))
        .cast("binary"))
      val e1 = intercept[IllegalArgumentException] {
        Ann.pqTopKStored(impostor, queries, "vec_id", "embedding", "pq_codes",
          codebook, k = 5, m = m, ksub = ksub)
      }
      assert(e1.getMessage.contains("provenance"))
      val wrongGeom = Ann.withPqCodes(embs, "embedding",
        Ann.pqSeedCodebook(embs, "vec_id", "embedding", 4, 16), 4, 16)
      val e2 = intercept[IllegalArgumentException] {
        Ann.pqTopKStored(wrongGeom, queries, "vec_id", "embedding", "pq_codes",
          codebook, k = 5, m = m, ksub = ksub)
      }
      assert(e2.getMessage.contains("geometry"))
    }
  }

  test("staged trained IVF-PQ (v19): staging idempotent, codebook roundtrip, parity") {
    import graft.queries.VectorQueries
    val m = 8; val ksub = 16
    // staging is idempotent (Staged.once): same dir both times
    val staged = VectorQueries.stagedV19Dir(spark, dir)
    assert(VectorQueries.stagedV19Dir(spark, dir) === staged)

    // the persisted codebook IS the trained codebook — training is
    // deterministic to its 6dp rounding, so a fresh fit reproduces the
    // stored decimal literals exactly
    val reloaded = spark.read.parquet(s"$staged/codebook")
      .head.getSeq[Double](0).toArray
    val retrained = Ann.pqTrainedCodebook(embs, "vec_id", "embedding",
      m, ksub, iters = 2)
    assert(reloaded.toSeq === retrained.toSeq,
      "persisted codebook diverges from a fresh deterministic fit")

    // the staged layout (codes + cells + codebook read back from parquet,
    // provenance tag surviving the footer) reproduces the inline
    // composition exactly
    val queries = embs.where(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val stagedRes = Ann.ivfPqTopK(
      spark.read.parquet(s"$staged/layout"),
      spark.read.parquet(s"$staged/centroids"),
      queries, "vec_id", "embedding", "pq_codes", reloaded,
      k = 5, m = m, ksub = ksub, nProbe = 4, nCandidates = 50, rankRoundDp = 5)
    val inlineRes = Ann.ivfPqTopK(
      Ann.withPqCodes(
        Ann.withIvfQuantizedLayout(embs, "vec_id", "embedding", nCentroids = 16),
        "embedding", retrained, m, ksub),
      Ann.seedCentroids(embs, "vec_id", "embedding", nCentroids = 16),
      queries, "vec_id", "embedding", "pq_codes", retrained,
      k = 5, m = m, ksub = ksub, nProbe = 4, nCandidates = 50, rankRoundDp = 5)
    assert(key(stagedRes) === key(inlineRes),
      "staged trained IVF-PQ layout must reproduce the inline composition")
  }

  test("IVF x PQ layout (v17): pruned partitions, byte-only coarse scan, parity") {
    // the composed FAISS IVF-PQ shape: one stored table, cell pruning AND
    // 8-byte codes real at once
    val m = 8; val ksub = 16
    val codebook = Ann.pqSeedCodebook(embs, "vec_id", "embedding", m, ksub)
    def layout = Ann.withPqCodes(
      Ann.withIvfQuantizedLayout(embs, "vec_id", "embedding", nCentroids = 8),
      "embedding", codebook, m, ksub)
    withTempDir("graft-ivfpq") { dir =>
      layout.write.partitionBy("cluster_id").mode("overwrite").parquet(s"$dir/corpus")
      // partitionBy strips field metadata on write for the moved column only;
      // pq_codes is a data column, so its provenance tag survives the footer
      val stored = spark.read.parquet(s"$dir/corpus")
      val cent = Ann.seedCentroids(embs, "vec_id", "embedding", nCentroids = 8)
      val queries = embs.where(col("vec_id") < 5)

      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "rank", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

      val storedRes = Ann.ivfPqTopK(stored, cent, queries, "vec_id", "embedding",
        "pq_codes", codebook, k = 5, m = m, ksub = ksub, nProbe = 2,
        nCandidates = 50)
      val inlineRes = Ann.ivfPqTopK(layout, cent, queries, "vec_id", "embedding",
        "pq_codes", codebook, k = 5, m = m, ksub = ksub, nProbe = 2,
        nCandidates = 50)
      assert(key(storedRes) === key(inlineRes),
        "persisted IVF-PQ layout must reproduce the inline computation exactly")

      val exact = key(Ann.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5))
      val hits = key(storedRes).count { case (q, _, c) =>
        exact.exists(e => e._1 == q && e._3 == c) }
      assert(hits.toDouble / exact.size > 0.4, s"recall@5: $hits/${exact.size}")

      // plan pins on the layout's scans: every one prunes partitions, and
      // the coarse scan (reading pq_codes) never reads the vector column
      val scans = storedRes.queryExecution.executedPlan.toString
        .split("FileScan parquet").toSeq.drop(1)
        .filter(_.contains("graft-ivfpq"))
      assert(scans.size >= 2,
        s"expected coarse + rerank scans of the layout, got ${scans.size}")
      scans.foreach { s =>
        assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(s).isDefined,
          s"layout scan did not prune partitions:\n$s")
      }
      val coarseScans = scans.filter(
        "ReadSchema: struct<[^>]*pq_codes".r.findFirstIn(_).isDefined)
      assert(coarseScans.nonEmpty, "no layout scan reads the pq_codes column")
      coarseScans.foreach { s =>
        val schema = "ReadSchema: struct<[^>]*>".r.findFirstIn(s).get
        assert(!schema.contains("embedding"),
          s"coarse scan reads full vectors: $schema")
      }
    }
  }

  test("autoPlanes tracks log2(corpus) with a floor of 8") {
    // the measured scale law: candidates ~n²/2^planes, so planes must grow
    // with log2(n); the floor keeps tiny corpora out of giant buckets
    assert(Ann.autoPlanes(0L) === 8)
    assert(Ann.autoPlanes(500L) === 8)
    assert(Ann.autoPlanes(4096L) === 8)
    assert(Ann.autoPlanes(50000L) === 12)
    assert(Ann.autoPlanes(500000L) === 15)
    assert(Ann.autoPlanes(50000000L) === 22)
    // monotone: more corpus never means fewer planes
    val samples = Seq(1L, 100L, 10000L, 1000000L, 100000000L)
    samples.zip(samples.tail).foreach { case (a, b) =>
      assert(Ann.autoPlanes(a) <= Ann.autoPlanes(b))
    }
  }

  test("lshTopK with planes=0 auto-derives and matches the explicit count") {
    val queries = embs.where(col("vec_id") < 10)
    val n = embs.count()
    def result(planes: Int) =
      Ann.lshTopK(embs, queries, "vec_id", "embedding", 5, planes = planes,
        tables = 4)
        .select("query_id", "corpus_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(result(0) === result(Ann.autoPlanes(n)),
      "auto-derived planes must give exactly the explicit-planes result")
  }

  test("IVF ANN recall@5 beats the probe fraction and is deterministic") {
    val queries = embs.where(col("vec_id") < 20)
    val exact = Ann.bruteForceTopK(embs, queries, "vec_id", "embedding", 5)
      .select("query_id", "corpus_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def run() = Ann.ivfTopK(embs, queries, "vec_id", "embedding", 5,
      nCentroids = 16, nProbe = 4)
      .select("query_id", "corpus_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = run()
    val recalls = exact.map { case (q, ids) =>
      approx.get(q).map(a => (ids & a).size.toDouble / ids.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    // probing 4/16 cells scans ~25% of the corpus; locality must buy more
    // recall than random sampling would (0.25)
    assert(mean > 0.4, s"mean recall@5 too low: $mean")
    assert(run() === approx, "ivfTopK must be deterministic across runs")

    // Lloyd-refined centroids (the production fit path): the recall floor
    // must hold. No exact-equality rerun check here — refined cell means
    // accumulate in partition order (documented ~1-ulp nondeterminism), so
    // assignment/rank ties could legally differ between runs.
    val r1 = Ann.ivfTopK(embs, queries, "vec_id", "embedding", 5,
      nCentroids = 16, nProbe = 4, lloydIters = 2)
      .select("query_id", "corpus_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val refinedRecalls = exact.map { case (q, ids) =>
      r1.get(q).map(a => (ids & a).size.toDouble / ids.size).getOrElse(0.0)
    }
    val refinedMean = refinedRecalls.sum / refinedRecalls.size
    assert(refinedMean > 0.4, s"refined mean recall@5 too low: $refinedMean")
  }

  test("multimodal resize emits fixed-size payloads; frame sampling is exact") {
    val media = Multimodal.documentsAsMedia(docs)
    val resized = Multimodal.resize(media, 16, 8).collect()
    assert(resized.nonEmpty)
    assert(resized.forall(_.payload.length === 16 * 8),
      "resize must emit exactly width*height bytes per row")
    // resampling must preserve first/last bytes (nearest-neighbor anchors)
    val one = media.select("media_id", "payload").limit(1).collect()(0)
    val src = one.getAs[Array[Byte]]("payload")
    val dst = resized.find(_.media_id == one.getLong(0)).get.payload
    assert(dst(0) === src(0))

    val frames = Multimodal.sampleFrames(media, frameBytes = 256, stride = 4)
      .collect().groupBy(_.media_id)
    val lens = media.select("media_id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).length).toMap
    lens.foreach { case (id, len) =>
      val expected = (0 until (len + 255) / 256 by 4).toSeq
      val got = frames.getOrElse(id, Array.empty).map(_.frame_idx).sorted.toSeq
      assert(got === expected, s"media $id: frames $got != $expected")
    }
    // every sampled frame is byte-exact
    frames.values.flatten.foreach { f =>
      val src = lens(f.media_id)
      val expectLen = math.min(256, src - f.frame_idx * 256)
      assert(f.frame_bytes.length === expectLen)
    }
  }

  test("multimodal feature extraction is deterministic and schema-correct") {
    val media = Multimodal.documentsAsMedia(docs)
    // simpleString compares names+types, ignoring nullability
    assert(media.schema.simpleString === Multimodal.mediaSchema.simpleString)
    val feats = Multimodal.extractFeatures(media)
    val twice = Multimodal.extractFeatures(media)
    val a = feats.orderBy("media_id").collect()
    val b = twice.orderBy("media_id").collect()
    assert(a.sameElements(b))
    assert(a.forall(f => f.width >= 64 && f.height >= 64 && f.n_bytes > 0))
    assert(a.length === docs.count())
  }

  test("feature extraction decodes real PNG/BMP dimensions, stubs the rest") {
    import spark.implicits._
    def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => img.setRGB(x, 0, x * 7919)) // non-trivial pixels
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val media = Seq(
      (1L, imageBytes("png", 37, 21), "image/png"),
      (2L, imageBytes("bmp", 5, 93), "image/bmp"),
      (3L, "plain text, not an image".getBytes("UTF-8"), "text/plain"))
      .toDF("media_id", "payload", "mime")
      .select(col("media_id"), col("payload"),
        struct(col("mime"), lit("test").as("source"),
          length(col("payload")).cast("long").as("n_bytes")).as("meta"))
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert((feats(1L).width, feats(1L).height) === ((37, 21)))
    assert((feats(2L).width, feats(2L).height) === ((5, 93)))
    // non-image payloads keep the deterministic stub geometry
    assert(feats(3L).width >= 64 && feats(3L).height >= 64)
  }

  test("feature extraction decodes real WAV sample rate, channels, duration") {
    import spark.implicits._
    // a real 16-bit stereo 8 kHz WAV written through the JVM's own encoder:
    // 4000 frames = exactly 500 ms
    def wavBytes(sampleRate: Float, channels: Int, frames: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, channels,
        true, false)
      val pcm = new Array[Byte](frames * fmt.getFrameSize)
      pcm.indices.foreach(i => pcm(i) = ((i * 31) % 251).toByte)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val media = Seq(
      (1L, wavBytes(8000f, 2, 4000), "audio/wav"),
      (2L, wavBytes(44100f, 1, 44100), "audio/wav"),
      (3L, "not audio at all".getBytes("UTF-8"), "text/plain"))
      .toDF("media_id", "payload", "mime")
      .select(col("media_id"), col("payload"),
        struct(col("mime"), lit("test").as("source"),
          length(col("payload")).cast("long").as("n_bytes")).as("meta"))
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert((feats(1L).sample_rate, feats(1L).channels, feats(1L).duration_ms)
      === ((8000, 2, 500L)))
    assert((feats(2L).sample_rate, feats(2L).channels, feats(2L).duration_ms)
      === ((44100, 1, 1000L)))
    // audio has no pixel geometry
    assert((feats(1L).width, feats(1L).height) === ((0, 0)))
    // non-audio payloads report zero audio features and stub geometry
    assert((feats(3L).sample_rate, feats(3L).channels) === ((0, 0)))
    assert(feats(3L).width >= 64)
  }

  test("clusters collapses transitive pairs and picks the min-id survivor") {
    import spark.implicits._
    // chain 1~2, 2~3 (one cluster of three) + independent pair 10~11;
    // pair order/direction must not matter
    val pairs = Seq((2L, 3L), (1L, 2L), (11L, 10L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    val expected = Set(
      (1L, 1L, 3L, true), (1L, 2L, 3L, false), (1L, 3L, 3L, false),
      (10L, 10L, 2L, true), (10L, 11L, 2L, false))
    assert(out === expected, s"got $out")
  }

  test("clusters: driver-local union-find ≡ distributed GraphX CC") {
    import spark.implicits._
    // a messy fixture: chains, a cycle, duplicate and reversed pairs, a
    // self-contained pair far from the rest, and a pair above 2^53 (labels
    // must stay exact longs, never pass through a double) — every shape
    // the min-id label must agree on across the shared CC kernel's two
    // regimes
    val big = (1L << 53) + 1
    val pairs = Seq(
      (2L, 3L), (1L, 2L), (3L, 1L), (3L, 4L), // cycle + tail: {1,2,3,4}
      (11L, 10L), (10L, 11L),                 // duplicate + reversed pair
      (7L, 8L), (8L, 9L),                     // chain {7,8,9}
      (20L, 21L),                             // isolated pair
      (big + 2, big))                         // ids above 2^53
      .toDF("doc_a", "doc_b")
    def labels() = graft.graph.GraphAlgos.connectedComponentsLong(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = labels()                      // 10 pairs ≪ LocalClustersMaxPairs
    val dist = Regime.atScale(labels())       // forced GraphX
    assert(local === dist, s"local $local\ndistributed $dist")
    assert(local(big + 2) === big)
    // Dedup.clusters derives its rows from the same kernel labels
    val rows = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(rows.contains((1L, 4L, 4L, false)))
    assert(rows.contains((big, big + 2, 2L, false)) && rows.contains((big, big, 2L, true)))
  }

  test("PII redaction scrubs emails and phones, leaves clean text alone") {
    import spark.implicits._
    val rows = Seq(
      (1L, "reach me at jane.doe+work@corp.example.org thanks"),
      (2L, "call (415) 555-0199 after five"),
      (3L, "two hits: a@b.co and (212) 555-0101 here"),
      (4L, "nothing sensitive in this row at all"))
      .toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
      graft.functions.TextFunctions.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "reach me at [EMAIL] thanks")
    assert(out(2L) === "call [PHONE] after five")
    assert(out(3L) === "two hits: [EMAIL] and [PHONE] here")
    assert(out(4L) === "nothing sensitive in this row at all")
  }

  // --- minimal video container fixtures, shared by the header-decode and
  // --- decode-never-throws tests
  private def be(i: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(i).array()
  private def le(i: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4)
    .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(i).array()
  private def mp4box(typ: String, payload: Array[Byte]): Array[Byte] =
    be(payload.length + 8) ++ typ.getBytes("US-ASCII") ++ payload

  /** Minimal ISO BMFF: ftyp + moov(mvhd + video trak + audio trak).
    * mvhd v0: timescale 600, duration 1200 → 2000 ms; tkhd closes with
    * 16.16 fixed-point width/height (320x240 on the video track).
    */
  private lazy val mp4Fixture: Array[Byte] = {
    val mvhd = mp4box("mvhd",
      be(0) ++ be(0) ++ be(0) ++ be(600) ++ be(1200) ++ new Array[Byte](80))
    val tkhdVideo = new Array[Byte](84)
    System.arraycopy(be(320 << 16), 0, tkhdVideo, 76, 4)
    System.arraycopy(be(240 << 16), 0, tkhdVideo, 80, 4)
    val moov = mp4box("moov", mvhd ++
      mp4box("trak", mp4box("tkhd", tkhdVideo)) ++
      mp4box("trak", mp4box("tkhd", new Array[Byte](84))))
    mp4box("ftyp", "isom".getBytes("US-ASCII") ++ be(512)) ++ moov
  }

  /** Minimal AVI: RIFF/AVI + LIST/hdrl + avih main header — 33333 µs per
    * frame × 300 frames → 9999 ms, 2 streams, 640x480.
    */
  private lazy val aviFixture: Array[Byte] = {
    val avihData = le(33333) ++ le(0) ++ le(0) ++ le(0) ++ le(300) ++ le(0) ++
      le(2) ++ le(0) ++ le(640) ++ le(480) ++ new Array[Byte](16)
    val avih = "avih".getBytes("US-ASCII") ++ le(avihData.length) ++ avihData
    val hdrl = "LIST".getBytes("US-ASCII") ++ le(4 + avih.length) ++
      "hdrl".getBytes("US-ASCII") ++ avih
    "RIFF".getBytes("US-ASCII") ++ le(4 + hdrl.length) ++
      "AVI ".getBytes("US-ASCII") ++ hdrl
  }

  /** A real JPEG of the given dimensions via the JVM encoder, with a
    * seed-varied gradient so every frame's bytes (and checksum) differ.
    */
  private def jpegBytes(w: Int, h: Int, seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (x * 31 + y * 17 + seed * 97) & 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Minimal MJPEG AVI: RIFF/AVI + the hdrl from [[aviFixture]] + a
    * LIST/movi whose `00dc` chunks are the given frames (with RIFF even
    * padding), the second half wrapped in a LIST/`rec ` interleave group
    * to exercise the demuxer's recursion.
    */
  private def mjpegAvi(frames: Seq[Array[Byte]]): Array[Byte] = {
    def chunk(f: Array[Byte]): Array[Byte] = {
      val c = "00dc".getBytes("US-ASCII") ++ le(f.length) ++ f
      if (f.length % 2 == 1) c :+ 0.toByte else c
    }
    val (plain, grouped) = frames.splitAt((frames.size + 1) / 2)
    val groupedBytes = grouped.flatMap(chunk).toArray
    val rec =
      if (grouped.isEmpty) Array.emptyByteArray
      else "LIST".getBytes("US-ASCII") ++ le(4 + groupedBytes.length) ++
        "rec ".getBytes("US-ASCII") ++ groupedBytes
    val body = plain.flatMap(chunk).toArray ++ rec
    val movi = "LIST".getBytes("US-ASCII") ++ le(4 + body.length) ++
      "movi".getBytes("US-ASCII") ++ body
    val avihData = le(33333) ++ le(0) ++ le(0) ++ le(0) ++ le(frames.size) ++
      le(0) ++ le(1) ++ le(0) ++ le(0) ++ le(0) ++ new Array[Byte](16)
    val avih = "avih".getBytes("US-ASCII") ++ le(avihData.length) ++ avihData
    val hdrl = "LIST".getBytes("US-ASCII") ++ le(4 + avih.length) ++
      "hdrl".getBytes("US-ASCII") ++ avih
    "RIFF".getBytes("US-ASCII") ++ le(4 + hdrl.length + movi.length) ++
      "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
  }

  test("feature extraction decodes real MP4 and AVI container headers") {
    import spark.implicits._
    val mp4 = mp4Fixture
    val avi = aviFixture
    val media = Seq(
      (1L, mp4, "video/mp4"),
      (2L, avi, "video/x-msvideo"),
      (3L, mp4.take(20), "video/mp4")) // truncated: sniffs MP4, parses to nothing
      .toDF("media_id", "payload", "mime")
      .select(col("media_id"), col("payload"),
        struct(col("mime"), lit("test").as("source"),
          length(col("payload")).cast("long").as("n_bytes")).as("meta"))
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert((feats(1L).width, feats(1L).height, feats(1L).duration_ms,
      feats(1L).n_tracks) === ((320, 240, 2000L, 2)))
    assert((feats(1L).sample_rate, feats(1L).channels) === ((0, 0)))
    assert((feats(2L).width, feats(2L).height, feats(2L).duration_ms,
      feats(2L).n_tracks) === ((640, 480, 9999L, 2)))
    // corrupt container falls back to the stub, not a task failure
    assert(feats(3L).n_tracks === 0)
    assert(feats(3L).width >= 64 && feats(3L).height >= 64)
  }

  test("sampleFrames demuxes real MJPEG-AVI frames with true dimensions") {
    import spark.implicits._
    // 9 frames of DISTINCT dimensions: stride 4 must pick exactly 0, 4, 8
    val dims = (0 until 9).map(i => (16 * (i + 1), 8 * (i + 2)))
    val jpegs = dims.zipWithIndex.map { case ((w, h), i) => jpegBytes(w, h, i) }
    val avi = mjpegAvi(jpegs)
    val text = "plain text payload, sliced not demuxed".getBytes("UTF-8")
    val media = Seq((1L, avi, "video/x-msvideo"), (2L, text, "text/plain"))
      .toDF("media_id", "payload", "mime")
      .select(col("media_id"), col("payload"),
        struct(col("mime"), lit("test").as("source"),
          length(col("payload")).cast("long").as("n_bytes")).as("meta"))

    def rollingHash(b: Array[Byte]): Long = {
      var s = 0L; var i = 0
      while (i < b.length) { s = (s * 131 + (b(i) & 0xFF)) % 1000000007L; i += 1 }
      s
    }

    val frames = Multimodal.sampleFrames(media, frameBytes = 256, stride = 4)
      .collect().groupBy(_.media_id)

    val aviFrames = frames(1L).sortBy(_.frame_idx)
    assert(aviFrames.map(_.frame_idx).toSeq === Seq(0, 4, 8),
      "stride over DEMUXED frames, not byte chunks")
    aviFrames.foreach { f =>
      assert(f.demuxed, s"frame ${f.frame_idx} must come from the movi demux")
      assert((f.width, f.height) === dims(f.frame_idx),
        s"frame ${f.frame_idx}: ImageIO must recover the true encoded dims")
      assert(f.frame_bytes.toSeq === jpegs(f.frame_idx).toSeq,
        s"frame ${f.frame_idx}: demuxed bytes must be the exact JPEG chunk")
      assert(f.checksum === rollingHash(f.frame_bytes))
    }
    // non-container payloads keep the byte-slice fallback contract
    val sliced = frames(2L)
    assert(sliced.length === 1 && !sliced(0).demuxed)
    assert((sliced(0).width, sliced(0).height) === ((0, 0)))
    assert(sliced(0).frame_bytes.toSeq === text.toSeq)
    assert(sliced(0).checksum === rollingHash(text))
    // a header-only AVI (no movi list) must fall back to slicing, not vanish
    val headerOnly = Multimodal.sampleFrames(
      Seq((3L, aviFixture, "video/x-msvideo")).toDF("media_id", "payload", "mime")
        .select(col("media_id"), col("payload"),
          struct(col("mime"), lit("test").as("source"),
            length(col("payload")).cast("long").as("n_bytes")).as("meta")),
      frameBytes = 256, stride = 4).collect()
    assert(headerOnly.nonEmpty && headerOnly.forall(!_.demuxed))
  }

  /** AVI with a full stream header list (strh `vids` + strf
    * BITMAPINFOHEADER) and `00db` uncompressed-DIB chunks — the rawvideo
    * codec fixture. `compression` 0 = BI_RGB; anything else models a
    * codec the JVM can't decode.
    */
  private def rgbAvi(frames: Seq[Array[Byte]], w: Int, h: Int,
      compression: Int = 0): Array[Byte] = {
    def chunk(f: Array[Byte]): Array[Byte] = {
      val c = "00db".getBytes("US-ASCII") ++ le(f.length) ++ f
      if (f.length % 2 == 1) c :+ 0.toByte else c
    }
    val body = frames.flatMap(chunk).toArray
    val movi = "LIST".getBytes("US-ASCII") ++ le(4 + body.length) ++
      "movi".getBytes("US-ASCII") ++ body
    val avihData = le(33333) ++ le(0) ++ le(0) ++ le(0) ++ le(frames.size) ++
      le(0) ++ le(1) ++ le(0) ++ le(w) ++ le(math.abs(h)) ++ new Array[Byte](16)
    val avih = "avih".getBytes("US-ASCII") ++ le(avihData.length) ++ avihData
    val strhData = "vids".getBytes("US-ASCII") ++ new Array[Byte](52)
    val strh = "strh".getBytes("US-ASCII") ++ le(strhData.length) ++ strhData
    val strfData = le(40) ++ le(w) ++ le(h) ++
      Array[Byte](1, 0, 24, 0) ++ le(compression) ++ new Array[Byte](20)
    val strf = "strf".getBytes("US-ASCII") ++ le(strfData.length) ++ strfData
    val strl = "LIST".getBytes("US-ASCII") ++ le(4 + strh.length + strf.length) ++
      "strl".getBytes("US-ASCII") ++ strh ++ strf
    val hdrl = "LIST".getBytes("US-ASCII") ++
      le(4 + avih.length + strl.length) ++
      "hdrl".getBytes("US-ASCII") ++ avih ++ strl
    "RIFF".getBytes("US-ASCII") ++ le(4 + hdrl.length + movi.length) ++
      "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
  }

  test("frameLuma decodes rawvideo (BI_RGB DIB) pixels exactly") {
    import spark.implicits._
    // frame A: 1x1, pixel B=10 G=20 R=200 (DIB is BGR + row pad to 4) —
    // luma 299*200 + 587*20 + 114*10 = 72680; a decoder reading RGB
    // instead of BGR would get 37530, so the byte order is pinned
    val frameA = Array[Byte](10, 20, 200.toByte, 0)
    // frame B: gray 100 everywhere -> luma exactly 100000; the row pad
    // bytes are 0x7F garbage the decoder must SKIP (stride arithmetic)
    val g = 100.toByte
    val frameB1x1 = Array[Byte](g, g, g, 0x7F)
    val avi1 = rgbAvi(Seq(frameA, frameB1x1), w = 1, h = 1)
    // 3x2 gray-100 frame: rowStride = (9+3)&~3 = 12, 3 pad bytes per row
    val row = Array.fill(9)(g) ++ Array.fill[Byte](3)(0x7F)
    val avi2 = rgbAvi(Seq(row ++ row), w = 3, h = 2)
    // same chunks but a fourcc compression the JVM has no codec for:
    // the explicit-refusal contract
    val aviH264 = rgbAvi(Seq(frameA), w = 1, h = 1, compression = 0x34363248)
    val mjpeg = mjpegAvi(Seq(jpegBytes(8, 4, 1)))
    val media = Seq((1L, avi1), (2L, avi2), (3L, aviH264), (4L, mjpeg))
      .toDF("media_id", "payload")
    val out = Multimodal.frameLuma(media).collect()
      .groupBy(_.media_id).map { case (k, v) => k -> v.sortBy(_.frame_idx) }

    assert(out(1L).map(f => (f.codec, f.width, f.height, f.mean_luma_milli)).toSeq ===
      Seq(("rawvideo", 1, 1, 72680L), ("rawvideo", 1, 1, 100000L)))
    assert(out(2L).map(f => (f.codec, f.width, f.height, f.mean_luma_milli)).toSeq ===
      Seq(("rawvideo", 3, 2, 100000L)),
      "row-pad bytes must be skipped by the stride walk")
    assert(out(3L).map(f => (f.codec, f.mean_luma_milli)).toSeq ===
      Seq(("unsupported", -1L)),
      "an undecodable compression must refuse explicitly, never guess")
    val mj = out(4L)
    assert(mj.length === 1 && mj(0).codec === "mjpeg" &&
      (mj(0).width, mj(0).height) === ((8, 4)) && mj(0).mean_luma_milli >= 0)
  }

  test("frameLuma decodes 8-bit palettized and RLE8 DIBs exactly (round 14)") {
    import spark.implicits._
    // identity grayscale palette ⇒ pixel luma = 1000·index. 16×4 frame of
    // bytes 0..63: sum = 2016 ⇒ mean = 2016000/64 = 31500
    val px = Array.tabulate[Byte](64)(_.toByte)
    val raw = Multimodal.synthDibAvi(Seq(px), 16, 4, compression = 0)
    val rle = Multimodal.synthDibAvi(
      Seq(Multimodal.rle8Encode(px, 16, 4)), 16, 4, compression = 1)
    // a delta escape (0,2) leaves pixels undefined: explicit refusal
    val delta = Multimodal.synthDibAvi(
      Seq(Array[Byte](0, 2, 1, 1, 0, 1)), 16, 4, compression = 1)
    // truncated RLE (no EOD): refusal
    val trunc = Multimodal.synthDibAvi(
      Seq(Array[Byte](16, 5)), 16, 4, compression = 1)
    val out = Multimodal.frameLuma(
        Seq((1L, raw), (2L, rle), (3L, delta), (4L, trunc))
          .toDF("media_id", "payload"))
      .collect().map(f => f.media_id ->
        ((f.codec, f.width, f.height, f.mean_luma_milli))).toMap
    assert(out(1L) === (("rawvideo", 16, 4, 31500L)))
    assert(out(2L) === (("rle8", 16, 4, 31500L)),
      "RLE8 of the same pixels must decode to the identical mean")
    assert(out(3L) === (("unsupported", 0, 0, -1L)),
      "a delta escape must refuse explicitly")
    assert(out(4L) === (("unsupported", 0, 0, -1L)),
      "a truncated RLE stream must refuse explicitly")
  }

  test("rle8Encode round-trips through the decoder for runs and mixed rows") {
    import spark.implicits._
    // planted runs: row of one value, row alternating, rows of text-ish
    // bytes — encode, wrap, decode, compare against the raw wrap
    val pixels = (Array.fill(16)(200.toByte) ++
      Array.tabulate[Byte](16)(i => if (i % 2 == 0) 3 else 250.toByte) ++
      "abcdefghijklmnop".getBytes("US-ASCII") ++
      Array.fill(16)(0.toByte))
    val raw = Multimodal.synthDibAvi(Seq(pixels), 16, 4, compression = 0)
    val rle = Multimodal.synthDibAvi(
      Seq(Multimodal.rle8Encode(pixels, 16, 4)), 16, 4, compression = 1)
    val out = Multimodal.frameLuma(
        Seq((1L, raw), (2L, rle)).toDF("media_id", "payload"))
      .collect().map(f => f.media_id -> f.mean_luma_milli).toMap
    assert(out(1L) >= 0 && out(1L) === out(2L))
  }

  test("sampleFrames reports true dims for rawvideo frames via strf") {
    import spark.implicits._
    val g = 100.toByte
    val row = Array.fill(9)(g) ++ Array.fill[Byte](3)(0)
    val avi = rgbAvi(Seq(row ++ row, row ++ row), w = 3, h = 2)
    val media = Seq((1L, avi, "video/x-msvideo"))
      .toDF("media_id", "payload", "mime")
      .select(col("media_id"), col("payload"),
        struct(col("mime"), lit("test").as("source"),
          length(col("payload")).cast("long").as("n_bytes")).as("meta"))
    val frames = Multimodal.sampleFrames(media, stride = 1)
      .collect().sortBy(_.frame_idx)
    assert(frames.length === 2)
    frames.foreach { f =>
      assert(f.demuxed && (f.width, f.height) === ((3, 2)),
        "BI_RGB frames must carry the strf dims, not (0,0)")
    }
  }

  test("sampleFrames demuxes real MP4 sample tables with true dimensions") {
    import spark.implicits._
    // 9 JPEG samples of DISTINCT dims; default chunking (3, then 2 per
    // chunk) yields a genuine multi-run stsc with a short final chunk,
    // and synthMp4 always plants a QuickTime minf-level 'dhlr' hdlr —
    // the handler-scoping regression is baked into every assertion here
    val dims = (0 until 9).map(i => (16 * (i + 1), 8 * (i + 2)))
    val jpegs = dims.zipWithIndex.map { case ((w, h), i) => jpegBytes(w, h, i) }
    val mp4 = Multimodal.synthMp4(jpegs)
    // uniform stsz + 64-bit co64 offsets variant: same JPEG ×6
    val uniform = Multimodal.synthMp4(Seq.fill(6)(jpegs(0)),
      uniform = true, co64 = true)
    val media = Seq((1L, mp4, "video/mp4"), (2L, uniform, "video/mp4"),
      (3L, mp4Fixture, "video/mp4")) // header-only: no stbl → slice fallback
      .toDF("media_id", "payload", "mime")
      .select(col("media_id"), col("payload"),
        struct(col("mime"), lit("test").as("source"),
          length(col("payload")).cast("long").as("n_bytes")).as("meta"))

    def rollingHash(b: Array[Byte]): Long = {
      var s = 0L; var i = 0
      while (i < b.length) { s = (s * 131 + (b(i) & 0xFF)) % 1000000007L; i += 1 }
      s
    }
    val frames = Multimodal.sampleFrames(media, frameBytes = 256, stride = 4)
      .collect().groupBy(_.media_id)

    val perSample = frames(1L).sortBy(_.frame_idx)
    assert(perSample.map(_.frame_idx).toSeq === Seq(0, 4, 8),
      "stride over DEMUXED samples, not byte chunks")
    perSample.foreach { f =>
      assert(f.demuxed, s"sample ${f.frame_idx} must come from the stbl demux")
      assert((f.width, f.height) === dims(f.frame_idx),
        s"sample ${f.frame_idx}: ImageIO must recover the true encoded dims")
      assert(f.frame_bytes.toSeq === jpegs(f.frame_idx).toSeq,
        s"sample ${f.frame_idx}: demuxed bytes must be the exact JPEG sample")
      assert(f.checksum === rollingHash(f.frame_bytes))
    }
    val uni = frames(2L).sortBy(_.frame_idx)
    assert(uni.map(_.frame_idx).toSeq === Seq(0, 4))
    uni.foreach { f =>
      assert(f.demuxed && f.frame_bytes.toSeq === jpegs(0).toSeq,
        "uniform-stsz/co64 samples must reconstruct identically")
    }
    // a trak-less MP4 (the header fixture) must fall back to slicing
    assert(frames(3L).nonEmpty && frames(3L).forall(!_.demuxed))
  }

  test("demuxMp4Frames: malformed tables fall back, never emit garbage") {
    val jpegs = (0 until 5).map(i => jpegBytes(24, 16, i))
    val good = Multimodal.synthMp4(jpegs)
    assert(Multimodal.demuxMp4Frames(good).get.map(_.toSeq)
      === jpegs.map(_.toSeq), "well-formed demux is exact")

    def indexOfBox(p: Array[Byte], typ: String): Int = {
      val t = typ.getBytes("US-ASCII")
      (0 to p.length - 4).find(i => p(i) == t(0) && p(i + 1) == t(1) &&
        p(i + 2) == t(2) && p(i + 3) == t(3))
        .getOrElse(fail(s"no $typ box in fixture"))
    }
    def patched(p: Array[Byte], at: Int, v: Int): Array[Byte] = {
      val c = p.clone()
      c(at) = ((v >> 24) & 0xFF).toByte; c(at + 1) = ((v >> 16) & 0xFF).toByte
      c(at + 2) = ((v >> 8) & 0xFF).toByte; c(at + 3) = (v & 0xFF).toByte
      c
    }
    // lying stsz: first sample size far beyond the payload → the
    // reconstructed range escapes the file; must refuse, not slice junk.
    // stsz layout: [size][stsz][ver+flags][uniform][count][entry 0...]
    val stszEntry0 = indexOfBox(good, "stsz") + 4 + 4 + 4 + 4
    assert(Multimodal.demuxMp4Frames(patched(good, stszEntry0, Int.MaxValue))
      .isEmpty, "oversized stsz entry must fall back")
    // lying stco: first chunk offset beyond the payload → same refusal.
    // stco layout: [size][stco][ver+flags][count][offset 0...]
    val stcoOff0 = indexOfBox(good, "stco") + 4 + 4 + 4
    assert(Multimodal.demuxMp4Frames(patched(good, stcoOff0, Int.MaxValue))
      .isEmpty, "out-of-range stco offset must fall back")
    // an stsc run claiming more samples per chunk than exist is writer
    // sloppiness the spec tolerates BOUNDEDLY: the walk caps at stsz's
    // sample count and sample ranges stay size-checked, so the result is
    // either the exact sample set or a refusal — never junk. stsc
    // layout: [size][stsc][ver+flags][count][first_chunk][spc]...
    val stscSpc0 = indexOfBox(good, "stsc") + 4 + 4 + 4 + 4
    Multimodal.demuxMp4Frames(patched(good, stscSpc0, 99)).foreach { fs =>
      assert(fs.map(_.toSeq) === jpegs.map(_.toSeq),
        "tolerated stsc overrun must still reconstruct the exact samples")
    }
    // truncation fuzz: every 7th prefix parses to a clean refusal or a
    // valid (prefix-consistent) result — never a throw
    (good.indices by 7).foreach { n =>
      Multimodal.demuxMp4Frames(good.take(n)) // must not throw
    }
    // a 1.7 MB file whose 100,000 stsc runs all start at chunk 1 (the
    // last run, 1 sample per chunk, covers every chunk): rescanning the
    // table from its first run for each chunk is quadratic, tens of
    // seconds here; one pass over the runs is linear
    val n = 100000
    val ftyp = mp4box("ftyp", "isom".getBytes("US-ASCII") ++ be(512))
    val mdat = mp4box("mdat", Array.tabulate[Byte](n)(_.toByte))
    def table(entries: Int, entryInts: Int)(put: (java.nio.ByteBuffer, Int) => Unit) = {
      val bb = java.nio.ByteBuffer.allocate(8 + 4 * entryInts * entries).putInt(0).putInt(entries)
      (0 until entries).foreach(put(bb, _))
      bb.array()
    }
    val stsc = mp4box("stsc", table(n, 3)((bb, _) => bb.putInt(1).putInt(1).putInt(1)))
    val stco = mp4box("stco", table(n, 1)((bb, i) => bb.putInt(ftyp.length + 8 + i)))
    val stsz = mp4box("stsz", be(0) ++ be(1) ++ be(n)) // uniform: 1 byte each
    val hdlr = mp4box("hdlr", be(0) ++ be(0) ++ "vide".getBytes("US-ASCII") ++
      new Array[Byte](13))
    val runs = ftyp ++ mdat ++ mp4box("moov", mp4box("trak", mp4box("mdia",
      hdlr ++ mp4box("minf", mp4box("stbl", stsz ++ stsc ++ stco)))))
    val t0 = System.nanoTime()
    val demuxed = Multimodal.demuxMp4Frames(runs)
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(demuxed.map(_.map(_.toSeq)) ===
      Some((0 until n).map(i => Seq(i.toByte))), "n one-byte frames, in order")
    assert(seconds < 5.0, f"stsc demux took $seconds%.2f s: not linear")
  }

  test("readMediaDir ingests a file directory as the canonical media table") {
    withTempDir("graft-media-dir") { dir =>
      def write(name: String, bytes: Array[Byte]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), bytes)
      // one real file per modality: PNG via the JVM encoder, WAV via the
      // JVM audio writer, MP4 from the header fixture, plus a stray .txt
      val img = new java.awt.image.BufferedImage(17, 9,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val imgBos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", imgBos)
      write("photo.png", imgBos.toByteArray)
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(new Array[Byte](8000 * 2)), fmt, 8000L)
      val wavBos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, wavBos)
      write("clip.wav", wavBos.toByteArray)
      write("movie.mp4", mp4Fixture)
      write("notes.txt", "not media at all".getBytes("UTF-8"))

      val media = Multimodal.readMediaDir(spark, dir)
      assert(media.schema.simpleString === Multimodal.mediaSchema.simpleString)
      // simpleString drops nullability — the canonical non-null payload
      // contract must hold for real (binaryFile's content is nullable)
      assert(!media.schema("payload").nullable, "payload must be non-nullable")
      val byMime = Multimodal.extractFeatures(media).collect()
        .map(f => f.mime -> f).toMap
      assert(byMime.keySet === Set("image/png", "audio/wav", "video/mp4",
        "application/octet-stream"))
      assert((byMime("image/png").width, byMime("image/png").height) === ((17, 9)))
      assert((byMime("audio/wav").sample_rate, byMime("audio/wav").channels,
        byMime("audio/wav").duration_ms) === ((8000, 1, 1000L)))
      assert((byMime("video/mp4").width, byMime("video/mp4").duration_ms,
        byMime("video/mp4").n_tracks) === ((320, 2000L, 2)))
      // ids are path-stable: re-reading yields the same media_id per file
      val again = Multimodal.readMediaDir(spark, dir)
        .select("media_id").collect().map(_.getLong(0)).toSet
      assert(again === media.select("media_id").collect().map(_.getLong(0)).toSet)
      // the glob filter prunes at the source (only the wav survives)
      assert(Multimodal.readMediaDir(spark, dir, glob = "*.wav").count() === 1L)
    }
  }

  test("media decode never throws: fuzzed, magic-dressed, truncated payloads") {
    import spark.implicits._
    // "corrupt media is data, not a bug" — the decode contract, fuzzed:
    // random bytes, random bytes behind every sniffable magic, and every
    // truncation prefix of the valid containers must all decode to SOME
    // row (real header or stub), never an exception
    val rnd = new scala.util.Random(42) // deterministic fuzz corpus
    def randBytes(n: Int): Array[Byte] = { val a = new Array[Byte](n); rnd.nextBytes(a); a }
    val magics = Seq(
      "RIFF0000WAVE", "RIFF0000AVI ", "FORM0000AIFF",  // audio/avi sniffs
      new String(Array[Byte](0x89.toByte, 'P', 'N', 'G'), "ISO-8859-1"),
      "BM", "GIF89a",
      new String(Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte), "ISO-8859-1"))
    val dressed = magics.flatMap { m =>
      val head = m.getBytes("ISO-8859-1")
      Seq(head, head ++ randBytes(64), head ++ randBytes(1024))
    }
    // ftyp magic sits at offset 4 — dress it the way the sniff reads it
    val mp4ish = Seq(randBytes(4) ++ "ftyp".getBytes("US-ASCII") ++ randBytes(32))
    val truncations = (mp4Fixture.indices by 7).map(mp4Fixture.take(_)) ++
      (aviFixture.indices by 7).map(aviFixture.take(_))
    val garbage = (0 until 50).map(i => randBytes(rnd.nextInt(512)))
    // adversarial headers: all-ones unsigned fields that would sign-wrap
    // or overflow naive arithmetic (clamped to 0 by the parsers)
    val evilAvih = le(-1) ++ le(0) ++ le(0) ++ le(0) ++ le(-1) ++ le(0) ++
      le(-1) ++ le(0) ++ le(-1) ++ le(-1) ++ new Array[Byte](16)
    val evilAvi = {
      val chunk = "avih".getBytes("US-ASCII") ++ le(evilAvih.length) ++ evilAvih
      val hdrl = "LIST".getBytes("US-ASCII") ++ le(4 + chunk.length) ++
        "hdrl".getBytes("US-ASCII") ++ chunk
      "RIFF".getBytes("US-ASCII") ++ le(4 + hdrl.length) ++
        "AVI ".getBytes("US-ASCII") ++ hdrl
    }
    val evilMp4 = {
      val be64max = java.nio.ByteBuffer.allocate(8).putLong(Long.MaxValue).array()
      // mvhd v1 with a near-2^63 duration: *1000 would wrap negative
      val mvhd = mp4box("mvhd", Array[Byte](1, 0, 0, 0) ++
        new Array[Byte](16) ++ be(600) ++ be64max)
      mp4box("ftyp", "isom".getBytes("US-ASCII") ++ be(512)) ++
        mp4box("moov", mvhd ++ mp4box("trak", mp4box("tkhd", new Array[Byte](84))))
    }
    // a strf whose stride × height wraps a 32-bit int to 0: the frame-size
    // check must not wave a 4-byte chunk through to a 2^32-byte pixel walk
    val hugeDims = rgbAvi(Seq(Array[Byte](10, 20, 200.toByte, 0)),
      w = 65536, h = 65536)
    // crafted nesting, 20,000 levels deep: a walker that spends a JVM frame
    // per level overflows its stack here, and StackOverflowError is not
    // NonFatal — in a Spark task it takes the executor JVM down
    val depth = 20000
    val frameA = Array[Byte](10, 20, 200.toByte, 0) // 1x1 BGR, luma 72680
    val nestedHdrl = {
      // avih and a vids strl at the bottom of the hdrl nest, one rawvideo
      // frame in a top-level movi: both are only found by going all the way
      val strh = chunk("strh", "vids".getBytes("US-ASCII") ++ new Array[Byte](52))
      val strf = chunk("strf", le(40) ++ le(1) ++ le(1) ++
        Array[Byte](1, 0, 24, 0) ++ le(0) ++ new Array[Byte](20))
      val bottom = aviFixture.drop(24) ++ // the fixture's avih chunk
        list("strl", strh ++ strf)
      riffAvi(nestedLists("hdrl", depth, bottom) ++
        list("movi", chunk("00db", frameA)))
    }
    val nestedRec = riffAvi(list("movi",
      nestedLists("rec ", depth, chunk("00dc", "frame!".getBytes("US-ASCII")))))
    val moovJpegs = (0 until 3).map(i => jpegBytes(8, 4, i))
    val nestedMoov = {
      // synthMp4 is ftyp ++ mdat ++ moov with absolute chunk offsets, so
      // wrapping its moov in more moov boxes keeps the samples in place
      val mp4 = Multimodal.synthMp4(moovJpegs)
      val moovAt = 16 + java.nio.ByteBuffer.wrap(mp4).getInt(16)
      val moov = mp4.drop(moovAt)
      val bb = java.nio.ByteBuffer.allocate(moovAt + 8 * depth + moov.length)
      bb.put(mp4, 0, moovAt)
      (0 until depth).foreach { i =>
        bb.putInt(8 * (depth - i) + moov.length).put("moov".getBytes("US-ASCII"))
      }
      bb.put(moov).array()
    }
    val nested = Seq(nestedHdrl, nestedRec, nestedMoov)
    val payloads = (dressed ++ mp4ish ++ truncations ++ garbage ++
      Seq(evilAvi, evilMp4, hugeDims) ++ nested).zipWithIndex
      .map { case (p, i) => (i.toLong, p, "application/octet-stream") }
    val Seq(hugeId, hdrlId, recId, moovId) = payloads.takeRight(4).map(_._1)
    val media = payloads.toDF("media_id", "payload", "mime")
      .select(col("media_id"), col("payload"),
        struct(col("mime"), lit("fuzz").as("source"),
          length(col("payload")).cast("long").as("n_bytes")).as("meta"))
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length === payloads.size, "every payload decodes to a row")
    // no field ever sign-wraps negative, even on adversarial headers
    assert(feats.forall(_.duration_ms >= 0L), "no negative durations")
    assert(feats.forall(f => f.n_tracks >= 0 && f.width >= 0 && f.height >= 0),
      "no sign-wrapped dims/track counts")
    val featOf = feats.map(f => f.media_id -> f).toMap
    assert((featOf(hdrlId).width, featOf(hdrlId).height,
      featOf(hdrlId).duration_ms, featOf(hdrlId).n_tracks) === ((640, 480, 9999L, 2)),
      "the avih at the bottom of the nest is found")
    assert(featOf(recId).n_tracks === 0 && featOf(moovId).n_tracks === 0,
      "no main header or top-level trak: the stub row")

    // the frame operators over the same corpus: a payload with demuxable
    // video gives one sampled frame and one luma row (decoded or
    // `unsupported`) per frame; any other gives byte slices that cover it
    // exactly, and no luma rows
    val frames = Multimodal.sampleFrames(media, frameBytes = 256, stride = 1)
      .collect().groupBy(_.media_id).map { case (k, v) => k -> v.sortBy(_.frame_idx) }
    val lumas = Multimodal.frameLuma(media).collect()
      .groupBy(_.media_id).map { case (k, v) => k -> v.sortBy(_.frame_idx) }
    payloads.foreach { case (i, p, _) =>
      val fs = frames.getOrElse(i, Array.empty[Multimodal.MediaFrame])
      if (fs.exists(_.demuxed)) {
        assert(fs.forall(_.demuxed), s"payload $i mixes demuxed and sliced frames")
        assert(lumas.get(i).map(_.map(_.frame_idx).toSeq) ===
          Some(fs.map(_.frame_idx).toSeq), s"payload $i: one luma row per frame")
      } else {
        assert(fs.flatMap(_.frame_bytes).toSeq === p.toSeq,
          s"payload $i: the byte slices cover the payload")
        assert(!lumas.contains(i), s"payload $i: no frames, no luma rows")
      }
    }
    assert(lumas.values.flatten.forall(l =>
      if (l.codec == "unsupported") l.mean_luma_milli == -1L
      else l.mean_luma_milli >= 0L), "a luma is decoded or refused")
    assert(lumas(hugeId).map(_.codec).toSeq === Seq("unsupported"),
      "a frame far smaller than its wrapped size is refused")
    assert(frames(hdrlId).map(f => (f.width, f.height)).toSeq === Seq((1, 1)) &&
      lumas(hdrlId).map(l => (l.codec, l.mean_luma_milli)).toSeq ===
        Seq(("rawvideo", 72680L)), "the strf at the bottom of the nest is found")
    assert(frames(recId).map(f => new String(f.frame_bytes, "US-ASCII")).toSeq ===
      Seq("frame!") && lumas(recId).map(_.codec).toSeq === Seq("unsupported"),
      "the chunk at the bottom of the rec nest is demuxed")
    assert(frames(moovId).map(_.frame_bytes.toSeq).toSeq === moovJpegs.map(_.toSeq) &&
      lumas(moovId).map(l => (l.codec, l.width, l.height)).toSeq ===
        Seq.fill(3)(("mjpeg", 8, 4)), "the trak at the bottom of the moov nest is demuxed")
  }

  private def chunk(id: String, body: Array[Byte]): Array[Byte] =
    id.getBytes("US-ASCII") ++ le(body.length) ++ body ++
      (if (body.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray)
  private def list(typ: String, body: Array[Byte]): Array[Byte] =
    chunk("LIST", typ.getBytes("US-ASCII") ++ body)
  private def riffAvi(body: Array[Byte]): Array[Byte] =
    "RIFF".getBytes("US-ASCII") ++ le(4 + body.length) ++
      "AVI ".getBytes("US-ASCII") ++ body

  /** `inner` (of even length) inside `depth` nested LIST chunks of list
    * type `typ`, written header by header: wrapping one level at a time
    * would copy the payload once per level.
    */
  private def nestedLists(typ: String, depth: Int, inner: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 * depth + inner.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until depth).foreach { i =>
      bb.put("LIST".getBytes("US-ASCII")).putInt(4 + 12 * (depth - 1 - i) + inner.length)
        .put(typ.getBytes("US-ASCII"))
    }
    bb.put(inner).array()
  }

  test("incremental dedup flags batch docs against corpus and earlier batch only") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta"), // near-dup of corpus 1
      (11L, "totally novel content nothing shared here"),
      (12L, "red orange yellow green blue indigo violet"), // dup pair with 13
      (13L, "red orange yellow green blue indigo violet")).toDF("doc_id", "text")
    val out = Dedup.incrementalJaccard(corpus, batch, "doc_id", "text",
      threshold = 0.3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3)))
      .toMap
    assert(out(10L)._3 && out(10L)._2 === Some(1L), "dup of the corpus")
    assert(!out(11L)._3 && out(11L)._1 === 0L, "novel content survives")
    assert(!out(12L)._3, "first of a batch-internal dup pair survives")
    assert(out(13L)._3 && out(13L)._2 === Some(12L), "dup of the earlier batch doc")

    // equivalence law vs the full-corpus operator: with corpus ids below
    // batch ids, a batch doc is flagged iff the FULL-union pair set
    // (t07's operator) contains a pair ending at it — incremental =
    // full minus corpus-internal work, never minus verdicts
    val split = 250L
    val all = docs
    val inc = Dedup.incrementalJaccard(
      all.where(col("doc_id") < split), all.where(col("doc_id") >= split),
      "doc_id", "text", threshold = 0.1, maxDf = 100)
    val incFlagged = inc.where(col("is_dup")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val fullFlagged = Dedup.ngramJaccardPairs(all, "doc_id", "text",
      threshold = 0.1, maxDf = 100)
      .where(col("doc_b") >= split)
      .select(col("doc_b")).collect().map(_.getLong(0)).toSet
    assert(incFlagged === fullFlagged)
    // scale shape: no cartesian product in the incremental plan
    assert(!inc.queryExecution.executedPlan.toString.contains("CartesianProduct"))

    // the production entry point: PERSISTED corpus postings (the corpus
    // text is never touched again) must produce identical verdicts
    withTempDir("graft-postings") { tmp =>
      val postingsDir = s"$tmp/postings"
      Dedup.jaccardPostings(all.where(col("doc_id") < split), "doc_id", "text")
        .write.parquet(postingsDir)
      val fromStored = Dedup.incrementalJaccardFromPostings(
        spark.read.parquet(postingsDir), all.where(col("doc_id") >= split),
        "doc_id", "text", threshold = 0.1, maxDf = 100)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getBoolean(3)))
        .toSet
      assert(rows(fromStored) === rows(inc),
        "stored-postings path must match the from-text path")
    }
  }

  test("staged incremental dedup: exact equivalence, pruned plan, loud version check") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getBoolean(3)))
      .toSet

    // newly-hot correction canary: with maxDf = 2, trigram "x y z" has
    // corpus df 2 (kept at ingest) and flips hot only WITH the batch's
    // occurrence. threshold 0.7 is chosen so a stale stored size (missing
    // the correction) flips doc 10's verdict: the correct capped sizes
    // give jaccard 3/(3+3-3) = 1.0, stale sizes give 3/(4+4-3) = 0.6 < 0.7
    val corpus = Seq(
      (1L, "x y z a b c"),
      (2L, "x y z d e f"),
      (3L, "p q r s t u")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "x y z a b c"),
      (11L, "totally novel content nothing shared here")).toDF("doc_id", "text")
    val unstaged = Dedup.incrementalJaccard(corpus, batch, "doc_id", "text",
      threshold = 0.7, shingleN = 3, maxDf = 2)
    val staged = Dedup.incrementalJaccardStaged(
      Dedup.stageJaccardPostings(corpus, "doc_id", "text", shingleN = 3, maxDf = 2),
      batch, "doc_id", "text", threshold = 0.7)
    assert(rows(staged) === rows(unstaged),
      "staged must equal unstaged THROUGH a batch-induced hotness flip")
    assert(rows(staged).contains((10L, 1L, Some(1L), true)),
      "the planted near-dup must survive the combined cap with corrected sizes")
    assert(rows(staged).exists { case (id, n, _, dup) => id == 11L && n == 0L && !dup },
      "novel content stays novel")

    // the sf fixture, through a real write/read roundtrip of the staged
    // tables — the full equivalence law at gate scale
    val split = 250L
    withTempDir("graft-staged") { stagedDir =>
      Dedup.stageJaccardPostings(docs.where(col("doc_id") < split),
        "doc_id", "text", shingleN = 3, maxDf = 100).write(stagedDir)
      val stored = Dedup.StagedPostings.read(spark, stagedDir)
      val stagedOut = Dedup.incrementalJaccardStaged(stored,
        docs.where(col("doc_id") >= split), "doc_id", "text", threshold = 0.1)
      val unstagedOut = Dedup.incrementalJaccardFromPostings(
        Dedup.jaccardPostings(docs.where(col("doc_id") < split), "doc_id", "text"),
        docs.where(col("doc_id") >= split), "doc_id", "text",
        threshold = 0.1, shingleN = 3, maxDf = 100)
      assert(rows(stagedOut) === rows(unstagedOut),
        "roundtripped staged verdicts must equal the unstaged path's")

      // plan pin for the scale claim: the stored corpus tables reach the
      // nightly query through a broadcast LEFT SEMI prune with NO shuffle
      // and NO aggregation on either side of that join — corpus-sized work
      // stays at ingest. (The batch shingle keys are pre-materialized here
      // so the only Exchange in the pruning plan would have to come from
      // the corpus side.)
      withTempDir("graft-keys") { keysDir =>
        Dedup.jaccardPostings(docs.where(col("doc_id") >= split), "doc_id", "text")
          .select("shingle").distinct().write.mode("overwrite").parquet(keysDir)
        val prunePlan = Dedup.pruneToBatch(stored.postings,
          spark.read.parquet(keysDir)).queryExecution.executedPlan.toString
        assert(prunePlan.contains("BroadcastHashJoin") && prunePlan.contains("LeftSemi"),
          s"corpus prune must be a broadcast semi join:\n$prunePlan")
        assert(!prunePlan.contains("Exchange hashpartitioning"),
          s"corpus prune must not shuffle the stored postings:\n$prunePlan")
        assert(!prunePlan.contains("HashAggregate") && !prunePlan.contains("Window"),
          s"corpus prune must not aggregate the stored postings:\n$prunePlan")

        // a tokenizer-version mismatch fails loudly instead of serving
        // near-zero Jaccards
        val doctored = stored.copy(meta =
          Seq((3, 100, Dedup.TokenizerVersion + 1))
            .toDF("shingle_n", "max_df", "tokenizer_version"))
        val err = intercept[IllegalArgumentException] {
          Dedup.incrementalJaccardStaged(doctored,
            docs.where(col("doc_id") >= split), "doc_id", "text", threshold = 0.1)
        }
        assert(err.getMessage.contains("tokenizer"), err.getMessage)
      }
    }
  }

  test("bucketed staged postings: identical verdicts, pruned scan skips row groups") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getBoolean(3)))
      .toSet

    // 1) catalog-table roundtrip on the gate fixture: the bucketed store
    // serves the nightly path with verdicts identical to the parquet-dir
    // store (t28's oracle is over the same operator, so it stays green)
    val split = 250L
    val staged = Dedup.stageJaccardPostings(docs.where(col("doc_id") < split),
      "doc_id", "text", shingleN = 3, maxDf = 100)
    withTempDir("graft-bucketed-staged") { tableDir =>
      Seq("postings", "shingle_df", "meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft_staged_spec_$t"))
      staged.writeBucketed("graft_staged_spec", nBuckets = 4,
        pathPrefix = Some(tableDir))
      val fromTable = Dedup.StagedPostings.readTable(spark, "graft_staged_spec")
      val batch = docs.where(col("doc_id") >= split)
      assert(
        rows(Dedup.incrementalJaccardStaged(fromTable, batch, "doc_id", "text", 0.1))
          === rows(Dedup.incrementalJaccardStaged(staged, batch, "doc_id", "text", 0.1)),
        "bucketed-table verdicts must equal the parquet-dir store's")

      // 2) the scale claim on real scan metrics: a shingle-SORTED store has
      // tight per-row-group min/max, so the pruned scan's pushed range
      // filter skips groups the batch cannot touch. Engineered store:
      // per-letter shingle ranges, tiny row groups (parquet.block.size),
      // batch confined to one letter.
      val corpus = ('a' to 'z').map { c =>
        ((c - 'a').toLong, (1 to 40).map(i => s"${c}w$i").mkString(" "))
      }.toDF("doc_id", "text")
      val narrow = Seq((100L, (1 to 40).map(i => s"mw$i").mkString(" ")))
        .toDF("doc_id", "text")
      Seq("postings", "shingle_df", "meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft_skip_spec_$t"))
      Dedup.stageJaccardPostings(corpus, "doc_id", "text", shingleN = 3)
        .writeBucketed("graft_skip_spec", nBuckets = 1,
          pathPrefix = Some(s"$tableDir/skip"),
          writerOptions = Map("parquet.block.size" -> "2048"))
      val store = spark.table("graft_skip_spec_postings")
      val total = store.count()
      val batchKeys = Dedup.jaccardPostings(narrow, "doc_id", "text")
        .select("shingle").distinct()
      val pruned = Dedup.pruneToBatch(store, batchKeys)
      pruned.collect()
      val root = pruned.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      // the range filter must reach the parquet scan as a pushed filter
      val planStr = root.toString
      assert(
        "PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(shingle".r
          .findFirstIn(planStr).isDefined,
        s"batch range was not pushed to the stored scan:\n$planStr")
      // and actually skip: the scan must surface a fraction of the store
      // (rows of surviving row groups), not the whole table post-filtered.
      // (AQE wraps finished stages in QueryStageExec LEAVES — plain
      // collect() never descends into them, so walk explicitly.)
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          scans(r.child)
        case other => other.children.flatMap(scans)
      }
      val scanned = scans(root).map(_.metrics("numOutputRows").value).sum
      assert(scanned > 0 && scanned < total / 4,
        s"pruned scan read $scanned of $total rows — row groups not skipped")
      (Seq("postings", "shingle_df", "meta")).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS graft_staged_spec_$t")
        spark.sql(s"DROP TABLE IF EXISTS graft_skip_spec_$t")
      }
    }
  }

  test("contamination finds exactly the planted cross-set 8-gram overlaps") {
    import spark.implicits._
    val phrase = "one two three four five six seven eight nine"
    val train = Seq(
      (1L, s"prefix words $phrase suffix words"), // shares the 8-grams
      (2L, "totally different content with no overlap at all here"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, phrase)).toDF("doc_id", "text")
    val hits = Dedup.contamination(train, bench, "doc_id", "text", shingleN = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // phrase has 9 tokens = two 8-grams, both present in doc 1
    assert(hits.toSeq === Seq((1L, 100L, 2L)))
    // plan never degenerates to a cross join
    val plan = Dedup.contamination(train, bench, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("contamination broadcast guard: both paths, identical output") {
    import spark.implicits._
    val phrase = "one two three four five six seven eight nine"
    val train = Seq(
      (1L, s"prefix words $phrase suffix words"),
      (2L, "totally different content with no overlap at all here"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, phrase)).toDF("doc_id", "text")

    // a tiny eval set selects the broadcast (map-side) path; forced to
    // scale, the shingle-keyed shuffle
    val fast = Dedup.contamination(train, bench, "doc_id", "text")
    val safe = Regime.atScale(
      Dedup.contamination(train, bench, "doc_id", "text"))
    val auto = Dedup.contamination(train, bench, "doc_id", "text")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(rows(fast) === Seq((1L, 100L, 2L)))
    assert(rows(safe) === rows(fast), "fallback path must match broadcast path")
    assert(rows(auto) === rows(fast))

    // plan pins: broadcast path broadcasts the eval postings; the guarded
    // fallback shuffles on the shingle instead (no broadcast of eval data)
    def executed(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    assert(executed(fast).contains("BroadcastHashJoin"))
    assert(executed(auto).contains("BroadcastHashJoin"),
      "tiny eval set must auto-select the broadcast path")
    val safePlan = executed(safe)
    assert(!safePlan.contains("BroadcastHashJoin"),
      "over-threshold fallback must not broadcast the eval side")
    assert(safePlan.contains("ShuffledHashJoin") || safePlan.contains("SortMergeJoin"))

    // the auto-guard itself: an artificially tiny threshold forces the
    // shuffling path with no explicit override
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
      val guarded = Dedup.contamination(train, bench, "doc_id", "text")
      assert(!executed(guarded).contains("BroadcastHashJoin"),
        "eval side over the session threshold must fall back to the shuffle join")
      assert(rows(guarded) === rows(fast))
      // "-1" (the documented way to DISABLE auto-broadcast) is not a
      // parseable byte string — the guard must treat it as disabled, not
      // crash in the size parse
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val disabled = Dedup.contamination(train, bench, "doc_id", "text")
      assert(rows(disabled) === rows(fast))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("exact dedup groups identical keys only") {
    val withDup = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.where(col("doc_id") === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val survivors = Dedup.exact(withDup, "doc_id", Seq("text"))
    val dupGroup = survivors.where(col("n_copies") > 1).collect()
    assert(dupGroup.length === 1)
    assert(dupGroup.head.getAs[Long]("survivor_id") === 0L)
  }

  // deterministic synthetic vectors of arbitrary dim: v[d] = sin(id*131 + d)
  private def synthVecs(n: Int, dim: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, (0 until dim).map(d => math.sin(i * 131 + d).toFloat).toArray)
    }.toDF("vec_id", "embedding")
  }

  test("signBucket is non-degenerate at 32 and 128 dims") {
    for (dim <- Seq(32, 128)) {
      val v = synthVecs(64, dim)
      val codes = v.select(
        Ann.signBucket(col("embedding"), planes = 8, seed = 7L, dim = dim).as("code"))
        .collect().map(_.getLong(0))
      val distinct = codes.distinct.length
      // 64 random-ish vectors over 256 buckets: a dim-mismatch collapse
      // would put ALL of them in one bucket; require genuine spread
      assert(distinct > 8, s"dim=$dim: only $distinct distinct bucket codes")
    }
  }

  test("signBucket raises on dimension mismatch instead of collapsing") {
    val v = synthVecs(4, 32)
    val ex = intercept[Exception] {
      v.select(Ann.signBucket(col("embedding"), 8, 7L, dim = 64)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m => m != null && m.contains("signBucket")),
      s"expected signBucket dim error, got: ${ex.getMessage}")
  }

  test("lshTopK works end-to-end at non-default dim") {
    val v = synthVecs(50, 32)
    val out = Ann.lshTopK(v, v.limit(3), "vec_id", "embedding", k = 5,
      planes = 6, tables = 4, dim = 32).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("corpus_id") != -1))
  }

  test("sequence packing tiles each shard without gaps and chops at the budget") {
    val budget = 64
    val packed = graft.operators.Packing.pack(
      docs.select(col("doc_id"), col("text")), "doc_id",
      size(tokens(col("text"))), budget,
      shard = graft.operators.Packing.hashShard(col("doc_id"), 4))
      .collect()
      .groupBy(_.getAs[Int]("shard"))
    assert(packed.size > 1, "expected multiple shards")
    packed.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("doc_id"))
      // contiguous tiling: each doc starts where the previous ended
      sorted.foldLeft(0L) { (expectedStart, r) =>
        assert(r.getAs[Long]("start_off") === expectedStart)
        expectedStart + r.getAs[Int]("n_tokens")
      }
      sorted.foreach { r =>
        val first = r.getAs[Long]("first_seq")
        val last = r.getAs[Long]("last_seq")
        val start = r.getAs[Long]("start_off")
        val end = start + r.getAs[Int]("n_tokens")
        // the doc's span really does cover exactly sequences first..last
        assert(first === start / budget)
        assert(last === (end - 1) / budget)
        assert(r.getAs[Long]("n_seqs") === last - first + 1)
        assert(last >= first)
      }
    }
  }

  test("corpus shuffle: sharded ranks equal the naive global window exactly") {
    import org.apache.spark.sql.expressions.Window
    val input = docs.select(col("doc_id"), col("source")).repartition(7)
    val got = graft.operators.CorpusShuffle.permutation(input, "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pos")).toMap
    // the operator's whole claim: identical to the single-task global window
    val naive = input.withColumn("pos", row_number().over(
        Window.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("pos").toLong).toMap
    assert(got === naive)
    // and it is a permutation: positions are exactly 1..n
    assert(got.values.toSeq.sorted === (1L to got.size.toLong))
  }

  test("stratified sampling: exact k per stratum; hash prefilter changes nothing") {
    val naive = graft.operators.Sampling.stratified(
      docs, Seq("lang"), k = 5, idCol = "doc_id")
    val naiveRows = naive.select("lang", "rnk", "doc_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    // every stratum filled to exactly k (sf0.001 strata all have >5 docs)
    naiveRows.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.size === 5, s"stratum $lang")
      assert(rows.map(_._2) === Set(1, 2, 3, 4, 5))
    }
    // a generous prefilter (keep hash-smallest half) yields the IDENTICAL
    // sample — the scale path only shrinks the window input
    val pre = graft.operators.Sampling.stratified(
      docs, Seq("lang"), k = 5, idCol = "doc_id", prefilterTopFrac = Some(0.5))
      .select("lang", "rnk", "doc_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(pre === naiveRows)
    // determinism across runs/partitionings
    val again = graft.operators.Sampling.stratified(
      docs.repartition(7), Seq("lang"), k = 5, idCol = "doc_id")
      .select("lang", "rnk", "doc_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(again === naiveRows)
  }

  test("two-stage retrieval: full candidate set degenerates to brute force") {
    val queries = embs.where(col("vec_id") < 5)
    val n = embs.count().toInt
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // with nCandidates = corpus size the coarse cut drops nothing, so the
    // rerank must reproduce the exact answer bit-for-bit
    val staged = Ann.twoStageTopK(embs, queries, "vec_id", "embedding",
      k = 5, coarseDims = 16, nCandidates = n)
    val exact = key(Ann.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5))
    assert(key(staged) === exact)
    // at the production cut, recall@5 vs exact stays usable — these are
    // RANDOM embeddings, so the 16-dim prefix is the weakest possible
    // proxy (MRL-trained prefixes concentrate variance up front); the bar
    // mirrors the LSH recall test's 0.4
    val cut = key(Ann.twoStageTopK(embs, queries, "vec_id", "embedding",
      k = 5, coarseDims = 16, nCandidates = 50))
    val hits = cut.count { case (q, _, c) => exact.exists(e => e._1 == q && e._3 == c) }
    assert(hits.toDouble / exact.size > 0.4, s"recall@5 too low: $hits/${exact.size}")
    // a longer prefix also clears the bar (recall under a fixed cut is
    // NOT monotone in prefix length for arbitrary vectors, so no
    // 32-beats-16 assertion — only that both are usable)
    val cut32 = key(Ann.twoStageTopK(embs, queries, "vec_id", "embedding",
      k = 5, coarseDims = 32, nCandidates = 50))
    val hits32 = cut32.count { case (q, _, c) => exact.exists(e => e._1 == q && e._3 == c) }
    assert(hits32.toDouble / exact.size > 0.4, s"32-dim recall@5 too low: $hits32/${exact.size}")
  }

  test("quantized retrieval reranks to near-exact; integer arrays rejected loudly") {
    val queries = embs.where(col("vec_id") < 5)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = key(Ann.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5))
    val quant = key(Ann.quantizedTopK(embs, queries, "vec_id", "embedding",
      k = 5, nCandidates = 50))
    // int8 error is ~0.4% per element on 64 dims — the coarse ranking is
    // nearly exact and the rerank repairs the boundary, so recall is high
    val hits = quant.count { case (q, _, c) => exact.exists(e => e._1 == q && e._3 == c) }
    assert(hits.toDouble / exact.size > 0.8, s"recall@5 too low: $hits/${exact.size}")
    // the kernel rejects non-float/double arrays at analysis time instead
    // of bit-reinterpreting them into NaNs (the failure v09 debugging hit)
    val ints = embs.select(
      transform(col("embedding"), x => floor(x.cast("double") * 127).cast("long")).as("q"))
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(vec_cosine(col("q"), col("q"))).collect()
    }
    assert(err.getMessage.contains("array<float|double>"), err.getMessage)
  }

  test("semantic dedup keeps exactly one representative per near-dup group") {
    val n = embs.count()
    val verdicts = Dedup.semanticDedup(embs, "vec_id", "embedding",
      threshold = 0.4, nCentroids = 8).collect()
    // total verdict conservation: one row per embedding, no loss, no dup
    assert(verdicts.length.toLong === n)
    assert(verdicts.map(_.getLong(0)).distinct.length.toLong === n)
    val byGroup = verdicts.groupBy(_.getLong(2))
    byGroup.foreach { case (rep, rows) =>
      // exactly ONE kept row per group, and the representative IS the
      // minimal member id (the canonical-survivor rule every dedup op
      // here shares)
      assert(rows.count(_.getBoolean(3)) === 1, s"group $rep kept != 1")
      assert(rows.map(_.getLong(0)).min === rep, s"group $rep not min-id")
      assert(rows.exists(r => r.getLong(0) === rep && r.getBoolean(3)))
      // groups never span cells — the SemDeDup blocking invariant (pairs
      // are generated within cells only, so CC cannot merge across them)
      assert(rows.map(_.getLong(1)).distinct.length === 1,
        s"group $rep spans cells")
    }
    // the fixture's planted near-dups must actually group at this
    // threshold (otherwise the test proves nothing about merging)
    assert(byGroup.exists(_._2.length > 1), "no non-singleton groups found")
    assert(byGroup.size < n, "every doc is a singleton")
  }

  test("semantic dedup soft assignment only ever ADDS pairs (recall knob)") {
    // pairs under nAssign=2 must be a superset of nAssign=1's: every doc's
    // primary cell is among its top-2, so any hard-assignment pair still
    // shares that cell — soft assignment can only recover boundary dups,
    // never lose one. Many cells (32) force boundary effects at 500 docs.
    def pairSet(nAssign: Int): Set[(Long, Long)] =
      Dedup.semanticCellPairs(embs, "vec_id", "embedding",
        threshold = 0.4, nCentroids = 32, roundDp = 5, nAssign = nAssign)
        ._2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hard = pairSet(1)
    val soft = pairSet(2)
    assert(hard.subsetOf(soft),
      s"soft assignment lost pairs: ${(hard -- soft).take(5)}")
    // and the group count can only go down (more merges) or hold
    val groups1 = Dedup.semanticDedup(embs, "vec_id", "embedding",
      threshold = 0.4, nCentroids = 32, roundDp = 5)
      .select("group_rep").distinct().count()
    val groups2 = Dedup.semanticDedup(embs, "vec_id", "embedding",
      threshold = 0.4, nCentroids = 32, roundDp = 5, nAssign = 2)
      .select("group_rep").distinct().count()
    assert(groups2 <= groups1,
      s"soft assignment increased group count: $groups1 -> $groups2")
  }

  test("autoCells enforces the occupancy law (the autoPlanes pattern for cells)") {
    // gate scale: the floor reproduces the historical default
    assert(Ann.autoCells(500) === 16)
    // beyond the floor the cell count tracks n/targetCell, so expected
    // cell occupancy (= per-doc pair work) is bounded by targetCell at
    // ANY corpus scale — the planes=8 LSH cliff cannot recur for cells
    Seq(10000L, 100000L, 1000000L, 100000000L).foreach { n =>
      val cells = Ann.autoCells(n)
      assert(cells >= 16)
      assert(n.toDouble / cells <= 256.0, s"occupancy blew past target at n=$n")
    }
    // monotone: more corpus never means fewer cells
    val seq = Seq(1000L, 10000L, 100000L, 1000000L).map(Ann.autoCells(_))
    assert(seq === seq.sorted)
    // resolveCells: positive = explicit override, 0 = auto from the count
    assert(Ann.resolveCells(8, embs) === 8)
    assert(Ann.resolveCells(0, embs) === Ann.autoCells(embs.count()))
  }

  test("hierarchical assignment: probing every super-cell == flat, exactly") {
    // the equivalence law: each cell belongs to exactly one super-cell, so
    // superProbe = nSuper makes the candidate set all k cells with the
    // identical (ccos DESC, cid) tie-break — bit-equal to the flat argmax.
    // k=320 on 500 rows → nSuper=5: a real hierarchy (not the degenerate
    // 2-super case where the default probe covers everything), and past
    // FlatDispatchMaxCells so the dispatcher check below is exercised.
    val k = 320
    val cent = Ann.seedCentroids(embs, "vec_id", "embedding", k)
      .localCheckpoint(false)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("corpus_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val flat = key(Ann.assignCellsFlat(cent, embs, "vec_id", "embedding",
      "corpus", keep = 1))
    val nSuper = math.ceil(k.toDouble / Ann.FlatAssignMaxCells).toInt
    val hierAll = key(Ann.assignCellsHierarchical(cent, embs, "vec_id",
      "embedding", "corpus", keep = 1, nCells = k, superProbe = nSuper))
    assert(hierAll === flat, "superProbe=all must reproduce flat exactly")

    // default probe (max(2, keep)=2 of 4 supers) is the approximation the
    // scale path runs: one cell per row, all cells valid, and agreement
    // with flat stays high on the fixture (deterministic — pinned floor)
    val hierDefault = Ann.assignCellsHierarchical(cent, embs, "vec_id",
      "embedding", "corpus", keep = 1, nCells = k)
    val hd = key(hierDefault)
    assert(hd.size === embs.count(), "exactly one cell per row")
    val validCids = cent.select("cid").collect().map(_.getLong(0)).toSet
    assert(hd.forall(p => validCids.contains(p._2)), "assigned to a real cell")
    // measured 0.828 on this fixture — deliberately hostile geometry
    // (occupancy ~2 rows/cell vs the production target of 256, so every
    // row sits on a Voronoi boundary); production occupancy agrees far
    // higher, and the dedup family only needs near-dups to SHARE a cell
    val agree = hd.count(flat.contains).toDouble / flat.size
    assert(agree >= 0.8, s"hierarchical/flat agreement collapsed: $agree")
    // and the dispatcher routes k>threshold to the hierarchical form
    assert(key(Ann.assignCells(cent, embs, "vec_id", "embedding", "corpus",
      keep = 1, nCells = k)) === hd)
  }

  test("hierarchical assignment recurses past threshold^2 cells; law holds") {
    // a super set bigger than the dispatch threshold re-enters the
    // hierarchy (depth 2): k > 64·256 cells. The cell→super step scales
    // with k, but the row side needs only a few rows — a small row set
    // keeps the flat reference (rows × k cosines) unit-sized. Synthetic
    // deterministic vectors — no RNG, replayable.
    val n = Ann.FlatAssignMaxCells * (Ann.FlatDispatchMaxCells + 1) // nSuper = 257
    val rowsN = 96
    val dim = 4
    val syn = spark.range((n + rowsN).toLong).select(col("id").as("vec_id"),
      array((0 until dim).map(d =>
        (pmod(hash(col("id"), lit(d)), lit(997)) + lit(13)).cast("double")): _*)
        .as("embedding"))
      .localCheckpoint(false)
    val cent = Ann.seedCentroids(syn, "vec_id", "embedding", n)
      .localCheckpoint(false)
    // the rows are the ids above the centroid range
    val rowsDf = syn.where(col("vec_id") >= n)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("corpus_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val flat = key(Ann.assignCellsFlat(cent, rowsDf, "vec_id", "embedding",
      "corpus", keep = 1))
    val nSuper = math.ceil(n.toDouble / Ann.FlatAssignMaxCells).toInt
    assert(nSuper > Ann.FlatDispatchMaxCells, "fixture must recurse")
    val hierAll = key(Ann.assignCellsHierarchical(cent, rowsDf, "vec_id",
      "embedding", "corpus", keep = 1, nCells = n, superProbe = nSuper))
    assert(hierAll === flat,
      "recursive superProbe=all must still reproduce flat exactly")
    // the default-probe recursive path stays total: one valid cell per row
    val hd = key(Ann.assignCellsHierarchical(cent, rowsDf, "vec_id",
      "embedding", "corpus", keep = 1, nCells = n))
    assert(hd.size === rowsN.toLong, "one cell per row through the recursion")
  }

  test("pruneToCells: literals within bound, semi-join beyond, same rows") {
    withTempDir("graft-prune-cells") { tmp =>
      Ann.withIvfQuantizedLayout(embs, "vec_id", "embedding", nCentroids = 8)
        .write.mode("overwrite").partitionBy("cluster_id")
        .parquet(s"$tmp/layout")
      val stored = spark.read.parquet(s"$tmp/layout")
      val probe = stored.where(col("vec_id") % 7 === 0).select(col("cluster_id"))
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id").collect().map(_.getLong(0)).toSet
      val litPath = Ann.pruneToCells(stored, "cluster_id", probe)
      val semiPath = Regime.atScale(Ann.pruneToCells(stored, "cluster_id", probe))
      assert(ids(litPath) === ids(semiPath), "both prunes must keep the same rows")
      assert(ids(litPath).nonEmpty, "fixture probe should hit cells")
      // plan shapes: literals prune partitions statically; past the bound
      // the filter is a broadcast LEFT SEMI whose runtime values reach the
      // scan as a dynamic-pruning partition filter — neither holds an
      // unbounded IN-list
      val litPlan = litPath.queryExecution.executedPlan.toString
      assert(litPlan.contains("PartitionFilters") && !litPlan.contains("LeftSemi"),
        s"literal path must partition-prune without a join:\n$litPlan")
      val semiPlan = semiPath.queryExecution.executedPlan.toString
      assert(semiPlan.contains("LeftSemi"),
        s"beyond the bound the prune must be a semi-join:\n$semiPlan")
      assert(semiPlan.contains("dynamicpruning"),
        s"semi-join prune must reach the scan as dynamic partition pruning:\n$semiPlan")
    }
  }

  test("layout writer enforces the cell-count law (writer/consumer parity)") {
    // nCentroids defaults to 0 = auto: a layout written with defaults
    // derives the SAME occupancy-law cell count semanticDedup enforces,
    // so semanticDedupStored can never inherit oversized cells from a
    // default-written layout
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = key(Ann.withIvfQuantizedLayout(embs, "vec_id", "embedding"))
    val explicit = key(Ann.withIvfQuantizedLayout(embs, "vec_id", "embedding",
      nCentroids = Ann.autoCells(embs.count())))
    assert(auto === explicit, "auto layout must equal the resolved explicit one")
    // caller-supplied count skips the extra scan but must resolve the same
    val counted = key(Ann.withIvfQuantizedLayout(embs, "vec_id", "embedding",
      corpusCount = embs.count()))
    assert(counted === auto)
    assert(Ann.resolveCells(0, embs, knownCount = 1000000L)
      === Ann.autoCells(1000000L))
  }

  test("stored-layout semantic dedup: verdicts = inline, zero corpus exchange") {
    // the v11 persisted layout consumed by dedup: assignment is READ from
    // cluster_id (never recomputed), and a table BUCKETED by cluster_id
    // makes the within-cell self-join co-partitioned — the deployment
    // claim as a checked plan, not a comment
    val layout = Ann.withIvfQuantizedLayout(embs, "vec_id", "embedding",
      nCentroids = 8)
    // external table at a fresh temp path: a previously-aborted run can
    // strand the managed-warehouse location and poison the re-create
    withTempDir("graft-sem-layout") { tableDir =>
      spark.sql("DROP TABLE IF EXISTS sem_layout_spec")
      layout.write.format("parquet").mode("overwrite")
        .bucketBy(4, "cluster_id").sortBy("cluster_id")
        .option("path", s"$tableDir/t")
        .saveAsTable("sem_layout_spec")
      val stored = spark.table("sem_layout_spec")

      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
      val storedRes = Dedup.semanticDedupStored(stored, "vec_id", "embedding",
        threshold = 0.4)
      val inline = Dedup.semanticDedup(embs, "vec_id", "embedding",
        threshold = 0.4, nCentroids = 8)
      assert(key(storedRes) === key(inline),
        "stored-layout verdicts must equal the inline run's")

      // plan pin: the pair stage over the bucketed table has NO exchange at
      // all — both self-join sides arrive hash-partitioned by the stored
      // key. Broadcast is disabled for the pin: at gate scale Spark would
      // broadcast one side (also exchange-free, but it would leave the
      // co-partitioning claim unexercised — at 100 TB neither side
      // broadcasts and THIS is the plan that must hold)
      val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val (_, pairs) = Dedup.semanticStoredPairs(stored, "vec_id", "embedding",
          threshold = 0.4, clusterCol = "cluster_id", roundDp = -1)
        val plan = pairs.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"corpus-side exchange in the stored pair join:\n$plan")
        assert(plan.contains("SortMergeJoin"),
          s"expected a bucket-co-partitioned sort-merge join:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
      spark.sql("DROP TABLE IF EXISTS sem_layout_spec")
    }
  }

  test("incremental semantic dedup = full-corpus verdicts restricted to batch") {
    // the t27/t28 equivalence law in embedding space: flag batch docs
    // against a persisted corpus layout; verdicts must EXACTLY match the
    // full-corpus pair run's, restricted to batch docs. Precondition of
    // the law: corpus holds the union's lowest ids (the normal ingest
    // situation — seeds predate the batch).
    val maxId = embs.agg(max(col("vec_id"))).head().getLong(0)
    val split = maxId - (embs.count() / 3) // batch = newest third
    val corpus = embs.where(col("vec_id") < split)
    val batch = embs.where(col("vec_id") >= split)
    val cent = Ann.seedCentroids(corpus, "vec_id", "embedding", nCentroids = 8)
    val stored = Ann.withIvfQuantizedLayout(corpus, "vec_id", "embedding",
      nCentroids = 8)

    val inc = Dedup.semanticDedupIncremental(stored, cent, batch,
      "vec_id", "embedding", threshold = 0.4, roundDp = 5)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.get(2)), r.getBoolean(3)))
      .toMap

    // expected: the FULL-corpus pair set (same cells), batch rows only
    val fullPairs = Dedup.semanticCellPairs(embs, "vec_id", "embedding",
      threshold = 0.4, nCentroids = 8, roundDp = 5)._2
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = batch.select(col("vec_id")).collect().map(_.getLong(0)).map { b =>
      val srcs = fullPairs.collect { case (a, bb) if bb == b => a }
      b -> ((srcs.length.toLong,
        if (srcs.isEmpty) None else Some(srcs.min), srcs.nonEmpty))
    }.toMap
    assert(inc.keySet === expected.keySet, "one verdict per batch doc")
    expected.foreach { case (b, (n, dupOf, isDup)) =>
      val (gn, gDupOf, gIsDup) = inc(b)
      assert(gn === n, s"doc $b: n_dup_sources $gn != $n")
      assert(gDupOf.map(_.asInstanceOf[Long]) === dupOf, s"doc $b: dup_of")
      assert(gIsDup === isDup, s"doc $b: is_dup")
    }
    // the law must bite: the fixture has real cross-split near-dups
    assert(inc.values.exists(_._3), "no batch dup found — law is vacuous")
  }

  test("compacted IVF layout ≡ from-scratch layout over corpus ∪ fold") {
    // the t42 law replayed for the vector LSM (v21): a persisted layout
    // plus one writeTick fold delta (assigned under the layout's own
    // centroids), compacted, must serve incremental verdicts
    // row-identical to a from-scratch layout over corpus ∪ fold — and
    // the compacted directory must be cluster-partitioned, carry only
    // the columns common to base and delta, and refuse in-place writes
    val maxId = embs.agg(max(col("vec_id"))).head().getLong(0)
    val n = embs.count()
    val (s1, s2) = (maxId - 2 * (n / 3), maxId - (n / 3))
    val corpus = embs.where(col("vec_id") < s1)
    val fold = embs.where(col("vec_id") >= s1 && col("vec_id") < s2)
    val batch = embs.where(col("vec_id") >= s2)
    val cent = Ann.seedCentroids(corpus, "vec_id", "embedding", nCentroids = 8)
    withTempDir("graft_ivf_compact_") { work =>
      Ann.withIvfQuantizedLayout(corpus, "vec_id", "embedding", nCentroids = 8)
        .write.mode("overwrite").partitionBy("cluster_id")
        .parquet(s"$work/base")
      graft.streaming.Streams.writeTick(
        Ann.assignCells(cent, fold, "vec_id", "embedding", "fold",
            keep = 1, nCells = 8)
          .select(col("cluster_id"), col("fold_id").as("vec_id"),
            col("fold_vec").as("embedding")),
        s"$work/overlay", 0L)
      Ann.compactIvfLayout(spark, s"$work/base", s"$work/layout",
        Seq(s"$work/overlay"))

      def verdicts(stored: org.apache.spark.sql.DataFrame) =
        Dedup.semanticDedupIncremental(stored, cent, batch,
            "vec_id", "embedding", threshold = 0.4, roundDp = 5, nCells = 8)
          .orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getBoolean(3)))
          .toSeq
      val compacted = spark.read.parquet(s"$work/layout")
      val fromScratch = Ann.withIvfQuantizedLayout(
        embs.where(col("vec_id") < s2), "vec_id", "embedding", nCentroids = 8)
      assert(verdicts(compacted) === verdicts(fromScratch),
        "compacted layout diverged from a from-scratch union layout")
      // law must bite: a real dup crosses the fold/batch boundary
      assert(verdicts(compacted).exists(_._4), "no batch dup — law is vacuous")

      // structural: column contract = intersection (codes are base-only
      // and stale for delta rows — they must NOT survive), partitioned
      // by cell on disk, row count = corpus + fold
      assert(compacted.columns.toSet === Set("vec_id", "embedding", "cluster_id"))
      assert(compacted.count() === corpus.count() + fold.count())
      assert(new java.io.File(s"$work/layout").listFiles()
        .exists(f => f.isDirectory && f.getName.startsWith("cluster_id=")),
        "compacted layout is not cluster-partitioned on disk")
      intercept[IllegalArgumentException] {
        Ann.compactIvfLayout(spark, s"$work/base", s"$work/base/./")
      }
      intercept[IllegalArgumentException] {
        Ann.compactIvfLayout(spark, s"$work/base", s"$work/overlay",
          Seq(s"$work/overlay"))
      }
    }
  }

  test("Lloyd refinement plumbs into the layout; iters=0 keeps exact seeds") {
    // iters=0 IS seedCentroids — the v11 oracle replay depends on it
    def centKey(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
    assert(
      centKey(Ann.ivfCentroids(embs, "vec_id", "embedding", 8, lloydIters = 0)) ===
        centKey(Ann.seedCentroids(embs, "vec_id", "embedding", 8)))

    // refined layout end-to-end at the production probe shape (16 cells /
    // 4 probes, the ivfTopK floor test's geometry): recall-at-probe must
    // hold the unrefined layout's measured level — Lloyd tightens cells
    // and must not cost recall on the gate fixture
    val iters = 2
    val refCent = Ann.ivfCentroids(embs, "vec_id", "embedding", 16, iters)
      .localCheckpoint(false)
    val refined = Ann.withIvfQuantizedLayout(embs, "vec_id", "embedding",
      nCentroids = 16, lloydIters = iters)
    val queries = embs // every doc queries: a 5-query sample is all variance
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = key(Ann.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5))
    def recall(res: Set[(Long, Int, Long)]): Double =
      res.count { case (q, _, c) => exact.exists(e => e._1 == q && e._3 == c) }
        .toDouble / exact.size
    val unrefined = recall(key(Ann.ivfQuantizedTopK(
      Ann.withIvfQuantizedLayout(embs, "vec_id", "embedding", nCentroids = 16),
      Ann.seedCentroids(embs, "vec_id", "embedding", 16), queries,
      "vec_id", "embedding", "codes", k = 5, nProbe = 4, nCandidates = 50)))
    val refinedR = recall(key(Ann.ivfQuantizedTopK(refined, refCent, queries,
      "vec_id", "embedding", "codes", k = 5, nProbe = 4, nCandidates = 50)))
    assert(refinedR >= unrefined,
      s"Lloyd refinement lost recall: $refinedR < $unrefined")
  }

  test("stored-codes retrievals demand int8 provenance; tag survives parquet") {
    import org.apache.spark.sql.functions.{col, sha2, substring => ssub}
    // an arbitrary binary column (here: a hash prefix) must be REJECTED —
    // without the provenance tag it would silently score byte-per-element
    val impostor = embs.withColumn("codes",
      ssub(sha2(col("vec_id").cast("string"), 256).cast("binary"), 1, 64))
    val err = intercept[IllegalArgumentException] {
      Ann.quantizedTopK(impostor, embs.where(col("vec_id") < 3),
        "vec_id", "embedding", "codes", k = 3, nCandidates = 10, rankRoundDp = -1)
    }
    assert(err.getMessage.contains("provenance"), err.getMessage)
    // the explicit escape hatch unblocks externally-produced codes — the
    // caller owns the claim (scores here are garbage but well-typed)
    val claimed = Ann.tagInt8Codes(impostor, "codes")
    assert(Ann.quantizedTopK(claimed, embs.where(col("vec_id") < 3),
      "vec_id", "embedding", "codes", k = 3, nCandidates = 10,
      rankRoundDp = -1).collect().nonEmpty)
    // the writer's tag survives a parquet roundtrip (field metadata rides
    // in the footer schema) — the stored-path tests below depend on it
    withTempDir("graft-ann-tag") { dir =>
      Ann.withRetrievalColumns(embs, "embedding").write.parquet(s"$dir/c")
      val rt = spark.read.parquet(s"$dir/c")
      assert(rt.schema("codes").metadata.contains(Ann.Int8CodesTag))
    }
  }

  test("persisted retrieval columns: stored-path parity and pruned coarse scans") {
    // the SURVEY §8 production claim for v08/v09, made checkable: persist
    // the codes/prefix columns once (withRetrievalColumns), and the
    // staged retrievals' COARSE scans must read only id + code/prefix —
    // never the full vector column — while returning bit-identical results
    // to the on-the-fly overloads (the v06 cluster_id-pruning pattern)
    withTempDir("graft-ann-store") { dir =>
      Ann.withRetrievalColumns(embs, "embedding", coarseDims = 16)
        .write.parquet(s"$dir/corpus")
      val stored = spark.read.parquet(s"$dir/corpus")
      assert(stored.schema("codes").dataType ===
        org.apache.spark.sql.types.BinaryType)
      assert(stored.schema("prefix").dataType ===
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
      val queries = embs.where(col("vec_id") < 5)
      val storedQueries = stored.where(col("vec_id") < 5)

      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "rank", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

      val v8Fly = Ann.twoStageTopK(embs, queries, "vec_id", "embedding",
        k = 5, coarseDims = 16, nCandidates = 50)
      val v8Stored = Ann.twoStageTopK(stored, storedQueries, "vec_id", "embedding",
        "prefix", k = 5, coarseDims = 16, nCandidates = 50, rankRoundDp = -1)
      assert(key(v8Stored) === key(v8Fly), "stored prefix path must match on-the-fly")

      val v9Fly = Ann.quantizedTopK(embs, queries, "vec_id", "embedding",
        k = 5, nCandidates = 50)
      val v9Stored = Ann.quantizedTopK(stored, storedQueries, "vec_id", "embedding",
        "codes", k = 5, nCandidates = 50, rankRoundDp = -1)
      assert(key(v9Stored) === key(v9Fly), "stored codes path must match on-the-fly")

      // plan pin: among the parquet scans each stored-path query plans, the
      // COARSE scan (the one reading the storage column) must not also read
      // the full embedding column — that is the whole point of the form
      def coarseScans(df: org.apache.spark.sql.DataFrame, storageCol: String) = {
        val schemas = "ReadSchema: struct<[^>]*>".r
          .findAllIn(df.queryExecution.executedPlan.toString).toList
        val coarse = schemas.filter(_.contains(storageCol))
        assert(coarse.nonEmpty, s"no scan reads $storageCol:\n$schemas")
        coarse
      }
      coarseScans(v8Stored, "prefix").foreach { s =>
        assert(!s.contains("embedding"), s"coarse scan reads full vectors: $s")
      }
      coarseScans(v9Stored, "codes").foreach { s =>
        assert(!s.contains("embedding"), s"coarse scan reads full vectors: $s")
      }

      // the composed form (v10): coarse = byte-PREFIX of the stored codes.
      // At coarseDims = dim the prefix is the whole code array, so the
      // composition must reproduce the stored-codes quantized retrieval
      // exactly (substring(codes, 1, 64) ≡ codes, byte cosine ≡ byte cosine)
      val dim = embs.select(org.apache.spark.sql.functions.size(col("embedding")))
        .first().getInt(0)
      val composedFull = Ann.twoStageQuantizedTopK(stored, storedQueries,
        "vec_id", "embedding", "codes", k = 5, coarseDims = dim, nCandidates = 50)
      assert(key(composedFull) === key(v9Stored),
        "full-width code prefix must equal the quantized retrieval")
      // at the production cut the coarse scan reads 16 BYTES per row —
      // recall holds the same bar as the float-prefix stage (v08's test)
      val composed = Ann.twoStageQuantizedTopK(stored, storedQueries,
        "vec_id", "embedding", "codes", k = 5, coarseDims = 16, nCandidates = 50)
      val exact = key(Ann.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5))
      val hits = key(composed).count { case (q, _, c) =>
        exact.exists(e => e._1 == q && e._3 == c) }
      assert(hits.toDouble / exact.size > 0.4, s"composed recall@5: $hits/${exact.size}")
      coarseScans(composed, "codes").foreach { s =>
        assert(!s.contains("embedding"), s"composed coarse scan reads vectors: $s")
      }

      // the byte kernel itself: cosine(codes, float vector) equals
      // cosine(double codes, float vector) bit-for-bit
      val byteCos = stored.select(col("vec_id"),
        vec_cosine(col("codes"), col("embedding")).as("c"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val dblCos = embs.select(col("vec_id"), vec_cosine(
        transform(col("embedding"), x => floor(x.cast("double") /
          graft.functions.VectorFunctions.vec_norm(col("embedding")) * 127 + 0.5)
          .cast("double")),
        col("embedding")).as("c"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(byteCos === dblCos, "byte-array cosine must be bit-identical")
    }
  }

  test("IVF with a cluster_id partition column prunes the probe scan") {
    // the SURVEY §8 production claim, made checkable: store the corpus
    // partitioned by its IVF cell and the probe's filter becomes a
    // PARTITION filter — the scan physically reads nProbe/nCentroids of
    // the corpus instead of filtering rows after a full read
    import org.apache.spark.sql.functions.{broadcast => bc}
    withTempDir("graft-ivf-store") { dir =>
      val cent = embs.orderBy(col("vec_id")).limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("centroid"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
      embs.crossJoin(bc(cent))
        .select(col("vec_id"), col("embedding"), col("cid"),
          vec_cosine(col("embedding"), col("centroid")).as("ccos"))
        .withColumn("r", org.apache.spark.sql.functions.row_number().over(w))
        .where(col("r") === 1)
        .select(col("vec_id"), col("embedding"), col("cid").as("cluster_id"))
        .write.partitionBy("cluster_id").parquet(s"$dir/corpus")
      val probed = spark.read.parquet(s"$dir/corpus")
        .where(col("cluster_id").isin(0L, 1L))
      val plan = probed.queryExecution.executedPlan.toString
      // cluster_id must appear INSIDE the PartitionFilters bracket — a scan
      // always prints an (often empty) PartitionFilters list, so matching
      // the two substrings separately would pass vacuously
      assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(plan).isDefined,
        s"probe filter did not prune partitions:\n$plan")
      // and the pruned read returns exactly the two probed cells (partition
      // columns come back with directory-inferred types — cast to compare)
      val cells = probed.select(col("cluster_id").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(cells.subsetOf(Set(0L, 1L)) && cells.nonEmpty)
    }
  }

  test("IVF x quantized layout (v11): pruned partitions, code-only coarse scan, parity") {
    // the composed production form: one stored table, BOTH savings axes
    // real — the probe reads only its cells (PartitionFilters) and the
    // coarse pass reads only code bytes (ReadSchema) — plus exact parity
    // with the same rule computed inline
    withTempDir("graft-ivfsq") { dir =>
      Ann.withIvfQuantizedLayout(embs, "vec_id", "embedding", nCentroids = 8)
        .write.partitionBy("cluster_id").mode("overwrite").parquet(s"$dir/corpus")
      val stored = spark.read.parquet(s"$dir/corpus")
      val cent = Ann.seedCentroids(embs, "vec_id", "embedding", nCentroids = 8)
      val queries = embs.where(col("vec_id") < 5)

      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "rank", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

      val storedRes = Ann.ivfQuantizedTopK(stored, cent, queries,
        "vec_id", "embedding", "codes", k = 5, nProbe = 2, nCandidates = 50)
      val inlineRes = Ann.ivfQuantizedTopK(
        Ann.withIvfQuantizedLayout(embs, "vec_id", "embedding", nCentroids = 8),
        cent, queries, "vec_id", "embedding", "codes",
        k = 5, nProbe = 2, nCandidates = 50)
      assert(key(storedRes) === key(inlineRes),
        "persisted layout must reproduce the inline computation exactly")

      // recall vs brute force: probing 2/8 cells with a byte-coarse pass
      // holds the composed-retrieval floor (the v10 bar)
      val exact = key(Ann.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5))
      val hits = key(storedRes).count { case (q, _, c) =>
        exact.exists(e => e._1 == q && e._3 == c) }
      assert(hits.toDouble / exact.size > 0.4, s"recall@5: $hits/${exact.size}")

      // plan pins, scoped to the layout's scans (the embeddings fixture and
      // centroid reads are unpartitioned parquet and legitimately unpruned):
      // every scan of the stored layout must carry a cluster_id partition
      // filter, and the coarse scan (the one reading `codes`) must not also
      // read the vector column
      val scans = storedRes.queryExecution.executedPlan.toString
        .split("FileScan parquet").toSeq.drop(1)
      val layoutScans = scans.filter(_.contains("graft-ivfsq"))
      assert(layoutScans.size >= 2,
        s"expected coarse + rerank scans of the layout, got ${layoutScans.size}")
      layoutScans.foreach { s =>
        assert("PartitionFilters: \\[[^\\]]*cluster_id".r.findFirstIn(s).isDefined,
          s"layout scan did not prune partitions:\n$s")
      }
      val coarseScans = layoutScans.filter(
        "ReadSchema: struct<[^>]*codes".r.findFirstIn(_).isDefined)
      assert(coarseScans.nonEmpty, "no layout scan reads the codes column")
      coarseScans.foreach { s =>
        val schema = "ReadSchema: struct<[^>]*>".r.findFirstIn(s).get
        assert(!schema.contains("embedding"),
          s"coarse scan reads full vectors: $schema")
      }
    }
  }

  test("chunking covers every token exactly; overlap and short-tail law hold") {
    val size = 16
    val stride = 12
    val nToks = docs.select(org.apache.spark.sql.functions.size(
      tokens(col("text"))).as("n"), col("doc_id")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    val chunks = graft.operators.Chunking
      .chunk(docs, "doc_id", "text", size, stride)
      .collect().groupBy(_.getAs[Long]("doc_id"))
    assert(chunks.keySet === nToks.keySet, "every doc chunks (even short ones)")
    chunks.foreach { case (id, rows) =>
      val n = nToks(id)
      val sorted = rows.sortBy(_.getAs[Int]("chunk_idx"))
      assert(sorted.map(_.getAs[Int]("chunk_idx")).toSeq ===
        (0 until sorted.length), s"doc $id: contiguous chunk indices")
      sorted.foreach { r =>
        val start = r.getAs[Int]("chunk_idx") * stride
        val expectLen = math.min(size, n - start)
        assert(r.getAs[Int]("n_chunk_tokens") === expectLen, s"doc $id")
      }
      // the final chunk reaches the end of the document, the one after
      // would start beyond it (minimal cover)
      val last = sorted.last.getAs[Int]("chunk_idx")
      assert(last * stride + size >= n, s"doc $id: covers the tail")
      assert(sorted.length == 1 || (last * stride) < n, s"doc $id: no empty chunk")
    }
  }

  test("block dedup: first occurrence survives, later block copies are charged") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"),      // blocks (2-tok grid): "a b", "c d"
      (2L, "a b x y"),      // "a b" repeats doc 1's first block
      (3L, "c d a b")       // both blocks seen before (in docs 1/2)
    ).toDF("doc_id", "text")
    val out = Dedup.blockDedup(df, "doc_id", "text", blockTokens = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_blocks"), r.getAs[Long]("n_dup_blocks"))).toMap
    assert(out(1L) === (2L, 0L), "doc 1 owns both first occurrences")
    assert(out(2L) === (2L, 1L), "doc 2 repeats one block")
    assert(out(3L) === (2L, 2L), "doc 3 repeats both")
  }

  test("mixture sampling fills each domain budget with at most one straddler") {
    val budget = when(col("lang") === "en", 400L).otherwise(150L)
    val nTok = org.apache.spark.sql.functions.size(tokens(col("text"))).cast("long")
    val picked = graft.operators.Mixture
      .byTokenBudget(docs, Seq("lang"), "doc_id", nTok, budget)
      .collect().groupBy(_.getAs[String]("lang"))
    val domainTotals = docs.select(col("lang"), nTok.as("n"))
      .groupBy("lang").sum("n").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("sum(n)")).toMap
    picked.foreach { case (lang, rows) =>
      val b = if (lang == "en") 400L else 150L
      val total = rows.map(_.getAs[Long]("n_tokens")).sum
      // every pick STARTS inside the budget...
      rows.foreach(r => assert(r.getAs[Long]("start_off") < b, s"$lang"))
      // ...and the budget is exhausted unless the domain ran out of tokens
      assert(total >= math.min(b, domainTotals(lang)), s"$lang underfilled")
      // overshoot bounded by the single straddling document
      val maxDoc = rows.map(_.getAs[Long]("n_tokens")).max
      assert(total - b <= maxDoc, s"$lang overshoot")
    }
    // determinism under a different input partitioning
    val again = graft.operators.Mixture
      .byTokenBudget(docs.repartition(7), Seq("lang"), "doc_id", nTok, budget)
      .collect().map(r => r.getAs[Long]("doc_id")).toSet
    assert(again === picked.values.flatten.map(_.getAs[Long]("doc_id")).toSet)
  }
}
