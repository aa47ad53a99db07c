package graft

/** Plan-shape regression guards (SURVEY.md §8): the 100 TB posture lives in
  * the physical plan, so the load-bearing shapes are pinned as tests — a
  * future edit that silently turns a broadcast join into a shuffle join, or
  * a bucketed candidate join into a cartesian product, fails here instead
  * of in a cluster bill.
  */
class PlanAuditSpec extends SparkSpec {

  // overridable so the audit re-runs against other scales (the SURVEY §8
  // sf1 spot-run: GRAFT_PLAN_AUDIT_DIR=/tmp/sf1) — plan SHAPES must hold
  // at every SF, that is the whole point of pinning them
  private val dir = sys.env.getOrElse("GRAFT_PLAN_AUDIT_DIR", TestSpark.sf0001)

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q05 star join broadcasts every dimension (fact tables are the only shuffle)") {
    val p = plan("q05_region_star_join")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    // region/nation/customer/orders dims all broadcast: the only allowed
    // hash exchanges are the lineitem⋈orders fact side + final agg
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 3, s"too many shuffle exchanges ($shuffles):\n$p")
  }

  test("dedup/ANN candidate generation never degenerates to a cartesian product") {
    for (name <- Seq("t07_ngram_jaccard_dedup", "t08_minhash_lsh_dedup",
        "t09_simhash_dedup", "t33_ppjoin_dedup", "v05_embedding_neardup",
        "v06_ivf_topk")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$p")
    }
    // v12's pair stage is audited directly — the CC step materializes
    // eagerly, so the gate query's final plan would hide the pair join
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val (_, pairs) = graft.dedup.Dedup.semanticCellPairs(
      emb, "vec_id", "embedding", threshold = 0.4, nCentroids = 16, roundDp = 5)
    val pp = pairs.queryExecution.executedPlan.toString
    assert(!pp.contains("CartesianProduct"),
      s"v12 pair stage plans a cartesian product:\n$pp")
    // the within-cell self-join must key on cell_id (an equi-join), with
    // the only nested-loop being the broadcast centroid assignment
    assert(pp.contains("SortMergeJoin") || pp.contains("ShuffledHashJoin") ||
      pp.contains("BroadcastHashJoin"),
      s"v12 pair stage lost its cell_id equi-join:\n$pp")
  }

  test("equal-sized dedup self-joins keep their merge pin (broadcast is the 500k cliff)") {
    // regression guard for the round-10 broadcast OOM: the candidate
    // self-joins (banded LSH / shingle postings / sign-LSH buckets /
    // semantic cells) join a checkpointed frame with ITSELF, so a
    // broadcast can never be right at scale — minhashPairs died building
    // a multi-GB hashed relation at n=500k before the hint("merge") pins.
    // A future edit that drops a pin fails here, not in a cluster bill.
    for (name <- Seq("t07_ngram_jaccard_dedup",
        "v05_embedding_neardup")) {
      val p = plan(name)
      assert(p.contains("SortMergeJoin"),
        s"$name lost its pinned merge candidate join:\n$p")
    }
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val (_, pairs) = graft.dedup.Dedup.semanticCellPairs(
      emb, "vec_id", "embedding", threshold = 0.4, nCentroids = 16, roundDp = 5)
    val pp = pairs.queryExecution.executedPlan.toString
    assert(pp.contains("SortMergeJoin"),
      s"v12 pair stage lost its pinned merge cell join:\n$pp")
  }

  test("t08/t09 banded self-joins are size-conditioned: broadcast at gate scale, merge above the bound") {
    // round-11 refinement of the merge pin: the unconditional hint cost 4×
    // at gate scale (sf0.1 t08 1.09s→4.12s), where a ~100 MB broadcast is
    // right; the checkpoint's EXACT row count (not the under-estimating
    // stats that caused the 500k cliff) picks the regime. Both regimes are
    // pinned here: the gate-scale plan must broadcast, and forcing the
    // scale regime must re-produce the merge shape that survives 500k
    // docs on an 8g heap.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val mhAuto = graft.dedup.Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5, k = 64, bands = 16)
    val pa = mhAuto.queryExecution.executedPlan.toString
    assert(pa.contains("BroadcastHashJoin"),
      s"gate-scale banded join should broadcast:\n$pa")
    val mhPinned = Regime.atScale(graft.dedup.Dedup.minhashPairs(docs,
      "doc_id", "text", threshold = 0.5, k = 64, bands = 16))
    val pp = mhPinned.queryExecution.executedPlan.toString
    assert(pp.contains("SortMergeJoin"),
      s"above-bound banded join lost its merge pin:\n$pp")
    val shAuto = graft.dedup.Dedup.simhashPairs(docs, "doc_id", "text",
      maxHamming = 3)
    assert(shAuto.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "gate-scale simhash banded join should broadcast")
    val shPinned = Regime.atScale(graft.dedup.Dedup.simhashPairs(docs,
      "doc_id", "text", maxHamming = 3))
    assert(shPinned.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
      "above-bound simhash banded join lost its merge pin")
  }

  test("t33 prefix self-join is size-conditioned and the df attach is a joinless window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the prefix self-join is materialized INSIDE the operator (the pair
    // table's exact-count agg) and hidden behind its checkpoint, so the
    // returned frame's plan only shows the VERIFICATION joins. The auto
    // plan is therefore asserted for shape — equi-joins only, never a
    // cartesian — while regime exactness is pinned two ways: the
    // at-scale run below must plumb the merge pin through every join the
    // final plan CAN see, and the shared selfJoinSized helper's regime
    // split is audited directly on t08/t09 (whose banded join is
    // pre-checkpoint and thus visible).
    val auto = graft.dedup.Dedup.ppjoinPairs(docs, "doc_id", "text",
      threshold = 0.5)
    val pa = auto.queryExecution.executedPlan.toString
    assert(!pa.contains("CartesianProduct"), s"no cartesian anywhere:\n$pa")
    assert(pa.contains("BroadcastHashJoin") || pa.contains("SortMergeJoin"),
      s"verification lost its equi-joins:\n$pa")
    val pinned = Regime.atScale(graft.dedup.Dedup.ppjoinPairs(docs,
      "doc_id", "text", threshold = 0.5))
    val pp = pinned.queryExecution.executedPlan.toString
    assert(pp.contains("SortMergeJoin") && !pp.contains("BroadcastHashJoin"),
      s"at-scale verification joins lost their merge pins:\n$pp")
    // df attach, audited on the ranking stage directly (the prefix
    // checkpoint truncates it out of the final plan's lineage): it must
    // be a WINDOW on the shingle key and contain NO join — both join
    // strategies for the vocab table OOM'd at 500k docs (planner
    // broadcast: multi-GB driver hashed relation; shuffle_hash: the
    // non-spillable per-task hash-map build)
    val posts = graft.dedup.Dedup.jaccardPostings(docs, "doc_id", "text", 3)
    val rk = graft.dedup.Dedup.ppjoinRanked(posts)
      .queryExecution.executedPlan.toString
    assert(!rk.contains("Join"),
      s"df attach regressed to a vocab-table join (the 500k OOM shape):\n$rk")
    assert("Window .*shingle".r.findFirstIn(rk).isDefined ||
        rk.contains("windowspecdefinition(shingle"),
      s"df attach lost its shingle-keyed window:\n$rk")
  }

  test("v02 brute-force kNN broadcasts the query side, never the corpus") {
    val p = plan("v02_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"corpus must not re-shuffle as cartesian:\n$p")
  }

  test("v08 two-stage retrieval broadcasts queries and candidates, never vectors") {
    val p = plan("v08_twostage_topk")
    // coarse pass: corpus streamed against the broadcast query prefixes
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"coarse stage should broadcast the query side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere:\n$p")
    // rerank: candidate ids + query vectors broadcast-join the corpus —
    // a SortMergeJoin here would mean full vectors started shuffling
    assert(!p.contains("SortMergeJoin"),
      s"rerank must broadcast candidates, not sort-merge the corpus:\n$p")
  }

  test("t22 block dedup shuffles hashes and ids only (no text past the scan)") {
    val p = plan("t22_block_dedup")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // expected exchanges: block-hash rank window + per-doc rollup (plus
    // AQE-inserted reads); the operator budget is 2 hash exchanges
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 2, s"block dedup grew extra shuffles ($shuffles):\n$p")
    // the rank-window exchange must not carry the chunk text — only its md5
    assert(!p.contains("chunk_text, "),
      s"block text should be hashed away before the exchange:\n$p")
  }

  test("t32 CDC dedup shuffles hashes and ids only (chunker is per-row)") {
    // same budget as t22: rank-window exchange on the chunk hash + the
    // per-doc rollup — the content-defined chunker itself is a per-row
    // expression inside the scan projection, never a shuffle
    val p = plan("t32_cdc_dedup")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 2, s"CDC dedup grew extra shuffles ($shuffles):\n$p")
    assert(!p.contains("chunk_text, "),
      s"chunk text should be hashed away before the exchange:\n$p")
  }

  test("t23 mixture sampling is one domain-keyed exchange") {
    val p = plan("t23_mixture_sample")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles === 1, s"expected exactly one exchange ($shuffles):\n$p")
  }

  test("t21 chunking and t24 filter rules plan zero exchanges") {
    for (name <- Seq("t21_chunking", "t24_filter_rules")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name should be shuffle-free:\n$p")
    }
  }

  test("chunk-store compaction merge is ONE exchange (range partitioning feeds the dedup)") {
    // compactChunkStore's claim: union is narrow, the range repartition
    // is the only shuffle — the distinct aggregate reuses the range
    // clustering instead of planning its own hash exchange
    import spark.implicits._
    val base = Seq("h1", "h2").toDF("chunk_hash")
    val delta = Seq("h2", "h3").toDF("chunk_hash")
    val p = graft.dedup.Dedup.compactedChunkHashes(base, Seq(delta))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges === 1, s"expected exactly one exchange ($exchanges):\n$p")
    assert(p.contains("rangepartitioning"), s"merge must range-partition:\n$p")
  }

  test("q46 ordered-set aggregates keep partial aggregation (no window/self-join)") {
    val p = plan("q46_ordered_set_aggs")
    assert("HashAggregate".r.findAllIn(p).length +
      "ObjectHashAggregate".r.findAllIn(p).length +
      "SortAggregate".r.findAllIn(p).length >= 2, s"no partial agg:\n$p")
    assert(!p.contains("Window"), s"arg-extremes must not plan a window:\n$p")
    assert(!p.contains("Join"), s"arg-extremes must not plan a self-join:\n$p")
  }

  test("q10 global top-k uses TakeOrderedAndProject (no global sort)") {
    val p = plan("q10_global_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q45 dispatches the broadcastable dim to a plain broadcast join (no salt)") {
    // SaltedJoin's round-12 cost-model dispatch: supplier's 2-column
    // projection is under the broadcast threshold at every sf, so the
    // gate must plan a broadcast join with zero salt replication
    val p = plan("q45_salted_skew_join")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dispatch:\n$p")
    assert(!p.contains("__salt"), s"dispatcher must not salt a broadcast:\n$p")
  }

  test("t14 tf-idf: kernel dispatch is a shuffle-free row-local scan") {
    // round 14: a natural-language vocabulary collapses into a broadcast
    // idf map, so the SCORED plan is one narrow corpus scan through the
    // codegen'd kernel + posexplode — no token-stream exchange, no df
    // join, no window sort. (The df pass + model collect happen at
    // query-construction time as their own bounded jobs.)
    val p = plan("t14_tfidf_topk")
    assert(p.contains("tfidf_top_terms"), s"expected the kernel generate:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"kernel plan must not shuffle:\n$p")
    assert(!p.contains("Window"), s"kernel plan must not sort a window:\n$p")
    assert(!p.contains("Join"), s"kernel plan must not join:\n$p")
  }

  test("t14 tf-idf fallback: one token-scale exchange shape (df broadcast, window reuses doc_id)") {
    // the join plan still ships (vocabulary beyond the driver cap) and
    // keeps round 13's pinned shape: two IDENTICAL doc_id repartitions
    // (AQE reuses the shuffle) + one vocab-sized term exchange under the
    // df partial agg; the df join broadcasts and the window group-limits
    // on the reused clustering
    val p = graft.operators.TfIdf.topTermsJoined(
      graft.queries.Tables.t(spark, dir, "documents"), "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 3, s"expected <= 3 hash exchanges, got $shuffles:\n$p")
    assert("hashpartitioning\\(doc_id".r.findAllIn(p).length >= 2,
      s"both doc_id repartitions should be the same reusable exchange:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"df join must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k must group-limit:\n$p")
  }

  test("q02 filter reaches the parquet scan and columns are pruned") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), s"no pushdown:\n$p")
    // projection pruning: the scan schema must not include every lineitem
    // column (l_comment-free fixtures still have 15+; the query needs ~6)
    assert(!p.contains("l_tax") || p.contains("l_tax)"),
      s"scan reads unneeded columns:\n$p")
  }

  test("no unbounded global window sorts in main source (grep guard)") {
    // `Window.orderBy` WITHOUT partitionBy funnels the whole frame
    // through one task — the round-10 stageOrderedInput hazard. The
    // allowed occurrences are the two offset prefix sums whose frames are
    // bounded by construction: CorpusShuffle's (exactly 16 rows, one per
    // hex shard) and GlobalOrder's (≤ numShufflePartitions rows, one per
    // range partition).
    val allowed = Set("CorpusShuffle.scala", "GlobalOrder.scala")
    def scalaFiles(dir: java.io.File): Seq[java.io.File] =
      dir.listFiles().toSeq.flatMap {
        case d if d.isDirectory => scalaFiles(d)
        case f if f.getName.endsWith(".scala") => Seq(f)
        case _ => Seq.empty
      }
    val offending = scalaFiles(new java.io.File("src/main/scala"))
      .filterNot(f => allowed(f.getName))
      .filter { f =>
        val src = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        src.contains("Window.orderBy") || src.contains("Window\n        .orderBy")
      }
    assert(offending.isEmpty,
      s"global window sorts found in: ${offending.map(_.getName).mkString(", ")}")
  }

  test("aggregations keep partial (map-side) aggregation") {
    val p = plan("q01_pricing_summary")
    // two HashAggregates around one exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"no partial agg:\n$p")
  }
}
