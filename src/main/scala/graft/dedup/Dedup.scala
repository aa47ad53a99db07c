package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pinned.PinSyntax
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Deduplication operators for large text/embedding corpora (SURVEY.md
  * §2.4). Every variant follows the same scale shape: per-document sketch
  * (narrow, codegen'd) → candidate generation via a key-equality shuffle
  * (bucket join, never a cross join) → exact verification only on
  * candidates. At 100 TB the cross-pair space is ~10^22; the bucket join
  * keeps the verified pair count proportional to actual duplicates.
  */
object Dedup {

  /** Exact dedup: canonical survivor (min id) per identical key. One
    * hash-shuffle on the dedup key; with pre-bucketed storage, map-side.
    */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))

  /** Sub-document (paragraph-level) exact dedup, C4-style: the corpus is
    * cut into fixed non-overlapping token blocks ([[graft.operators.Chunking]]
    * with stride = size — the stand-in for paragraphs in a corpus without
    * newline structure), every block occurrence after the FIRST (global
    * (id, block_idx) order) is marked a duplicate, and each document gets
    * its boilerplate profile: blocks kept/removed and the removed-token
    * fraction. Catches the cross-document repeated span (header, license
    * block, navigation chrome) that whole-document dedup can't see.
    *
    * Scale shape: 2 shuffles, both narrow — first-occurrence ranking
    * exchanges (block_hash, id, block_idx, n_tokens) on the hash (never
    * block text), the per-doc rollup exchanges ids + counts. Hot blocks
    * (a boilerplate line repeated across half the corpus) skew the rank
    * window's hash partitions; AQE skew-split applies, and the payload per
    * hot row is three longs.
    */
  def blockDedup(docs: DataFrame, idCol: String, textCol: String,
      blockTokens: Int): DataFrame = {
    val blocks = graft.operators.Chunking
      .chunk(docs, idCol, textCol, blockTokens, blockTokens)
      .select(col(idCol), col("chunk_idx").as("block_idx"),
        col("n_chunk_tokens").as("n_tokens"),
        md5(col("chunk_text")).as("block_hash"))
    val w = Window.partitionBy(col("block_hash"))
      .orderBy(col(idCol), col("block_idx"))
    blocks
      .withColumn("is_dup", row_number().over(w) > 1)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_blocks"),
        round(
          sum(when(col("is_dup"), col("n_tokens")).otherwise(0L)).cast("double")
            / sum(col("n_tokens")).cast("double") + 1e-9, 4).as("dup_token_ratio"))
  }

  /** Substring-granularity exact dedup via CONTENT-DEFINED chunking (t32)
    * — the production dedup class [[blockDedup]]'s fixed grid cannot
    * express: a repeated span preceded by different-length preambles sits
    * at different grid offsets in each document, so no fixed block ever
    * matches, while the rolling-hash boundaries
    * ([[graft.functions.CdcChunks]]) re-synchronize within one 3-token
    * window of the span's start and every interior chunk dedups. Same
    * profile shape as t22: first global occurrence of a chunk survives
    * ((id, chunk_idx) order), later occurrences count against their
    * document's boilerplate profile.
    *
    * Scale shape (identical to blockDedup, by construction): the chunker
    * is a per-row expression — zero shuffle, text never leaves the scan
    * projection; the rank window exchanges (chunk_hash, id, idx,
    * n_tokens) — hashes, never chunk text; the per-doc rollup exchanges
    * ids + counts. Hot chunks (corpus-wide boilerplate) skew the rank
    * window's hash partitions exactly as t22's hot blocks do; AQE
    * skew-split applies, payload per hot row is three longs.
    */
  def cdcDedup(docs: DataFrame, idCol: String, textCol: String,
      avgChunkTokens: Int = 20): DataFrame = {
    val chunks = cdcChunkOccurrences(docs, idCol, textCol, avgChunkTokens)
    val w = Window.partitionBy(col("chunk_hash"))
      .orderBy(col(idCol), col("chunk_idx"))
    cdcProfile(chunks.withColumn("is_dup", row_number().over(w) > 1), idCol)
  }

  /** One row per content-defined chunk occurrence: (idCol, chunk_idx,
    * n_tokens, chunk_hash). The chunker is a per-row expression — zero
    * shuffle, text hashed away inside the scan projection. Shared by
    * [[cdcDedup]], [[stageCdcChunks]] and the incremental path.
    */
  private[graft] def cdcChunkOccurrences(docs: DataFrame, idCol: String,
      textCol: String, avgChunkTokens: Int): DataFrame =
    docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        posexplode(graft.functions.CdcChunks.cdcChunks(col("__toks"), avgChunkTokens))
          .as(Seq("chunk_idx", "c")))
      .select(col(idCol), col("chunk_idx"),
        col("c.n_tokens").as("n_tokens"),
        md5(col("c.chunk_text")).as("chunk_hash"))

  /** The per-doc boilerplate rollup shared by the whole-corpus and
    * incremental CDC paths: chunk occurrences with an `is_dup` flag →
    * (idCol, n_chunks, n_dup_chunks, dup_token_ratio).
    */
  private def cdcProfile(marked: DataFrame, idCol: String): DataFrame =
    marked
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_chunks"),
        round(
          sum(when(col("is_dup"), col("n_tokens")).otherwise(0L)).cast("double")
            / sum(col("n_tokens")).cast("double") + 1e-9, 4).as("dup_token_ratio"))

  /** The persisted ingest artifact of a corpus snapshot for INCREMENTAL
    * content-defined-chunk dedup ([[cdcDedupIncremental]], t35) — the
    * substring-granularity sibling of [[StagedPostings]]:
    *
    *   - `hashes` (chunk_hash): the DISTINCT chunk hashes of the corpus.
    *     Presence is the only corpus-side fact the incremental verdict
    *     needs (corpus ids precede batch ids, so ANY corpus occurrence
    *     makes every batch occurrence of that chunk a duplicate) — no
    *     ids, offsets or token counts, one md5 string per distinct chunk.
    *   - `meta`: one row (avg_chunk_tokens, tokenizer_version). The
    *     incremental reader takes its chunking parameters FROM this
    *     table, so a divisor/tokenizer mismatch between writer and reader
    *     is structurally impossible rather than a silent near-zero
    *     dup ratio.
    *
    * At 100 TB, write `hashes` bucketed/sorted by chunk_hash so the
    * nightly prune's pushed BETWEEN skips row groups ([[pruneToBatch]] —
    * the StagedPostings.writeBucketed rationale); the DataFrame shape is
    * identical either way.
    */
  final case class StagedChunkStore(hashes: DataFrame, meta: DataFrame) {
    def write(dir: String): Unit = {
      hashes.write.mode("overwrite").parquet(s"$dir/chunk_hashes")
      meta.write.mode("overwrite").parquet(s"$dir/meta")
    }
  }

  object StagedChunkStore {
    def read(spark: org.apache.spark.sql.SparkSession, dir: String): StagedChunkStore =
      StagedChunkStore(
        spark.read.parquet(s"$dir/chunk_hashes"),
        spark.read.parquet(s"$dir/meta"))
  }

  /** Ingest-time writer for [[cdcDedupIncremental]]: chunk the corpus ONCE
    * and persist the distinct chunk-hash set plus the chunking parameters.
    * One exchange (the distinct), paid at ingest; nightly batches then
    * cost work proportional to the batch and its chunk overlap with the
    * corpus — the corpus text is never re-read or re-chunked.
    */
  def stageCdcChunks(corpus: DataFrame, idCol: String, textCol: String,
      avgChunkTokens: Int = 20): StagedChunkStore = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val hashes = cdcChunkOccurrences(corpus, idCol, textCol, avgChunkTokens)
      .select(col("chunk_hash")).distinct()
    val meta = Seq((avgChunkTokens, TokenizerVersion))
      .toDF("avg_chunk_tokens", "tokenizer_version")
    StagedChunkStore(hashes, meta)
  }

  /** Compact a [[StagedChunkStore]] plus its accumulated ingest deltas
    * into ONE distinct, hash-sorted store — the
    * [[graft.operators.Retrieval.compactBm25Index]] move for the CDC
    * LSM: per-tick folds ([[graft.streaming.Streams.cdcIngest]]'s
    * `batch=N` writeTick partitions, or any parquet dir of novel-hash
    * deltas) accumulate files that every nightly serve re-lists and
    * re-unions; compaction copies base ∪ deltas into a fresh store laid
    * out for the reader — range-partitioned and sorted by `chunk_hash`,
    * so [[cdcDedupIncremental]]'s pushed BETWEEN prunes row groups (the
    * StagedPostings.writeBucketed rationale).
    *
    * Semantics: compact(stage(corpus) + folds(batches)) ≡
    * stage(corpus ∪ batches) — the CdcIncrementalSpec law; presence is
    * the store's only fact, so the merge is a distinct union. Exchanges:
    * ONE — the range repartition co-locates equal hashes, which already
    * satisfies the dedup aggregate's clustering requirement, so no
    * second shuffle plans. Never in place: writes land in `dstDir` and
    * the source stays serveable until the caller swaps directories (a
    * killed compaction is a no-op, not a half-merged store).
    */
  def compactChunkStore(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, dstDir: String, overlayDirs: Seq[String] = Nil): Unit = {
    def canon(d: String) = new java.io.File(d).getCanonicalPath
    (srcDir +: overlayDirs).foreach(d => require(canon(d) != canon(dstDir),
      s"compactChunkStore is never in-place: $d and dstDir resolve to the " +
        s"same path ($dstDir)"))
    val base = spark.read.parquet(s"$srcDir/chunk_hashes")
      .select(col("chunk_hash"))
    val deltas = overlayDirs.map { d =>
      val df = spark.read.parquet(d) // tolerate writeTick's batch partition
      (if (df.columns.contains("batch")) df.drop("batch") else df)
        .select(col("chunk_hash"))
    }
    compactedChunkHashes(base, deltas)
      .write.mode("overwrite").parquet(s"$dstDir/chunk_hashes")
    spark.read.parquet(s"$srcDir/meta")
      .write.mode("overwrite").parquet(s"$dstDir/meta")
  }

  /** [[compactChunkStore]]'s merge plan, exposed for the plan audit: the
    * union is narrow, the range repartition is the ONLY exchange (range
    * partitioning already clusters equal hashes, so the dedup aggregate
    * plans without a second shuffle), and the within-partition sort
    * gives the reader's pushed BETWEEN its row-group skipping.
    */
  private[graft] def compactedChunkHashes(base: DataFrame,
      deltas: Seq[DataFrame]): DataFrame =
    (base +: deltas).reduce(_ unionByName _)
      .repartitionByRange(col("chunk_hash"))
      .dropDuplicates("chunk_hash")
      .sortWithinPartitions(col("chunk_hash"))

  /** INCREMENTAL substring-granularity dedup (t35) — [[cdcDedup]]'s
    * nightly-ingest form, the CDC sibling of [[incrementalJaccardStaged]]:
    * a batch doc's chunk occurrence is a duplicate iff its hash exists in
    * the staged corpus store OR in a lower-(id, chunk_idx) occurrence
    * within the batch. When every corpus id precedes every batch id this
    * EQUALS the whole-corpus [[cdcDedup]] restricted to batch docs (the
    * CdcIncrementalSpec law): a corpus occurrence always takes the global
    * first-survivor slot, and batch-only chunks rank among themselves.
    *
    * Scale shape per batch: the batch is chunked per-row (zero shuffle,
    * pinned once), the store is scanned behind a broadcast LEFT SEMI join
    * on the batch's distinct hashes with the batch's hash range pushed as
    * a BETWEEN ([[pruneToBatch]] — row-group pruning on a sorted store),
    * and everything downstream of the prune is batch/overlap-sized. The
    * corpus is never re-chunked and its text never read.
    *
    * Chunking parameters come from the staged meta (not arguments), so
    * writer/reader mismatch cannot happen; a tokenizer-version mismatch
    * fails loudly instead of returning a near-zero dup ratio.
    */
  def cdcDedupIncremental(store: StagedChunkStore, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    // one-row driver read of the staged parameters (meta is a single-row
    // table by construction)
    val m = store.meta.select(col("avg_chunk_tokens"), col("tokenizer_version")).head()
    val (avgChunkTokens, tokVer) = (m.getInt(0), m.getInt(1))
    require(tokVer == TokenizerVersion,
      s"staged chunk store was written by tokenizer v$tokVer but this library " +
        s"chunks with v$TokenizerVersion — re-run stageCdcChunks")
    cdcDedupIncrementalWithHashes(store.hashes, batch, idCol, textCol,
      avgChunkTokens)._1
  }

  /** The per-tick core of [[cdcDedupIncremental]] and the s13 streaming
    * ingest: verdicts plus the batch's NEW distinct chunk hashes (those
    * not already in the store) — the exact fold the streaming reference
    * set needs to stay distinct. Parameters are taken pre-validated so a
    * streaming drain never re-reads the one-row meta table per tick.
    */
  private[graft] def cdcDedupIncrementalWithHashes(storeHashes: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, avgChunkTokens: Int)
      : (DataFrame, DataFrame) = {
    // pinned: consumed by the distinct-hash prune, the ranking and the fold
    val occ = cdcChunkOccurrences(batch, idCol, textCol, avgChunkTokens)
      .pin(false)
    val batchHashes = occ.select(col("chunk_hash")).distinct()
    // corpus-present hashes ∩ batch — batch-bounded, so broadcastable; the
    // defensive distinct keeps a non-distinct store (e.g. a raw fold dir)
    // from fanning out the occurrence join. PINNED: both consumers (the
    // verdict join and the novel-hash anti-join) would otherwise re-run
    // the pruned store scan — per tick, in the streaming drain
    val present = pruneToBatch(storeHashes.select(col("chunk_hash")),
        batchHashes, keyCol = "chunk_hash")
      .distinct()
      .withColumn("__present", lit(true))
      .pin(false)
    val w = Window.partitionBy(col("chunk_hash"))
      .orderBy(col(idCol), col("chunk_idx"))
    val marked = occ
      .join(broadcast(present), Seq("chunk_hash"), "left")
      .withColumn("is_dup",
        coalesce(col("__present"), lit(false)) || row_number().over(w) > 1)
    val newHashes = batchHashes.join(
      broadcast(present.select(col("chunk_hash"))), Seq("chunk_hash"), "left_anti")
    (cdcProfile(marked, idCol), newHashes)
  }

  /** Collapse near-dup PAIRS into retention clusters — the step every dedup
    * pipeline actually ends with: pairs only say "these two match", but
    * retention needs the transitive groups (A~B, B~C ⇒ one cluster of
    * three) and ONE canonical representative per group. Returns
    * `(cluster_id, doc_id, cluster_size, is_survivor)` for every document
    * that appears in at least one pair; the survivor is the minimum member
    * id (deterministic, replayable), which is also the cluster_id.
    *
    * Engine: the shared connected-components kernel
    * (`GraphAlgos.connectedComponentsLong`) over the pair graph. Document
    * ids are already longs, so no vertex dictionary is needed, and the
    * pair set is dup-mass-sized — orders smaller than the corpus it came
    * out of — so it usually takes the kernel's driver-local union-find;
    * past the kernel's exact-count cap, GraphX connected components.
    */
  def clusters(pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b")
      : DataFrame =
    graft.graph.GraphAlgos.connectedComponentsLong(
        pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
      .select(col("component").as("cluster_id"), col("vid").as("doc_id"),
        count(lit(1)).over(Window.partitionBy(col("component"))).as("cluster_size"),
        (col("vid") === col("component")).as("is_survivor"))

  /** MinHash + LSH near-dup candidate pairs with exact-signature
    * verification: shingle → k-slot signature → band keys → explode bands →
    * equality self-join per bucket → estimated Jaccard filter.
    * `threshold` trades recall via the (k, bands) S-curve.
    */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 64, bands: Int = 16,
      shingleN: Int = 3): DataFrame = {
    // pin the sketch pipeline ONCE: it feeds both banded self-join sides
    // AND both signature re-attach sides below — the k-slot signature
    // computes exactly once per document
    val sketched = df.select(
      col(idCol).as("doc"),
      graft.functions.MinHashSignature.minhashSig(tokens(col(textCol)), k, shingleN)
        .as("sig"))
      .pin(false)
    // the count materializes the pinned frame (its consumers needed that
    // anyway) and decides the self-join regime below
    val nBanded = sketched.count() * bands
    // the self-join carries ONLY (band_idx, band_key, doc): the k-long
    // signatures never enter the candidate exchange — a pair colliding in
    // several bands would otherwise push `bands` copies of both
    // signatures through the dedup; ids dedup first, signatures re-attach
    // exactly once (candidates ≪ corpus, AQE picks the build side from
    // the candidate stage's REAL size)
    def banded = sketched.select(col("doc"),
      posexplode(minhashBands(col("sig"), k, bands)).as(Seq("band_idx", "band_key")))
    val a = banded.select(col("band_idx"), col("band_key"), col("doc").as("doc_a"))
    val b = banded.select(col("band_idx"), col("band_key"), col("doc").as("doc_b"))
    val cands = selfJoinSized(a, b, Seq("band_idx", "band_key"), nBanded)
      .where(col("doc_a") < col("doc_b"))
      // dedup multi-band collisions BEFORE scoring: a pair hitting all
      // `bands` bands would otherwise re-score the k-wide signature
      // compare once per band and need an aggregate to undo the redundancy
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val sa = sketched.select(col("doc").as("doc_a"), col("sig").as("sig_a"))
    val sb = sketched.select(col("doc").as("doc_b"), col("sig").as("sig_b"))
    cands.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        minhashJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** Largest banded-frame row count the LSH candidate self-joins broadcast
    * (slim rows: band key + doc id, ~100 B hashed-relation cost each →
    * ~100 MB at the bound). The round-10 unconditional `hint("merge")`
    * fixed a real 500k-doc broadcast OOM (checkpointed stats
    * under-estimate and the planner built a multi-GB hashed relation on an
    * 8g driver) but cost 4× at gate scale, where the broadcast is right.
    * This is the [[graft.similarity.Ann.BroadcastCellsMax]] pattern:
    * broadcast below a KNOWN row count (the checkpoint makes it exact,
    * not an estimate), sort-merge — AQE-skew-split — above.
    * Scale-proof: the 500k t08 point (8M banded rows; SURVEY.md §8, "the
    * t08 500k broadcast cliff") stays merge-pinned and runs on the
    * default 8g heap. [[graft.Regime]] makes the choice.
    */
  private[graft] val BandedBroadcastMaxRows = 1L << 20

  /** Equal-sized candidate self-join with the size-conditioned strategy:
    * `broadcast(b)` when the frame's exact row count is within
    * [[BandedBroadcastMaxRows]], the merge pin above it.
    */
  private def selfJoinSized(a: DataFrame, b: DataFrame, keys: Seq[String],
      nRows: Long): DataFrame =
    if (graft.Regime.fits(nRows, BandedBroadcastMaxRows)) a.join(broadcast(b), keys)
    else a.hint("merge").join(b.hint("merge"), keys)

  /** EXACT n-gram Jaccard pairs at scale, via an inverted shingle index
    * instead of a cross join: any pair with Jaccard > 0 shares ≥1 shingle,
    * so the shared-shingle equi-join loses nothing, and the shuffle is on
    * shingle keys.
    *
    * Two skew/scale guards:
    *   - `maxDf` (0 = off): drop shingles appearing in more than `maxDf`
    *     documents before pairing. A shingle present in f docs contributes
    *     f² rows to the self-join, so one ubiquitous shingle is a quadratic
    *     skew bomb; ubiquitous shingles also carry no dedup signal. With
    *     the cap, Jaccard is computed over the capped shingle space (sizes
    *     are re-counted post-cap, so the result is a true Jaccard of the
    *     capped sets) and per-key join fan-out is bounded by maxDf².
    *   - size-ratio prefilter: jaccard(A,B) ≤ min(|A|,|B|)/max(|A|,|B|),
    *     so pairs whose size ratio already violates the threshold are
    *     dropped BEFORE the pair-count aggregation shuffle. Pure pruning —
    *     never changes the result set.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, maxDf: Int = 0,
      inputPartitions: Int = 0): DataFrame = {
    // `inputPartitions` > 0 repartitions the raw documents before the
    // (expensive) tokenize→shingle compute — one linear shuffle of the text
    // that decouples compute parallelism from input-split layout. Essential
    // when the corpus arrives in few/large files; leave 0 when the scan is
    // already well-partitioned (the usual 100 TB case).
    val input = if (inputPartitions > 0) df.repartition(inputPartitions) else df
    // Postings list (doc, shingle), distinct per doc. All downstream math is
    // COUNT-based — no shingle arrays ever cross a shuffle: |A∩B| falls out
    // of the postings self-join, |A| and |B| from a per-doc count, and
    // jaccard = c / (|A|+|B|-c). The shuffled payload per row is one string
    // key + two longs.
    //
    val postingsAll = jaccardPostings(input, idCol, textCol, shingleN)
      // pin the tokenize→shingle output: with the cap on, BOTH the hot-list
      // aggregation and the anti-join left side consume it — one evaluation
      // of the dominant compute instead of two
      .pin(false)
    // document-frequency cap (shared dfCapped definition): a shingle
    // present in f docs contributes f² join rows, so one ubiquitous
    // shingle is a quadratic skew bomb (and carries no dedup signal); a
    // window count here would funnel every row of a hot shingle through a
    // single window partition, the exact straggler the cap prevents
    val postings = dfCapped(postingsAll, maxDf)
    // sizes re-counted over the capped postings as a window by doc (bounded:
    // a doc has at most its own shingle count), carried on each posting row
    // so the ratio prefilter runs before the aggregation shuffle.
    //
    // The finished postings are PINNED (lazy localCheckpoint): the
    // tokenize→shingle→cap pipeline is consumed by both self-join sides
    // (and the cap branch reads postingsAll twice more), so without the pin
    // the dominant compute runs 4×. Pinning trades executor storage
    // (MEMORY_AND_DISK, ~postings-sized) for single evaluation — at
    // petabyte scale, write the postings to a staging table instead; the
    // shape is identical.
    val p = postings.withColumn("sz",
      count(lit(1)).over(Window.partitionBy(col("doc"))))
      .pin(false)
    val a = p.select(col("shingle"), col("doc").as("doc_a"), col("sz").as("sz_a"))
    val b = p.select(col("shingle"), col("doc").as("doc_b"), col("sz").as("sz_b"))
    // merge pin — equal-sized self-join of a checkpointed frame; see
    // minhashPairs (the 500k broadcast cliff: checkpointed stats can
    // under-estimate and the planner builds a corpus-sized broadcast)
    a.hint("merge").join(b.hint("merge"), Seq("shingle"))
      .where(col("doc_a") < col("doc_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") >=
          lit(threshold) * greatest(col("sz_a"), col("sz_b")).cast("double"))
      .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("c"))
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast("double") / (col("sz_a") + col("sz_b") - col("c")).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** EXACT n-gram Jaccard pairs via PREFIX FILTERING (PPJoin/AllPairs
    * family, t33) — the published answer to the problem [[ngramJaccardPairs]]'
    * `maxDf` cap solves by CHANGING the semantics: the cap drops
    * ubiquitous shingles (quadratic skew bombs) and computes Jaccard over
    * the capped space, while prefix filtering keeps the FULL uncapped
    * Jaccard and still never joins on a hot shingle.
    *
    * The principle (public literature — Bayardo et al. "Scaling Up All
    * Pairs", Xiao et al. PPJoin): order every document's shingles by one
    * GLOBAL total order (document frequency ascending, shingle as
    * tie-break — rarest first), and join only each doc's PREFIX, the
    * first `|A| - ceil(t·|A|) + 1` shingles. Any pair with jaccard >= t
    * has overlap >= ceil(t·max(|A|,|B|)), which forces at least one
    * shared shingle into both prefixes — so the prefix join's candidate
    * set is a SUPERSET of the answer, and the exact intersection count
    * over the full postings repairs it. Hot shingles sit at the END of
    * the df-ascending order, so they fall out of the prefixes naturally:
    * skew-resistance comes from the ordering, not from dropping data.
    *
    * Scale shape: document frequency = a window count on the shingle
    * key (one spillable exchange, no vocab-table join — see
    * [[ppjoinRanked]] for the measured 500k OOMs that rule the join
    * out); per-doc rank window is PARTITIONED by doc (bounded by a
    * document's own shingle count — never a global sort); the prefix
    * self-join is size-conditioned like t08/t09's banded joins
    * (broadcast within [[BandedBroadcastMaxRows]] EXACT checkpointed
    * rows, merge-pinned above); verification
    * joins the deduped candidate pairs back to the full postings on
    * (doc, shingle) keys — candidate-proportional, and candidates are
    * answer-shaped by the prefix principle. The size-ratio filter
    * (min >= t·max) prunes before the pair exchange, as in t07.
    */
  def ppjoinPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3,
      inputPartitions: Int = 0): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val input = if (inputPartitions > 0) df.repartition(inputPartitions) else df
    // full postings pinned: consumed by the df agg, the prefix ranking,
    // and both verification sides
    val posts = jaccardPostings(input, idCol, textCol, shingleN)
      .pin(false)
    // EXACT pinned-scan count — conditions the prefix self-join. posts is
    // a SUPERSET of the prefix frame, so the bound is conservative, and
    // counting posts (a bare pinned scan) is the cheapest possible
    // barrier: counting pref itself would run both ranking windows as a
    // separate job wave just to pick a strategy.
    val postsRows = posts.count()
    val pref = ppjoinRanked(posts)
      .where(col("r") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("shingle"), col("doc"), col("sz"), col("r"))
      .pin(false) // both self-join sides
    val a = pref.select(col("shingle"), col("doc").as("doc_a"),
      col("sz").as("sz_a"), col("r").as("r_a"))
    val b = pref.select(col("shingle"), col("doc").as("doc_b"),
      col("sz").as("sz_b"), col("r").as("r_b"))
    // jaccard >= t  ⟺  overlap >= t/(1+t)·(|A|+|B|) — the PPJoin
    // minimum-overlap bound both candidate filters below compare against
    // (kept as a DOUBLE lower bound: no rounding, so borderline pairs
    // are never falsely pruned)
    val minOverlap = lit(threshold) / (lit(1.0) + lit(threshold)) *
      (col("sz_a") + col("sz_b")).cast("double")
    // size-conditioned self-join of the checkpointed prefix frame (the
    // minhashPairs hazard above the bound; prefixes hold the RARE
    // shingles, so per-key fan-out is small by construction either way)
    val cand = selfJoinSized(a, b, Seq("shingle"), postsRows)
      .where(col("doc_a") < col("doc_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") >=
          lit(threshold) * greatest(col("sz_a"), col("sz_b")).cast("double"))
      .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .agg(min(col("r_a")).as("mra"), min(col("r_b")).as("mrb"),
        count(lit(1)).as("sp"))
      // PPJoin candidate pruning (Xiao et al.) — the prefix join alone
      // over-generates on boilerplate-heavy corpora (measured sf0.1:
      // 310k candidates for 256 true pairs, a 21M-row verification
      // expansion). Both filters are sound because ranks come from ONE
      // global order, so the shared token that is first in A is first in
      // B among shared tokens, and for a pair that truly meets the
      // threshold that token is inside both prefixes (prefix principle):
      //   - positional: every shared token sits at rank >= (mra, mrb),
      //     so overlap <= min(sz_a - mra, sz_b - mrb) + 1
      //   - prefix-count: the shared tokens inside both prefixes form a
      //     PREFIX of the shared sequence (same monotone-rank argument),
      //     and once a shared token falls outside one side's prefix every
      //     later one falls outside that SAME side — so the non-prefix
      //     shared count is bounded by that side's suffix capacity, and
      //     since the side is data-dependent the sound bound is the MAX:
      //     overlap <= sp + max(ceil(t·sz_a), ceil(t·sz_b)) - 1
      .where(
        (least(col("sz_a") - col("mra"), col("sz_b") - col("mrb")) + 1)
          .cast("double") >= minOverlap &&
        (col("sp") +
          greatest(ceil(lit(threshold) * col("sz_a")),
            ceil(lit(threshold) * col("sz_b"))) - 1)
          .cast("double") >= minOverlap)
      .select(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      // pinned (slim 4-long rows): the verification joins below consume
      // it twice, and its EXACT count picks their strategy — left to the
      // planner, the checkpointed-prefix lineage's under-estimating
      // stats chose to BROADCAST the pair table at 500k docs and died in
      // the exchange (the third face of the minhashPairs cliff, measured
      // at 500k docs after the first two were pinned; SURVEY.md §8)
      .pin(false)
    // exact verification over the FULL postings (uncapped Jaccard),
    // size-conditioned per join on EXACT counts — ONE fused agg job over
    // the pinned pair table. The two joins have different build-side
    // sizes: the first builds the pair table (candRows rows), the second
    // builds the EXPANDED frame — one row per (pair, doc_a-shingle),
    // exactly sum(sz_a) over the pair table. Conditioning the second
    // join on candRows alone was the measured 500k failure: cand was
    // under the bound, but the planner (fed the checkpointed lineage's
    // under-estimates) broadcast the ×|doc| expansion and died in the
    // exchange. Above the bound each join is merge-pinned — spills,
    // AQE-skew-splits, candidate-proportional.
    val candStats = cand.agg(count(lit(1)), sum(col("sz_a"))).head()
    val candRows = candStats.getLong(0)
    val expandedRows = if (candRows == 0L) 0L else candStats.getLong(1)
    val pa = posts.select(col("doc").as("doc_a"), col("shingle"))
    val pb = posts.select(col("doc").as("doc_b"), col("shingle"))
    val expanded =
      if (graft.Regime.fits(candRows, BandedBroadcastMaxRows))
        broadcast(cand).join(pa, Seq("doc_a"))
      else cand.hint("merge").join(pa.hint("merge"), Seq("doc_a"))
    (if (graft.Regime.fits(expandedRows, BandedBroadcastMaxRows))
        broadcast(expanded).join(pb, Seq("doc_b", "shingle"))
      else
        expanded.hint("merge").join(pb.hint("merge"), Seq("doc_b", "shingle")))
      .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("c"))
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast("double") / (col("sz_a") + col("sz_b") - col("c")).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** [[ppjoinPairs]]'s rarest-first ranking stage, split out so the plan
    * audit can inspect the df attach BEFORE the prefix checkpoint
    * truncates the lineage. The document frequency is a WINDOW count
    * over the shingle key, not a `groupBy` + join re-attach: at 500k
    * docs (~20M-shingle vocabulary) BOTH join strategies for the vocab
    * table died on an 8g heap — the planner's broadcast (misled by the
    * checkpointed posts' under-estimating stats) built a multi-GB hashed
    * relation on the driver, and a `shuffle_hash` pin hit Spark's
    * non-spillable per-task hash-map build ("There is not enough memory
    * to build hash map", measured at 500k docs; SURVEY.md §8). The window is
    * one hash exchange on the shingle key plus a SPILLABLE sort — no
    * hashed relation anywhere; a skew (hot-shingle) group streams
    * through UnsafeExternalSorter. Rank + size windows are per-doc
    * (bounded by a document's own shingle count — never a global sort).
    */
  private[graft] def ppjoinRanked(posts: DataFrame): DataFrame =
    posts
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("shingle"))))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc"))))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("doc")).orderBy(col("df"), col("shingle"))))

  /** The (doc, shingle) postings of a document table — distinct shingles
    * per doc, the input shape of every Jaccard operator here. Persist the
    * result (parquet keyed by shingle) to make a corpus's shingle compute
    * a ONE-TIME cost: [[incrementalJaccardFromPostings]] consumes the
    * stored table directly, so nightly batches never re-shingle the
    * corpus.
    *
    * WRITER INVARIANT: the stored postings bake in `shingleN` and the
    * tokenizer ([[TokenizerVersion]]); a reader that re-shingles batches
    * with a different `shingleN` (or after a tokenizer change) gets
    * near-zero Jaccard and silently wrong "novel" verdicts, not an error.
    * [[stageJaccardPostings]] is the production writer — it records both
    * in a meta table and [[incrementalJaccardStaged]] validates them.
    */
  def jaccardPostings(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame =
    // two-step select: `shingles`'s position lambda references its token
    // array per position, and a lambda body CAPTURES its argument
    // expression — inlining `tokens(text)` here would re-run the split
    // per position (O(tokens²·regex) per doc, measured 6× slower at
    // sf0.1). The projection boundary materializes the array once per
    // row; CollapseProject keeps it (it never duplicates non-cheap exprs).
    df.select(col(idCol).as("doc"), tokens(col(textCol)).as("__toks"))
      .select(col("doc"),
        explode(array_distinct(shingles(col("__toks"), shingleN)))
          .as("shingle"))

  /** Document-frequency cap over a postings table — the quadratic-skew
    * guard shared by [[ngramJaccardPairs]] and the incremental variant
    * (one definition, so the equivalence law between them cannot drift).
    * Same shape rationale as the inline ngramJaccardPairs comment: the
    * hot list is a partial (map-side) aggregation, tiny by construction,
    * so AQE turns the anti-join into a broadcast.
    */
  private def dfCapped(postings: DataFrame, maxDf: Int): DataFrame =
    if (maxDf <= 0) postings
    else {
      val hot = postings.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df_count"))
        .where(col("df_count") > maxDf)
        .select(col("shingle"))
      postings.join(hot, Seq("shingle"), "left_anti")
    }

  /** INCREMENTAL exact-Jaccard near-dup — the nightly-ingest shape: flag
    * documents in `batch` that are near-duplicates of the EXISTING
    * `corpus` or of a lower-id document in the same batch. The historical
    * corpus is never self-PAIRED: pair generation joins the batch-side
    * postings against the combined postings on the shingle key, so the
    * quadratic term is batch-sized. THIS overload recomputes the corpus
    * postings from text (convenience/gate form — the corpus still gets
    * re-shingled); the production form persists
    * [[jaccardPostings]] once and calls
    * [[incrementalJaccardFromPostings]], where the corpus is re-shingled
    * never and contributes only postings that share a shingle with the
    * batch.
    *
    * Same guards as [[ngramJaccardPairs]]: `maxDf` caps quadratic shingle
    * skew (computed over corpus ∪ batch, so incremental verdicts equal
    * the full-corpus run's minus corpus-internal pairs), and the
    * size-ratio prefilter prunes before the count shuffle. Ids must be
    * unique across corpus ∪ batch.
    *
    * Returns one row per batch document:
    * (doc_id, n_dup_sources, dup_of = lowest-id duplicate source or null,
    * is_dup).
    */
  def incrementalJaccard(
      corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      shingleN: Int = 3, maxDf: Int = 0): DataFrame =
    incrementalJaccardFromPostings(
      jaccardPostings(corpus, idCol, textCol, shingleN),
      batch, idCol, textCol, threshold, shingleN, maxDf)

  /** [[incrementalJaccard]] over PRE-COMPUTED corpus postings (the
    * persisted output of [[jaccardPostings]]): the corpus text is never
    * touched — only the batch shingles compute, and the stored postings
    * join on the shingle key.
    */
  def incrementalJaccardFromPostings(
      corpusPostings: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      shingleN: Int = 3, maxDf: Int = 0): DataFrame = {
    val all0 = corpusPostings.select(col("doc"), lit(0).as("side"), col("shingle"))
      .unionByName(jaccardPostings(batch, idCol, textCol, shingleN)
        .select(col("doc"), lit(1).as("side"), col("shingle")))
      .pin(false)
    val all = dfCapped(all0, maxDf)
    val p = all
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc"))))
      .pin(false)
    val bSide = p.where(col("side") === 1)
      .select(col("shingle"), col("doc").as("b_doc"), col("sz").as("b_sz"))
    val srcSide = p.select(col("shingle"), col("doc").as("src"),
      col("side").as("src_side"), col("sz").as("src_sz"))
    val pairs = bSide.join(srcSide, Seq("shingle"))
      // a dup SOURCE is any corpus doc, or an earlier (lower-id) batch doc
      .where(col("src_side") === 0 || col("src") < col("b_doc"))
      .where(least(col("b_sz"), col("src_sz")).cast("double") >=
        lit(threshold) * greatest(col("b_sz"), col("src_sz")).cast("double"))
      .groupBy(col("b_doc"), col("src"), col("b_sz"), col("src_sz"))
      .agg(count(lit(1)).as("c"))
      .select(col("b_doc"), col("src"),
        (col("c").cast("double") /
          (col("b_sz") + col("src_sz") - col("c")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
    batch.select(col(idCol).as("doc_id"))
      .join(pairs.select(col("b_doc").as("doc_id"), col("src")), Seq("doc_id"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("src")).as("n_dup_sources"),
        min(col("src")).as("dup_of"),
        (count(col("src")) > 0).as("is_dup"))
  }

  /** Version stamp of the text-normalization pipeline the Jaccard
    * operators shingle with ([[graft.functions.TextFunctions.tokens]] →
    * [[graft.functions.TextFunctions.shingles]]). Bump on any
    * semantics-visible change: staged postings written under a different
    * version refuse to serve batches instead of silently scoring
    * near-zero overlap.
    */
  val TokenizerVersion = 1

  /** The persisted ingest artifacts of a corpus snapshot for STAGED
    * incremental dedup ([[incrementalJaccardStaged]]):
    *
    *   - `postings` (doc, shingle, sz): distinct per-doc shingles with
    *     corpus-hot shingles (document frequency > maxDf) already removed,
    *     each row carrying its document's capped shingle count — so the
    *     nightly path never recomputes a per-doc size window over the
    *     corpus. Carrying `sz` on every row costs one RLE-friendly long
    *     and removes the only other corpus-sized join the nightly batch
    *     would need.
    *   - `shingleDf` (shingle, df_count): PRE-cap document frequency of
    *     every corpus shingle — the nightly batch consults it (pruned to
    *     the batch's shingles) to decide combined hotness exactly.
    *   - `meta`: one row (shingle_n, max_df, tokenizer_version). The
    *     nightly reader takes its shingling parameters FROM this table,
    *     so a shingleN/tokenizer mismatch between writer and reader is
    *     structurally impossible rather than a silent wrong answer.
    *
    * At 100 TB, write `postings` bucketed/sorted by shingle so the
    * nightly broadcast semi-join prunes row groups via min/max stats; the
    * DataFrame shapes are identical either way.
    */
  final case class StagedPostings(postings: DataFrame, shingleDf: DataFrame,
      meta: DataFrame) {
    def write(dir: String): Unit = {
      postings.write.mode("overwrite").parquet(s"$dir/postings")
      shingleDf.write.mode("overwrite").parquet(s"$dir/shingle_df")
      meta.write.mode("overwrite").parquet(s"$dir/meta")
    }

    /** The 100 TB writer the operator's scaladoc claims, as a code path:
      * catalog tables BUCKETED AND SORTED BY SHINGLE. Sorted row groups
      * give every bucket file tight shingle min/max stats, so the
      * nightly prune's pushed range filter ([[pruneToBatch]]) skips the
      * row groups a batch's shingles cannot touch — the pruned scan
      * reads matching row groups, not the whole corpus (asserted on real
      * scan metrics in LlmOpsSpec). `pathPrefix` makes the tables
      * external (owned artifact paths); `writerOptions` passes
      * parquet writer knobs (e.g. `parquet.block.size` to size row
      * groups to the stats granularity you want).
      */
    def writeBucketed(tablePrefix: String, nBuckets: Int,
        pathPrefix: Option[String] = None,
        writerOptions: Map[String, String] = Map.empty): Unit = {
      require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
      def save(df: DataFrame, name: String, bucketed: Boolean): Unit = {
        val base = df.write.format("parquet").mode("overwrite")
          .options(writerOptions)
        val located = pathPrefix.fold(base)(p => base.option("path", s"$p/$name"))
        val w = if (bucketed)
          located.bucketBy(nBuckets, "shingle").sortBy("shingle")
        else located
        w.saveAsTable(s"${tablePrefix}_$name")
      }
      save(postings, "postings", bucketed = true)
      save(shingleDf, "shingle_df", bucketed = true)
      save(meta, "meta", bucketed = false)
    }
  }

  object StagedPostings {
    def read(spark: org.apache.spark.sql.SparkSession, dir: String): StagedPostings =
      StagedPostings(
        spark.read.parquet(s"$dir/postings"),
        spark.read.parquet(s"$dir/shingle_df"),
        spark.read.parquet(s"$dir/meta"))

    /** Reader for [[StagedPostings.writeBucketed]] catalog tables: how a
      * nightly job opens a corpus store that ingest saved into the
      * session catalog (rather than as parquet dirs, [[read]]) and hands
      * it to [[incrementalJaccardStaged]].
      */
    def readTable(spark: org.apache.spark.sql.SparkSession,
        tablePrefix: String): StagedPostings =
      StagedPostings(
        spark.table(s"${tablePrefix}_postings"),
        spark.table(s"${tablePrefix}_shingle_df"),
        spark.table(s"${tablePrefix}_meta"))
  }

  /** Ingest-time writer for [[incrementalJaccardStaged]]: shingle the
    * corpus ONCE, cap corpus-hot shingles, and record everything the
    * nightly path needs (per-doc capped sizes on the posting rows, the
    * pre-cap df table, and the shingling parameters). Persist the result
    * with [[StagedPostings.write]]; nightly batches then cost work
    * proportional to the batch and its shingle overlap with the corpus —
    * the corpus text is never re-read and its postings never re-aggregated.
    */
  def stageJaccardPostings(corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, maxDf: Int = 0): StagedPostings = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // pin the tokenize→shingle output: consumed by the df aggregation and
    // the capped-postings branch (ingest-time cost, paid once per snapshot)
    val all = jaccardPostings(corpus, idCol, textCol, shingleN)
      .pin(false)
    val dfTable = all.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df_count"))
    val capped =
      if (maxDf <= 0) all
      else all.join(dfTable.where(col("df_count") > maxDf).select(col("shingle")),
        Seq("shingle"), "left_anti")
    val postings = capped.withColumn("sz",
      count(lit(1)).over(Window.partitionBy(col("doc"))))
    val meta = Seq((shingleN, maxDf, TokenizerVersion))
      .toDF("shingle_n", "max_df", "tokenizer_version")
    StagedPostings(postings, dfTable, meta)
  }

  /** The staged path's corpus-side access pattern, exposed for the plan
    * pin: a broadcast LEFT SEMI join of a stored corpus table against the
    * batch's shingle keys. The stored side must reach the join with no
    * exchange and no aggregation — LlmOpsSpec asserts exactly that on
    * this plan, which is what makes "corpus-sized work stays at ingest"
    * a checked property instead of a comment.
    */
  private[graft] def pruneToBatch(stored: DataFrame, batchShingles: DataFrame,
      range: Option[Option[(String, String)]] = None,
      keyCol: String = "shingle"): DataFrame = {
    // two-scalar driver read (the batch's key range) pushed to the
    // stored scan as a data filter: semantically implied by the semi join,
    // but unlike a join a pushed BETWEEN reaches parquet row-group stats —
    // on a key-sorted store ([[StagedPostings.writeBucketed]]) the
    // scan skips every row group outside the batch's range before the
    // join sees a row. A caller pruning SEVERAL stored tables by the same
    // batch passes the precomputed range ([[batchShingleRange]]) so the
    // driver aggregation runs once, not per table — a per-tick job saved
    // in the streaming ingest drain (None inside = empty batch).
    val r = range.getOrElse(batchShingleRange(batchShingles, keyCol))
    val ranged = r match {
      case None           => stored.where(lit(false))
      case Some((lo, hi)) => stored.where(col(keyCol).between(lo, hi))
    }
    ranged.join(broadcast(batchShingles), Seq(keyCol), "left_semi")
  }

  /** The (min, max) key range of a batch — None when the batch has no
    * keys. One tiny aggregation job; see [[pruneToBatch]].
    */
  private[graft] def batchShingleRange(batchShingles: DataFrame,
      keyCol: String = "shingle"): Option[(String, String)] = {
    val r = batchShingles.agg(min(col(keyCol)), max(col(keyCol))).head()
    if (r.isNullAt(0)) None else Some((r.getString(0), r.getString(1)))
  }

  /** STAGED nightly incremental near-dup — [[incrementalJaccardFromPostings]]
    * with the corpus-sized work moved to ingest ([[stageJaccardPostings]]).
    * The verdicts are EXACTLY those of the unstaged path (same threshold,
    * shingleN, maxDf — the LlmOpsSpec equivalence law), with no frozen-df
    * slack, because the two corpus-sized aggregations the unstaged path
    * runs per batch are reconstructed from batch-proportional pieces:
    *
    *   - The df-cap is ADDITIVE over the disjoint doc sets: combined
    *     df(s) = corpus df(s) + batch df(s). Corpus-hot shingles
    *     (df_c > maxDf) are already absent from the stored postings;
    *     shingles that become hot only WITH the batch's contribution
    *     ("newly hot") necessarily appear in the batch, so the exact hot
    *     set is computable from the batch's shingles + the stored df
    *     table pruned to them.
    *   - Per-doc capped sizes: a corpus doc's combined-cap size is its
    *     stored (ingest-capped) `sz` minus its postings on newly-hot
    *     shingles — and those postings all lie inside the batch-shingle
    *     pruned set, so the correction is overlap-proportional too.
    *
    * Scale shape per batch: the stored postings and df table are scanned
    * behind broadcast LEFT SEMI joins on the batch's shingle set (no
    * exchange on the corpus side — plan-pinned in LlmOpsSpec); everything
    * downstream of the prune is batch/overlap-sized. The one corpus-sized
    * cost left is the pruned SCAN itself, which bucketing/sorting the
    * stored postings by shingle reduces to the matching row groups.
    *
    * Shingling parameters come from the staged meta (not arguments), so
    * writer/reader mismatch cannot happen; a tokenizer-version mismatch
    * fails loudly here instead of returning near-zero Jaccards.
    */
  def incrementalJaccardStaged(staged: StagedPostings, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame = {
    // one-row driver read of the staged parameters (annotated: meta is a
    // single-row table by construction)
    val m = staged.meta.select(col("shingle_n"), col("max_df"),
      col("tokenizer_version")).head()
    val (shingleN, maxDf, tokVer) = (m.getInt(0), m.getInt(1), m.getInt(2))
    require(tokVer == TokenizerVersion,
      s"staged postings were written by tokenizer v$tokVer but this library " +
        s"shingles with v$TokenizerVersion — re-run stageJaccardPostings; " +
        "serving them would silently yield near-zero Jaccard, not an error")
    incrementalJaccardStagedPre(staged, batch, idCol, textCol, threshold,
      shingleN, maxDf)
  }

  /** [[incrementalJaccardStaged]] with the staged parameters ALREADY read
    * and validated — the per-tick entry point for
    * [[graft.streaming.Streams.jaccardIngest]], which validates meta once
    * before the stream starts instead of re-reading the one-row meta
    * table (a driver job) on every micro-batch.
    */
  private[graft] def incrementalJaccardStagedPre(staged: StagedPostings,
      batch: DataFrame, idCol: String, textCol: String, threshold: Double,
      shingleN: Int, maxDf: Int): DataFrame = {
    val bp = jaccardPostings(batch, idCol, textCol, shingleN)
      .pin(false) // consumed by df agg, prune keys, and pair side
    val batchShingles = bp.select(col("shingle")).distinct()
    val shingleRange = batchShingleRange(batchShingles)

    // corpus postings pruned to the batch's shingles before ANY
    // aggregation — lossless for pair generation (every emitted pair
    // contains a batch doc, so its witness shingles are batch shingles)
    val pruned = pruneToBatch(staged.postings, batchShingles, Some(shingleRange))
      .pin(false) // overlap-sized; consumed by corr + pair side

    // UNCAPPED (maxDf <= 0, the continuous-ingest regime): no hotness to
    // reconstruct — stored sz is already the combined-cap size. Skipping
    // the capped path's subgraph drops 4 per-call joins (three of them
    // broadcast jobs of provably-empty frames) + a df-table prune + a
    // checkpoint — fixed per-TICK cost in jaccardIngest's drain, where
    // this is the entry point.
    val (srcCorpus, bpCapBase) =
      if (maxDf <= 0)
        (pruned.select(col("shingle"), col("doc").as("src"),
            lit(0).as("src_side"), col("sz").as("src_sz")),
          bp)
      else {
        // exact combined hotness for the batch's shingles: batch df +
        // stored corpus df (the df table scan is pruned by a broadcast
        // semi-join on the batch's shingles BEFORE any aggregation
        // touches it)
        val dfB = bp.groupBy(col("shingle")).agg(count(lit(1)).as("df_b"))
        val dfC = pruneToBatch(staged.shingleDf, batchShingles, Some(shingleRange))
        val stats = dfB.join(dfC, Seq("shingle"), "left")
          .select(col("shingle"),
            coalesce(col("df_count"), lit(0L)).as("df_c"),
            (coalesce(col("df_count"), lit(0L)) + col("df_b")).as("df_comb"))
          .pin(false) // batch-shingle-sized; consumed 2×
        val hot = stats.where(col("df_comb") > maxDf).select(col("shingle"))
        val newlyHot = stats
          .where(col("df_comb") > maxDf && col("df_c") <= maxDf)
          .select(col("shingle"))
        // newly-hot correction: stored sz counted these postings, the
        // combined cap drops them
        val corr = pruned.join(broadcast(newlyHot), Seq("shingle"), "left_semi")
          .groupBy(col("doc")).agg(count(lit(1)).as("n_newly_hot"))
        (pruned
          .join(broadcast(hot), Seq("shingle"), "left_anti")
          .join(corr, Seq("doc"), "left")
          .select(col("shingle"), col("doc").as("src"), lit(0).as("src_side"),
            (col("sz") - coalesce(col("n_newly_hot"), lit(0L))).as("src_sz")),
          bp.join(broadcast(hot), Seq("shingle"), "left_anti"))
      }

    // batch side: size over the (possibly capped) postings (batch-sized)
    val bpCap = bpCapBase
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc"))))
      .pin(false) // consumed as probe side and as pair source
    val bSide = bpCap.select(col("shingle"), col("doc").as("b_doc"),
      col("sz").as("b_sz"))
    val srcBatch = bpCap.select(col("shingle"), col("doc").as("src"),
      lit(1).as("src_side"), col("sz").as("src_sz"))

    val pairs = bSide.join(srcCorpus.unionByName(srcBatch), Seq("shingle"))
      .where(col("src_side") === 0 || col("src") < col("b_doc"))
      .where(least(col("b_sz"), col("src_sz")).cast("double") >=
        lit(threshold) * greatest(col("b_sz"), col("src_sz")).cast("double"))
      .groupBy(col("b_doc"), col("src"), col("b_sz"), col("src_sz"))
      .agg(count(lit(1)).as("c"))
      .select(col("b_doc"), col("src"),
        (col("c").cast("double") /
          (col("b_sz") + col("src_sz") - col("c")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
    batch.select(col(idCol).as("doc_id"))
      .join(pairs.select(col("b_doc").as("doc_id"), col("src")), Seq("doc_id"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("src")).as("n_dup_sources"),
        min(col("src")).as("dup_of"),
        (count(col("src")) > 0).as("is_dup"))
  }

  /** Benchmark-contamination detection: training documents sharing at
    * least one word `shingleN`-gram with an evaluation/benchmark document
    * (the standard n-gram-overlap decontamination rule; 8-grams are the
    * common unit). Returns `(train_doc, bench_doc, n_shared)` per
    * contaminated pair.
    *
    * Scale shape: the same inverted-index equi-join as
    * [[ngramJaccardPairs]], but CROSS-set — the shuffle key is the
    * shingle, never a doc pair, so cost is proportional to actual
    * overlap. The benchmark side is usually tiny relative to a training
    * corpus (thousands vs billions of documents), so by default its
    * postings broadcast and the training corpus never shuffles at all —
    * at 100 TB the scan stays embarrassingly parallel with a map-side
    * join. "Usually" is not a plan, though: when the eval side's
    * estimated size (inflated by `shingleN`, since each word lands in
    * ~shingleN shingle strings) exceeds the session's broadcast
    * threshold, the join falls back to a shingle-keyed shuffle-hash join
    * instead of OOMing every executor on the broadcast.
    * [[graft.Regime.broadcastable]] makes the choice.
    */
  def contamination(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 8): DataFrame = {
    def postings(df: DataFrame, side: String) =
      // two-step select — see jaccardPostings (lambda-capture re-eval)
      df.select(col(idCol).as(side), tokens(col(textCol)).as("__toks"))
        .select(col(side),
          explode(array_distinct(shingles(col("__toks"), shingleN)))
            .as("shingle"))
    val evalPostings = postings(bench, "bench_doc")
    // sizeInBytes × shingleN approximates the exploded shingle strings
    // but ignores per-posting row overhead (the repeated bench_doc id and
    // row framing), which dominates for short documents — so the estimate
    // is doubled (HALF the threshold) rather than pretending it is exact
    val doBroadcast = graft.Regime.broadcastable(
      bench.queryExecution.optimizedPlan.stats.sizeInBytes * shingleN * 2)
    val joined =
      if (doBroadcast)
        postings(train, "train_doc").join(broadcast(evalPostings), Seq("shingle"))
      else
        // shuffle-hash, eval as build side: still cheaper than sort-merge
        // (no sort of the corpus postings), and the corpus side shuffles
        // only its postings that survive nothing — the join key is the
        // shingle, so cost stays proportional to postings, never pairs
        postings(train, "train_doc").join(evalPostings.hint("shuffle_hash"), Seq("shingle"))
    joined.groupBy(col("train_doc"), col("bench_doc"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** SimHash near-dup pairs: 64-bit sketch per doc, candidates bucketed by
    * maxHamming+1 exact bit-bands — any pair within Hamming distance
    * maxHamming differs in at most maxHamming bands, so by pigeonhole it
    * shares ≥1 band key. Band widths split the 64 bits as evenly as
    * possible (maxHamming=3 → the classic 4×16); verified by exact
    * popcount.
    */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val bands = maxHamming + 1
    val base = 64 / bands
    val rem = 64 % bands
    // band j covers `base` bits (+1 for the first `rem` bands); offsets are
    // cumulative, every band non-empty for bands <= 64
    val widths = (0 until bands).map(j => base + (if (j < rem) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    // pin + materialize the one-pass sketch (see minhashPairs); the count
    // sizes the self-join strategy
    val sketched = df.select(col(idCol).as("doc"),
      simhash64(tokens(col(textCol))).as("sh"))
      .pin(false)
    val nBanded = sketched.count() * bands
    // the 64-bit sketch is one long — carrying it through the self-join is
    // cheaper than a re-attach join would be
    def banded = sketched.select(col("doc"), col("sh"),
      posexplode(array((0 until bands).map { j =>
        val mask = if (widths(j) == 64) -1L else (1L << widths(j)) - 1L
        shiftright(col("sh"), offsets(j)).bitwiseAND(lit(mask))
      }: _*))
        .as(Seq("band_idx", "band_key")))
    val a = banded.select(col("band_idx"), col("band_key"),
      col("doc").as("doc_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band_idx"), col("band_key"),
      col("doc").as("doc_b"), col("sh").as("sh_b"))
    // size-conditioned self-join — same shape and 500k hazard as
    // minhashPairs' banded join (see BandedBroadcastMaxRows)
    selfJoinSized(a, b, Seq("band_idx", "band_key"), nBanded)
      .where(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Embedding near-dup: cosine ≥ threshold via sign-LSH buckets (see
    * [[graft.similarity.Ann]] for the bucketing rationale), verified with
    * the codegen'd cosine expression.
    *
    * Contract: `idCol` must be UNIQUE in `df`. Candidates dedup on id
    * pairs before the vectors re-attach, so a duplicated id would fan each
    * of its pairs back out at the re-attach join (run [[exact]] on the id
    * first if uniqueness isn't guaranteed).
    *
    * `planes = 0` (the default) auto-derives the plane count from the
    * corpus size via [[graft.similarity.Ann.autoPlanes]] — candidates
    * grow ~n²/2^planes, so a fixed count is a 10×-growth cliff. Pass an
    * explicit positive count to pin the bucketing (replayable oracles do).
    */
  def embeddingPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 0, tables: Int = 4,
      seed: Long = 7L, dim: Int = 64): DataFrame = {
    val nPlanes = graft.similarity.Ann.resolvePlanes(planes, df)
    // bucket rows carry ONLY (doc, bucket): a pair colliding in several
    // tables would otherwise push `tables` copies of both embeddings through
    // the dedup exchange; ids dedup first, vectors re-attach exactly once
    // (candidates ≪ corpus, so the re-attach join is the cheap side)
    val bucketed = df.select(col(idCol).as("doc"),
      explode(graft.similarity.Ann.lshBuckets(col(vecCol), nPlanes, tables, seed, dim))
        .as("bucket"))
      .pin(false) // see minhashPairs: one bucketing pass, not two
    val a = bucketed.select(col("bucket"), col("doc").as("doc_a"))
    val b = bucketed.select(col("bucket"), col("doc").as("doc_b"))
    // merge pin — equal-sized self-join (see minhashPairs); the bucket
    // rows are two longs, but at corpus scale even those must not build
    // a driver-sized hashed relation
    val candidates = a.hint("merge").join(b.hint("merge"), Seq("bucket"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val va = df.select(col(idCol).as("doc_a"), col(vecCol).as("vec_a"))
    val vb = df.select(col(idCol).as("doc_b"), col(vecCol).as("vec_b"))
    candidates
      .join(va, Seq("doc_a"))
      .join(vb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        vec_cosine(col("vec_a"), col("vec_b")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    * cluster the corpus embeddings into Voronoi cells (the v06 IVF
    * assignment rule — deterministic seed centroids + argmax), generate
    * candidate pairs WITHIN cells only, keep pairs whose exact cosine
    * clears `threshold`, and retain one canonical representative (min id)
    * per connected near-dup group. Cross-cell near-dups are deliberately
    * missed — that is the SemDeDup approximation, and what makes the pair
    * stage corpus-linear: expected cell occupancy is n/nCentroids, so
    * nCentroids scales ∝ n (the [[embeddingPairs]] planes law, SURVEY §8)
    * and per-cell all-pairs stays bounded. `nCentroids = 0` (the default)
    * ENFORCES that law — the cell count auto-derives from the corpus
    * count ([[graft.similarity.Ann.autoCells]], the autoPlanes pattern:
    * target occupancy ~256 docs/cell, floor 16); a positive value is an
    * explicit override for replayable oracles and tuning. At deployment
    * scale the corpus persists cluster_id-partitioned
    * ([[graft.similarity.Ann.withIvfQuantizedLayout]]) and
    * [[semanticDedupStored]] consumes it with assignment read, not
    * recomputed.
    *
    * `roundDp >= 0` rounds the cosine (+1e-9 nudge) BEFORE the threshold
    * cut so a 1-ulp cross-engine diff can't flip a verdict — replay
    * oracles pass it; production leaves it -1 (exact).
    *
    * `nAssign > 1` soft-assigns each doc to its top-`nAssign` cells for
    * PAIR GENERATION (verdict rows stay labeled by the primary cell):
    * near-dups on opposite sides of a Voronoi boundary pair up whenever
    * they share any probed cell, at ~×nAssign² pair cost — the standard
    * recall knob for cell-blocked dedup. With nAssign > 1 groups CAN span
    * primary cells (that is the point).
    *
    * Output: one verdict row per document — (doc_id, cell_id, group_rep,
    * is_kept); singletons are their own representative.
    */
  /** Cell assignment + within-cell pair stage of [[semanticDedup]],
    * exposed lazily so the plan is auditable end-to-end (the CC step in
    * semanticDedup materializes eagerly, hiding this subplan from the
    * final DataFrame's plan). Returns (assigned, pairs): per-doc PRIMARY
    * cell assignment and the above-threshold within-cell cosine pairs.
    *
    * `nAssign > 1` is the soft-assignment recall knob: pair generation
    * runs over each doc's top-`nAssign` cells, so near-dups sitting on
    * opposite sides of a Voronoi boundary are still paired when they
    * share ANY probed cell — pair cost scales ~×nAssign², recall of
    * boundary dups rises, and verdicts keep one row per doc labeled by
    * the primary cell. Pairs co-occurring in several shared cells dedup
    * before the threshold verify.
    */
  private[graft] def semanticCellPairs(embeddings: DataFrame, idCol: String,
      vecCol: String, threshold: Double, nCentroids: Int, roundDp: Int,
      nAssign: Int = 1): (DataFrame, DataFrame) = {
    import graft.similarity.Ann
    require(nAssign >= 1, s"nAssign must be >= 1, got $nAssign")
    val cells = Ann.resolveCells(nCentroids, embeddings)
    val cent = Ann.seedCentroids(embeddings, idCol, vecCol, cells)
    val multi = Ann
      .assignCells(cent, embeddings, idCol, vecCol, "corpus", keep = nAssign,
        nCells = cells)
      .select(col("corpus_id").as("doc_id"), col("cluster_id").as("cell_id"),
        col("corpus_vec").as("vec"))
      .pin(false) // consumed by both pair sides + the verdict join
    // the verdict row's cell label is the PRIMARY (best) cell; with
    // keep=1 this is `multi` itself, sparing the extra assignment pass
    val assigned =
      if (nAssign == 1) multi
      else Ann.assignCells(cent, embeddings, idCol, vecCol, "corpus", keep = 1,
          nCells = cells)
        .select(col("corpus_id").as("doc_id"), col("cluster_id").as("cell_id"),
          col("corpus_vec").as("vec"))
    val cos = vec_cosine(col("vec_a"), col("vec_b"))
    val cosKey = if (roundDp >= 0) round(cos + lit(1e-9), roundDp) else cos
    val a = multi.select(col("cell_id"), col("doc_id").as("doc_a"),
      col("vec").as("vec_a"))
    val b = multi.select(col("cell_id"), col("doc_id").as("doc_b"),
      col("vec").as("vec_b"))
    // merge pin — equal-sized VECTOR-carrying self-join; a mistaken
    // broadcast here ships the whole assigned corpus to the driver
    val candidates = a.hint("merge").join(b.hint("merge"), Seq("cell_id"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), cosKey.as("cosine"))
    // a pair sharing several probed cells must verify once, not nAssign²
    // times (and must not duplicate CC edges)
    val pairs =
      (if (nAssign == 1) candidates
       else candidates.dropDuplicates("doc_a", "doc_b"))
        .where(col("cosine") >= threshold)
    (assigned, pairs)
  }

  def semanticDedup(embeddings: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCentroids: Int = 0, roundDp: Int = -1,
      nAssign: Int = 1): DataFrame = {
    val (assigned, pairs) = semanticCellPairs(
      embeddings, idCol, vecCol, threshold, nCentroids, roundDp, nAssign)
    semanticVerdicts(assigned, pairs)
  }

  /** Shared verdict tail of the semantic-dedup family: transitive
    * near-dup groups over the (dup-mass-sized) pair set via connected
    * components — the CC label IS the min member id = the canonical
    * representative — then one row per document.
    */
  private def semanticVerdicts(assigned: DataFrame, pairs: DataFrame): DataFrame = {
    val groups = clusters(pairs, "doc_a", "doc_b")
      .select(col("doc_id"), col("cluster_id").as("group_rep"))
    assigned.select(col("doc_id"), col("cell_id"))
      .join(groups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cell_id"),
        coalesce(col("group_rep"), col("doc_id")).as("group_rep"))
      .withColumn("is_kept", col("doc_id") === col("group_rep"))
  }

  /** Pair stage of [[semanticDedupStored]], lazily exposed for the plan
    * pin: the cell assignment is READ from the persisted layout (never
    * recomputed), and when the layout is stored as a table bucketed by
    * `clusterCol` the within-cell self-join is co-partitioned on its key
    * — the executed plan contains NO exchange on the corpus side
    * (asserted in LlmOpsSpec). No localCheckpoint here: pinning would
    * rewrite the scan as an RDD source and discard the bucketed scan's
    * hash-partitioning guarantee, reintroducing the exchange.
    */
  private[graft] def semanticStoredPairs(stored: DataFrame, idCol: String,
      vecCol: String, threshold: Double, clusterCol: String,
      roundDp: Int): (DataFrame, DataFrame) = {
    val assigned = stored.select(col(idCol).as("doc_id"),
      col(clusterCol).as("cell_id"), col(vecCol).as("vec"))
    val cos = vec_cosine(col("vec_a"), col("vec_b"))
    val cosKey = if (roundDp >= 0) round(cos + lit(1e-9), roundDp) else cos
    val a = assigned.select(col("cell_id"), col("doc_id").as("doc_a"),
      col("vec").as("vec_a"))
    val b = assigned.select(col("cell_id"), col("doc_id").as("doc_b"),
      col("vec").as("vec_b"))
    // merge pin — same rationale as the soft-assign variant above; over a
    // cluster_id-bucketed stored layout the merge join still plans with
    // ZERO corpus-side exchange (the LlmOpsSpec pin), broadcast never
    val pairs = a.hint("merge").join(b.hint("merge"), Seq("cell_id"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), cosKey.as("cosine"))
      .where(col("cosine") >= threshold)
    (assigned, pairs)
  }

  /** [[semanticDedup]] over a PERSISTED IVF layout
    * ([[graft.similarity.Ann.withIvfQuantizedLayout]] — the v11 storage
    * shape): the corpus's cell assignment is read from `clusterCol`, so
    * the centroid broadcast + argmax pass never reruns, and the
    * within-cell pair join runs directly on the stored key. Persist the
    * layout as a table BUCKETED by `clusterCol` and the self-join is
    * co-partitioned — no corpus-side exchange at all (plan-pinned in
    * LlmOpsSpec). Verdicts are EXACTLY [[semanticDedup]]'s on the same
    * corpus and cell count (nAssign = 1), because the layout's assignment
    * rule is the same seed-centroid argmax — the LlmOpsSpec equivalence
    * law.
    *
    * This is the shape a nightly curation service runs: assignment is
    * ingest-time work, the nightly pass pays only within-cell pairing +
    * the dup-mass-sized closure.
    */
  def semanticDedupStored(stored: DataFrame, idCol: String, vecCol: String,
      threshold: Double, clusterCol: String = "cluster_id",
      roundDp: Int = -1): DataFrame = {
    val (assigned, pairs) = semanticStoredPairs(
      stored, idCol, vecCol, threshold, clusterCol, roundDp)
    semanticVerdicts(assigned, pairs)
  }

  /** INCREMENTAL semantic dedup — the [[incrementalJaccardStaged]] move
    * for embedding space (v13): flag documents in `batch` whose cosine to
    * a document of the PERSISTED corpus layout, or to a lower-id document
    * in the same batch, clears `threshold`. The corpus is never
    * self-paired and its assignment is never recomputed: batch docs
    * assign to cells against the layout's `centroids` (hierarchical
    * above [[graft.similarity.Ann.FlatDispatchMaxCells]] cells — pass
    * `nCells` when known to skip a count job), and pairing is confined
    * to the batch's probed cells — on a cluster-partitioned layout the
    * probed-cell filter arrives as LITERALS and prunes partitions (the
    * v11 scan shape) up to [[graft.Regime.MaxInListLiterals]]
    * cells, and as a broadcast semi-join (runtime partition pruning)
    * beyond, so a large batch under auto cells can never blow up the
    * plan or the driver.
    *
    * Verdicts are EXACTLY the full-corpus [[semanticDedup]] run's pair
    * verdicts restricted to batch docs (the t27/t28 equivalence law,
    * asserted in LlmOpsSpec) whenever ids are unique across corpus ∪
    * batch and the corpus contains the union's `nCentroids` lowest ids —
    * i.e. batch ids are newer than the seed range, the normal ingest
    * situation. `nAssign > 1` soft-assigns batch docs to their top-n
    * cells (recall knob for boundary dups, ~×nAssign pair cost on the
    * batch side only; the corpus side stays primary-cell).
    *
    * Returns one row per batch document:
    * (doc_id, n_dup_sources, dup_of = lowest-id duplicate source or null,
    * is_dup) — the [[incrementalJaccard]] verdict schema.
    */
  def semanticDedupIncremental(stored: DataFrame, centroids: DataFrame,
      batch: DataFrame, idCol: String, vecCol: String, threshold: Double,
      clusterCol: String = "cluster_id", roundDp: Int = -1,
      nAssign: Int = 1, nCells: Int = -1): DataFrame =
    semanticDedupIncrementalWithAssign(stored, centroids, batch, idCol,
      vecCol, threshold, clusterCol, roundDp, nAssign, nCells)._1

  /** [[semanticDedupIncremental]] that ALSO returns the batch's pinned
    * primary-cell assignment (cell_id, doc_id, vec) — the exact frame the
    * verdict path computes and checkpoints internally. The streaming
    * ingest drain ([[graft.streaming.Streams.semanticDedupIngest]]) folds
    * every processed batch into its reference set keyed by cell; without
    * this accessor it re-ran `assignCells` on the same micro-batch it
    * had just deduplicated — one redundant centroid-broadcast job per
    * tick. With `nAssign > 1` the returned frame still holds ALL probed
    * cells per doc; a fold should then re-rank to primary cells itself.
    */
  private[graft] def semanticDedupIncrementalWithAssign(stored: DataFrame,
      centroids: DataFrame, batch: DataFrame, idCol: String, vecCol: String,
      threshold: Double, clusterCol: String = "cluster_id",
      roundDp: Int = -1, nAssign: Int = 1, nCells: Int = -1)
      : (DataFrame, DataFrame) = {
    import graft.similarity.Ann
    require(nAssign >= 1, s"nAssign must be >= 1, got $nAssign")
    val bAssign = Ann
      .assignCells(centroids, batch, idCol, vecCol, "batch", keep = nAssign,
        nCells = nCells)
      .select(col("cluster_id").as("cell_id"), col("batch_id").as("doc_id"),
        col("batch_vec").as("vec"))
      .pin(false) // consumed by cell prune + pair side + verdict
    val corpusSide = Ann
      .pruneToCells(stored, clusterCol, bAssign.select(col("cell_id")))
      .select(col(clusterCol).as("cell_id"), col(idCol).as("src"),
        col(vecCol).as("src_vec"), lit(0).as("src_side"))
    val batchSide = bAssign.select(col("cell_id"), col("doc_id").as("src"),
      col("vec").as("src_vec"), lit(1).as("src_side"))
    val cos = vec_cosine(col("vec"), col("src_vec"))
    val cosKey = if (roundDp >= 0) round(cos + lit(1e-9), roundDp) else cos
    val candidates = bAssign.join(corpusSide.unionByName(batchSide), Seq("cell_id"))
      // a dup SOURCE is any corpus doc, or an earlier (lower-id) batch doc
      .where(col("src_side") === 0 || col("src") < col("doc_id"))
      .select(col("doc_id"), col("src"), cosKey.as("cosine"))
    // with nAssign > 1 a batch-batch pair can share several probed cells —
    // count each source once
    val pairs =
      (if (nAssign == 1) candidates
       else candidates.dropDuplicates("doc_id", "src"))
        .where(col("cosine") >= threshold)
    val verdicts = batch.select(col(idCol).as("doc_id"))
      .join(pairs.select(col("doc_id"), col("src")), Seq("doc_id"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("src")).as("n_dup_sources"),
        min(col("src")).as("dup_of"),
        (count(col("src")) > 0).as("is_dup"))
    (verdicts, bAssign)
  }
}
