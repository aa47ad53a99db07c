package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pinned
import graft.Pinned.PinSyntax
import graft.functions.VectorFunctions._

/** Similarity search over embedding columns (SURVEY.md §2.4): brute-force
  * cosine top-k as the exact baseline, sign-random-projection LSH as the
  * scale path.
  *
  * Scale shape: brute force is queries × corpus — right when the query set
  * is small (broadcast it) or when an exact answer is mandated; the LSH
  * variant turns the corpus side into bucket-local work so the shuffle is
  * on bucket keys and each task scans only its bucket's candidates.
  */
object Ann {

  /** Exact top-k by cosine: broadcast the (small) query set, evaluate the
    * codegen'd cosine against every corpus row, take per-query top-k with a
    * rank window. One pass over the corpus, no shuffle of the corpus side
    * until the (tiny) per-query top-k reduction.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    c.crossJoin(broadcast(q))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        vec_cosine(col("cv"), col("qv")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Deterministic ±1 random hyperplanes: plane p, dim d ↦ sign derived
    * from a splitmix-style avalanche of (seed, p, d). Reproducible across
    * sessions — no RNG state, no fit step. Package-visible so the oracle
    * SQL builders can inline the same ±1 matrix as DuckDB literals and
    * replay bucket assignment independently.
    */
  private[graft] def planeSign(seed: Long, p: Int, d: Int): Double = {
    var z = seed + 0x9E3779B97F4A7C15L * (p.toLong * 131071L + d.toLong + 1L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    if ((z & 1L) == 0L) 1.0 else -1.0
  }

  /** Sign-LSH bucket id: bit p = sign(vec · plane_p), computed by the
    * one-pass [[graft.functions.SignBucketHash]] expression (the HOF
    * formulation it replaced inlined planes×dim literal nodes into the
    * plan, and Catalyst analysis of that tree dominated v04's wall time).
    * Codes are bit-identical to the old formulation — same planeSign
    * matrix, same left-fold accumulation order — so the DuckDB replay
    * oracles are unaffected.
    *
    * `dim` must equal the embedding dimensionality: the ±1 plane matrix is
    * derived at plan-build time, so the length cannot come from the
    * per-row array. Malformed input (wrong length, null vector or
    * element) raises with a diagnosable message instead of collapsing
    * every such vector into one bucket (which would degenerate the bucket
    * join toward a full cross product).
    */
  def signBucket(vec: Column, planes: Int, seed: Long, dim: Int = 64): Column =
    graft.functions.SignBucketHash.signBucket(vec, planes, seed, dim)

  /** The ONE definition of the per-table seed derivation — shared by
    * [[lshBuckets]] and the DuckDB oracle builders so Spark and the replay
    * SQL can never disagree on which planes table t uses.
    */
  private[graft] def tableSeed(seed: Long, t: Int): Long = seed + t * 1000003L

  /** Plane count for a corpus of `n` vectors, targeting ~`targetBucket`
    * vectors per bucket: `max(8, ceil(log2(n / targetBucket)))`.
    *
    * This is the measured scale law made automatic (SURVEY §8): expected
    * LSH candidate pairs grow ~n²/2^planes, so a FIXED plane count turns
    * a 10× corpus growth into a ~100× candidate blow-up (the measured
    * 1.9s→24.9s cliff at planes=8, 50k vectors) — planes must track
    * log2(corpus). At the default targetBucket=16 this gives 8 planes up
    * to ~4k vectors (identical to the old fixed default), 12 at 50k, 15
    * at 500k. The floor of 8 keeps tiny corpora from degenerating into a
    * handful of giant buckets.
    */
  def autoPlanes(n: Long, targetBucket: Int = 16): Int = {
    require(targetBucket >= 1, s"targetBucket must be >= 1, got $targetBucket")
    val needed =
      if (n <= targetBucket) 0
      else math.ceil(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt
    math.max(8, needed)
  }

  /** Resolve a caller-supplied plane count: positive = explicit override,
    * 0 = auto-derive from a corpus count (one cheap count job over the
    * id column — at 100 TB, pass the known corpus size explicitly or let
    * the count read parquet row-group metadata).
    */
  private[graft] def resolvePlanes(planes: Int, corpus: DataFrame): Int = {
    require(planes >= 0, s"planes must be >= 0 (0 = auto), got $planes")
    if (planes > 0) planes else autoPlanes(corpus.count())
  }

  /** The `tables` independent (table_id, code) sign-LSH buckets for a
    * vector — the ONE definition of the per-table seed derivation, shared
    * by [[lshTopK]] and [[graft.dedup.Dedup.embeddingPairs]] so the two
    * LSH surfaces can never drift apart.
    */
  def lshBuckets(vec: Column, planes: Int, tables: Int, seed: Long, dim: Int): Column =
    array((0 until tables).map(t =>
      struct(lit(t).as("table_id"),
        signBucket(vec, planes, tableSeed(seed, t), dim).as("code"))): _*)

  /** IVF (inverted-file) approximate top-k: the corpus is partitioned into
    * `nCentroids` Voronoi cells, each query probes its `nProbe` nearest
    * cells, and exact cosine ranks the candidates within the probed cells.
    *
    * Scale shape: the cell assignment is one broadcast of the (tiny)
    * centroid set + a per-row argmax — linear, embarrassingly parallel, and
    * in production computed once and stored WITH the corpus (a `cluster_id`
    * column, ideally the table's partition key so a probe reads only
    * matching partitions). The probe join shuffles on `cluster_id`, so per
    * query only ~nProbe/nCentroids of the corpus is scanned.
    *
    * Seed centroids are the `nCentroids` lowest-id corpus vectors —
    * deterministic and replayable (no RNG, no fit step). `lloydIters` runs
    * that many Lloyd refinement steps (re-assign, recompute cell means —
    * spherical k-means modulo normalization, which the cosine ranking
    * performs anyway) to tighten the cells: better recall per probe, same
    * operator shape, one extra broadcast-assign + narrow mean-agg pass per
    * iteration. Default 0 keeps the pipeline exactly replayable by the
    * DuckDB oracle (cell means accumulate in partition order, so refined
    * centroids are deterministic only to ~1 ulp — fine for use, wrong for
    * a cross-engine hash compare).
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, lloydIters: Int = 0): DataFrame = {
    val cent = ivfCentroids(corpus, idCol, vecCol, nCentroids, lloydIters)
    def assign(c: DataFrame, df: DataFrame, side: String, keep: Int): DataFrame =
      assignCells(c, df, idCol, vecCol, side, keep, nCentroids)
    val c = assign(cent, corpus, "corpus", 1)
    val q = assign(cent, queries, "query", nProbe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    c.join(q, Seq("cluster_id"))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        vec_cosine(col("corpus_vec"), col("query_vec")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** The deterministic IVF centroid rule shared by [[ivfTopK]] and the
    * persisted layout ([[withIvfQuantizedLayout]]): the `nCentroids`
    * lowest-id corpus vectors. No RNG and no fit step, so a stored layout
    * and a query session derive the identical cell structure from the
    * same corpus.
    */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int): DataFrame =
    corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("cid"), col(vecCol).as("centroid"))

  /** [[seedCentroids]] plus `lloydIters` Lloyd refinement steps — the ONE
    * centroid-fit rule, shared by [[ivfTopK]] and the persisted layout
    * ([[withIvfQuantizedLayout]]) so a refined stored layout and its
    * query session can derive identical cells: persist the layout with
    * `lloydIters = N`, then pass `ivfCentroids(corpus, ..., N)` (or the
    * centroids persisted alongside the layout — preferred at 100 TB,
    * where re-running N assignment passes to recover them is a real
    * cost) to [[ivfQuantizedTopK]]. Cell identity (cid) stays the seed
    * id across iterations; a cell that loses all members drops out and
    * its neighbors absorb the space.
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, lloydIters: Int = 0): DataFrame = {
    val seed = seedCentroids(corpus, idCol, vecCol, nCentroids)
    (0 until lloydIters).foldLeft(seed) { (c, _) =>
      // one Lloyd step (re-assign, recompute cell means). Pinned per
      // iteration so each step computes once, not once per downstream
      // consumer.
      assignCells(c, corpus, idCol, vecCol, "corpus", 1, nCentroids)
        .select(col("cluster_id").as("cid"),
          posexplode(col("corpus_vec")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("x")).as("cx"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pairs"))
        .select(col("cid"), transform(col("pairs"), p => p.getField("cx")).as("centroid"))
        .pin(false)
    }
  }

  /** Cell count for cell-blocked operators ([[graft.dedup.Dedup
    * .semanticDedup]]): within-cell candidate pairs grow ~n²/nCentroids,
    * so a FIXED cell count turns a 10× corpus growth into a ~100× pair
    * blow-up — the same measured cliff [[autoPlanes]] closes for LSH
    * (planes=8: 1.9s→24.9s at 10×). Holding expected cell occupancy at
    * `targetCell` makes the pair stage ~n·targetCell/2, linear in the
    * corpus. The floor of 16 keeps tiny corpora from degenerating into a
    * couple of giant cells (and preserves the historical default at the
    * gate scale, where n/targetCell < 16).
    */
  def autoCells(n: Long, targetCell: Int = 256): Int = {
    require(targetCell >= 1, s"targetCell must be >= 1, got $targetCell")
    math.max(16, math.ceil(n.toDouble / targetCell).toInt)
  }

  /** Resolve a caller-supplied cell count: positive = explicit override,
    * 0 = auto-derive from the corpus count — from `knownCount` when the
    * caller already holds it (the 100 TB path: no extra scan job ahead
    * of assignment), else one cheap count job reading parquet row-group
    * metadata.
    */
  private[graft] def resolveCells(nCentroids: Int, corpus: DataFrame,
      knownCount: Long = -1L): Int = {
    require(nCentroids >= 0, s"nCentroids must be >= 0 (0 = auto), got $nCentroids")
    if (nCentroids > 0) nCentroids
    else autoCells(if (knownCount >= 0L) knownCount else corpus.count())
  }

  /** Target child count per super-cell in [[assignCellsHierarchical]],
    * and the recursion base: a super set at or below this size is scored
    * flat. Sized so each hierarchy level is a comfortably-broadcast
    * centroid set and per-row work per level stays ~2·64 cosines.
    */
  private[graft] val FlatAssignMaxCells = 64

  /** Largest cell count [[assignCells]] routes to the FLAT (single-level
    * broadcast-argmax) form. MEASURED crossover (SURVEY.md §8, "the cells
    * 10× step"; dim 64, local[32]): flat costs α·n·k (1.15 s at n=50k/k=196;
    * 232 s at n=500k/k=1954 — the quadratic cliff under [[autoCells]]'
    * k ∝ n) while hierarchical costs ~β·n (4.9 s / 21.5 s at the same
    * points), crossing near k ≈ 300; 256 is the nearest power of two
    * below it, and comfortably above every replay-oracle corpus (gate
    * scale resolves ≤ 64 cells), so oracles stay on the bit-exact flat
    * path. [[graft.Regime]] makes the top-level choice.
    */
  private[graft] val FlatDispatchMaxCells = 256

  /** Voronoi cell assignment — dispatches on the cell count `nCells`
    * (pass the resolved count; `-1` = unknown, counted from `cent`):
    * ≤ [[FlatDispatchMaxCells]] runs the flat per-row argmax over the
    * broadcast centroids; above it the recursive
    * [[assignCellsHierarchical]] form, whose per-row work is
    * O(log k) instead of O(k) — with [[autoCells]]' k ∝ n that is the
    * difference between O(n·log n) and O(n²) for the whole pass. Ties
    * broken by lowest cid (row_number over (ccos DESC, cid)). The
    * embedding is projected AWAY before any rank shuffle — ranking
    * carries only (id, cid, ccos) and the vector joins back once.
    * Returns (side_id, cluster_id, side_vec), `keep` cells per row (1
    * for corpus assignment, nProbe for query probes).
    */
  private[graft] def assignCells(cent: DataFrame, df: DataFrame,
      idCol: String, vecCol: String, side: String, keep: Int,
      nCells: Int = -1): DataFrame = {
    val k = if (nCells >= 0) nCells else cent.count().toInt
    if (graft.Regime.fits(k, FlatDispatchMaxCells))
      assignCellsFlat(cent, df, idCol, vecCol, side, keep)
    else assignCellsHierarchical(cent, df, idCol, vecCol, side, keep, k)
  }

  private[graft] def assignCellsFlat(cent: DataFrame, df: DataFrame,
      idCol: String, vecCol: String, side: String, keep: Int): DataFrame = {
    val ids = df.select(col(idCol).as(s"${side}_id"), col(vecCol).as(s"${side}_vec"))
    val scored = ids
      .crossJoin(broadcast(cent))
      .select(col(s"${side}_id"), col("cid"),
        vec_cosine(col(s"${side}_vec"), col("centroid")).as("ccos"))
    topCells(scored, side, keep).join(ids, Seq(s"${side}_id"))
  }

  /** Reduce scored (side_id, cid, ccos) candidate rows to the top-`keep`
    * cells per id under the ONE canonical order (ccos DESC, cid ASC —
    * shared by every assignment path and the replay oracles): a rank
    * window over skinny (id, cid, ccos) triples. A `max_by`
    * hash-aggregate argmax for keep=1 was MEASURED SLOWER (500k×1954
    * candidates: flat assign 192→430 s, end-to-end dedup 27→151 s) —
    * MaxBy's struct-ordered merge loses to the codegen'd sort of
    * 24-byte rows — so the window stays for every keep.
    */
  private def topCells(scored: DataFrame, side: String, keep: Int): DataFrame = {
    val w = Window.partitionBy(col(s"${side}_id"))
      .orderBy(col("ccos").desc, col("cid"))
    scored.withColumn("crank", row_number().over(w))
      .where(col("crank") <= keep)
      .select(col(s"${side}_id"), col("cid").as("cluster_id"))
  }

  /** Hierarchical cell assignment — the scale form behind
    * [[assignCells]], and how real SemDeDup/IVF deployments assign when
    * the cell count tracks the corpus: `ceil(k / FlatAssignMaxCells)` of
    * the cells (the lowest-cid ones — the [[seedCentroids]] rule applied
    * to the cell set, so the hierarchy derives deterministically from
    * the same corpus) serve as coarse super-cells with ~64 children
    * each; every cell maps to its nearest super-cell; each row assigns
    * to its `superProbe` nearest super-cells and runs the argmax over
    * only those supers' children (~superProbe·64 candidates). Both
    * "assign to super" steps dispatch like [[assignCells]], so when the
    * super set still exceeds [[FlatDispatchMaxCells]] (k > ~16k) the
    * hierarchy RECURSES — depth log₆₄(k), per-row work
    * O(superProbe·64·depth) ≈ constant·log instead of flat's O(k). With
    * [[autoCells]]' k ∝ n the whole pass is O(n·log n), and the only
    * broadcasts are ≤-64-row centroid sets at the recursion leaves; the
    * full centroid table joins by super_id, which Catalyst broadcasts
    * when small and shuffles when (at auto-cell production scale,
    * k ≈ n/256 centroids) it no longer fits.
    *
    * The trade: a row whose true nearest cell lives outside its probed
    * super-cells gets its best PROBED cell — the standard hierarchical-
    * IVF approximation, bounded by `superProbe` (default max(2, keep)).
    * `superProbe = nSuper` probes everything and reproduces the flat
    * assignment EXACTLY (each cell belongs to exactly one super, so the
    * candidate set is all k cells and the tie-break order is identical;
    * inductively at every depth) — the spec's equivalence law.
    *
    * MEASURED at the depth-2 regime (SURVEY.md §8, n=5M,
    * k=19532, nSuper=306 > 256 so the row→super step itself recurses):
    * 763 s on local[32] vs 23.4 s at n=500k/k=1954 (depth 1) — ~1.6×
    * per-row candidate growth (≈255 vs ≈159 cosines/row) × 10× rows,
    * fully parallel after the leaf-join skew fix below (the pre-fix run
    * took 1080 s with one straggler task holding ~80% of the CPU).
    * Flat at this point extrapolates to ≈6.4 h (α·n·k).
    */
  private[graft] def assignCellsHierarchical(cent: DataFrame, df: DataFrame,
      idCol: String, vecCol: String, side: String, keep: Int, nCells: Int,
      superProbe: Int = -1): DataFrame = {
    val nSuper = math.max(2,
      math.ceil(nCells.toDouble / FlatAssignMaxCells).toInt)
    val probe = math.min(nSuper,
      if (superProbe > 0) superProbe else math.max(2, keep))
    // pin: `cent` is typically a TakeOrdered over the corpus; the three
    // consumers below (supers, cell→super map, child argmax) must not
    // each rescan the corpus
    val cells = cent.pin(false)
    val supers = cells.orderBy(col("cid")).limit(nSuper)
      .select(col("cid").as("cid"), col("centroid").as("centroid"))
      .pin(false) // consumed by the cell map + the row probe
    // a super set past the flat threshold re-enters the hierarchy — a
    // plain comparison, not a Regime choice: at scale, 2 supers would
    // recurse forever. cell → nearest super: k·64·depth cosines
    def toSupers(target: DataFrame, id: String, vec: String, s: String, keep: Int) =
      if (nSuper <= FlatDispatchMaxCells) assignCellsFlat(supers, target, id, vec, s, keep)
      else assignCellsHierarchical(supers, target, id, vec, s, keep, nSuper)
    val cellSuper = toSupers(cells, "cid", "centroid", "cell", keep = 1)
      .select(col("cluster_id").as("sid"), col("cell_id").as("cid"),
        col("cell_vec").as("centroid"))
    // row → `probe` nearest super-cells, same recursion; returns
    // (side_id, sid, side_vec) with the vector already attached
    val rowSuper = toSupers(df, idCol, vecCol, side, keep = probe)
      .withColumnRenamed("cluster_id", "sid")
    // leaf level: argmax over the probed supers' children. The join key
    // `sid` has only nSuper distinct values and rows CLUSTER onto few
    // supers whenever the data clusters (embeddings do — that is the
    // premise of cell blocking), so a shuffled join funnels most of the
    // n·probe·64 candidate fan-out into one straggler task — MEASURED at
    // n=5M/k=19532 (nSuper=306): 1080 s wall with one task holding ~80%
    // of the CPU, vs 23 s at 500k. Two skew-proof shapes, dispatched on
    // the child-table size:
    //   - k ≤ BroadcastCellsMax: broadcast the children. No sid shuffle;
    //     the candidate fan-out is computed map-side on rowSuper's
    //     UNIFORM (hash(side_id)) partitioning, and the partial
    //     WindowGroupLimit below topCells' window reduces each map
    //     task's output to ~keep rows per id BEFORE the exchange — the
    //     640M scored rows never shuffle.
    //   - beyond (cells no longer driver-safe — k is corpus/256 at auto
    //     scale): SaltedJoin spreads each hot super across 32 sub-keys;
    //     the child table replicates 32×, bounded and uniform, instead
    //     of one task absorbing a hot super's whole fan-out.
    val ids = df.select(col(idCol).as(s"${side}_id"), col(vecCol).as(s"${side}_vec"))
    val joined =
      if (graft.Regime.fits(nCells, BroadcastCellsMax))
        rowSuper.join(broadcast(cellSuper), Seq("sid"))
      else
        // forceSalt: this branch only runs when cellSuper is BY DESIGN too
        // big to broadcast (> BroadcastCellsMax rows of dim-wide centroids);
        // its post-aggregation stats estimate is unreliable, so don't let
        // the dispatcher be fooled into broadcasting it
        graft.operators.SaltedJoin.join(rowSuper, cellSuper, Seq("sid"),
          salts = 32, forceSalt = true)
    val scored = joined
      .select(col(s"${side}_id"), col("cid"),
        vec_cosine(col(s"${side}_vec"), col("centroid")).as("ccos"))
    topCells(scored, side, keep).join(ids, Seq(s"${side}_id"))
  }

  /** Largest cell count whose (cid, sid, centroid) table the hierarchical
    * leaf join broadcasts: 65536 dim-64 rows ≈ 40 MB — comfortably inside
    * executor memory at local and cluster defaults. Covers corpora to
    * ~16M rows under [[autoCells]]' k = n/256; beyond it the leaf join
    * salt-spreads instead (see [[assignCellsHierarchical]]).
    * [[graft.Regime]] makes the choice.
    */
  private[graft] val BroadcastCellsMax = 65536

  /** Writer side of the PRODUCTION IVF×SQ layout (the FAISS IVF-SQ shape,
    * v11): every corpus row gets its IVF `cluster_id` (deterministic
    * [[seedCentroids]] + argmax assignment, the v06 rule) and the BINARY
    * int8 `codes` column (the v09 storage scheme). Persist with
    * `.write.partitionBy(clusterCol)` and the probe's cell filter becomes
    * a PARTITION filter: a query physically reads ~nProbe/nCentroids of
    * the corpus, and the coarse pass reads one byte per element of what
    * it does scan. Keep the centroids (tiny) available at query time —
    * [[ivfQuantizedTopK]] takes them as a DataFrame; with
    * `lloydIters > 0` they are the REFINED [[ivfCentroids]] (persist
    * them next to the layout, or re-derive with the same iteration
    * count), not the raw seeds.
    *
    * `nCentroids = 0` (the default) derives the cell count from the
    * corpus via [[autoCells]] — the SAME occupancy law
    * [[graft.dedup.Dedup.semanticDedup]] enforces, so a layout written
    * with defaults never hands [[graft.dedup.Dedup.semanticDedupStored]]
    * oversized cells (the writer/consumer parameter law). Pass
    * `corpusCount` when the size is already known to skip the count job.
    */
  def withIvfQuantizedLayout(df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 0, codesCol: String = "codes",
      clusterCol: String = "cluster_id", lloydIters: Int = 0,
      corpusCount: Long = -1L): DataFrame = {
    val cells = resolveCells(nCentroids, df, corpusCount)
    val cent = ivfCentroids(df, idCol, vecCol, cells, lloydIters)
    val assigned = assignCells(cent, df, idCol, vecCol, "corpus", keep = 1,
        nCells = cells)
      .select(col("corpus_id").as("__assign_id"), col("cluster_id").as(clusterCol))
    df.join(assigned, col(idCol) === col("__assign_id"))
      .drop("__assign_id")
      .withColumn(codesCol, vec_quantize_int8(col(vecCol)).as(codesCol, int8Meta))
  }

  /** Compact a persisted cluster-partitioned IVF layout plus its
    * accumulated ingest deltas into ONE fresh layout — the
    * [[graft.operators.Retrieval.compactBm25Index]] move for the vector
    * LSM: continuous ingest
    * ([[graft.streaming.Streams.semanticDedupIngest]]) folds each tick's
    * assigned rows as flat `batch=N` parquet deltas that every later
    * serve re-lists and re-unions; compaction merges base ∪ deltas into
    * a `partitionBy(clusterCol)` directory of few files per cell, so
    * probed-cell pruning goes back to skipping whole partitions instead
    * of touching every delta file.
    *
    * Column contract: the compacted layout carries the columns COMMON to
    * the base and every delta (ticks persist the serve's working set —
    * clusterCol + id + vec; base-only derived columns like int8 codes
    * are re-derivable and would be stale for delta rows anyway).
    * Semantics: compact(layout(corpus) + folds) ≡ layout(corpus ∪ folds)
    * restricted to those columns whenever fold assignment used the
    * layout's own centroids and the corpus holds the seed range — the
    * LlmOpsSpec law. One exchange: the hash repartition on `clusterCol`
    * co-locates each cell so the dynamic-partition write emits one file
    * per cell per holding task (cells ≪ partitions ⇒ ~1 file per cell);
    * cell skew is bounded by assignment balance, and AQE splits an
    * oversized shuffle partition either way. Never in place: `dstDir`
    * must differ from the source and every overlay — the source stays
    * serveable until the caller swaps, and a killed compaction is a
    * no-op.
    */
  def compactIvfLayout(spark: org.apache.spark.sql.SparkSession,
      srcLayoutDir: String, dstLayoutDir: String,
      overlayDirs: Seq[String] = Nil, clusterCol: String = "cluster_id")
      : Unit = {
    def canon(d: String) = new java.io.File(d).getCanonicalPath
    (srcLayoutDir +: overlayDirs).foreach(d =>
      require(canon(d) != canon(dstLayoutDir),
        s"compactIvfLayout is never in-place: $d and dstLayoutDir resolve " +
          s"to the same path ($dstLayoutDir)"))
    val base = spark.read.parquet(srcLayoutDir)
    val deltas = overlayDirs.map { d =>
      val df = spark.read.parquet(d) // tolerate writeTick's batch partition
      if (df.columns.contains("batch")) df.drop("batch") else df
    }
    val kept = deltas.foldLeft(base.columns.toSeq) { (acc, t) =>
      acc.filter(t.columns.contains)
    }
    require(kept.contains(clusterCol),
      s"every compacted source must carry $clusterCol; common columns: " +
        kept.mkString(", "))
    (base.select(kept.map(col): _*) +: deltas.map(_.select(kept.map(col): _*)))
      .reduce(_ unionByName _)
      .repartition(col(clusterCol))
      .write.mode("overwrite").partitionBy(clusterCol).parquet(dstLayoutDir)
  }

  /** Prune `stored` to the rows whose `clusterCol` appears in `cells`
    * (a single-column DataFrame of probed cell ids, duplicates fine).
    * Collects AT MOST [[graft.Regime.MaxInListLiterals]] + 1 distinct
    * ids, since auto cells can put 10⁵-10⁶ cells in play: within the bound
    * the filter is an IN-list of literals (static partition pruning on a
    * cluster-partitioned layout — the v11 scan shape); beyond it a
    * broadcast LEFT SEMI join on the distinct cell set, which dynamic
    * partition pruning turns into a runtime partition filter. Same rows
    * either way — the spec asserts the equivalence and both plan shapes.
    */
  private[graft] def pruneToCells(stored: DataFrame, clusterCol: String,
      cells: DataFrame): DataFrame = {
    val distinctCells = cells.toDF("__probe_cell").distinct()
    val sample = distinctCells.limit(graft.Regime.MaxInListLiterals + 1)
      .collect().map(_.get(0)).toSeq
    if (graft.Regime.fits(sample.size, graft.Regime.MaxInListLiterals))
      stored.where(col(clusterCol).isInCollection(sample))
    else
      stored.join(broadcast(distinctCells),
        col(clusterCol) === col("__probe_cell"), "left_semi")
  }

  /** The [[ivfTopK]] × [[quantizedTopK]] COMPOSITION over the persisted
    * layout ([[withIvfQuantizedLayout]]) — the shape a real 100 TB
    * retrieval deployment runs: queries probe their `nProbe` nearest
    * cells, the scan of the stored corpus is pruned to the probed
    * partitions (cluster_id arrives as LITERALS, so Catalyst plans
    * PartitionFilters — plan-pinned in LlmOpsSpec), the coarse pass
    * scores only the stored code BYTES (never the vector column — also
    * plan-pinned), and the exact float rerank touches survivors from the
    * probed cells only.
    *
    * The probed-cell filter is bounded by [[pruneToCells]]: up to
    * [[graft.Regime.MaxInListLiterals]] distinct cells arrive as literals (static
    * partition pruning); beyond that (auto-cell production scale, or a
    * huge query batch) it becomes a broadcast semi-join, so neither the
    * driver nor the plan ever holds an unbounded IN-list.
    *
    * `nCells` is the centroid count when the caller knows it (skips a
    * count job); `-1` counts `centroids` — tiny next to the retrieval.
    */
  def ivfQuantizedTopK(stored: DataFrame, centroids: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, codesCol: String,
      k: Int, nProbe: Int = 4, nCandidates: Int = 50,
      rankRoundDp: Int = -1, clusterCol: String = "cluster_id",
      nCells: Int = -1): DataFrame = {
    requireInt8Codes(stored, codesCol)
    val rankKey = rankRounder(rankRoundDp)
    val q = assignCells(centroids, queries, idCol, vecCol, "query", nProbe, nCells)
      .pin(false) // probe pairs: consumed by the cell prune + join
    val probed = pruneToCells(stored, clusterCol, q.select(col("cluster_id")))
    val cq = probed.select(col(clusterCol).as("cluster_id"),
      col(idCol).as("corpus_id"), col(codesCol).as("cq"))
    val qs = q.select(col("cluster_id"), col("query_id"), col("query_vec"))
    val coarse = cq.join(broadcast(qs), Seq("cluster_id"))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        rankKey(vec_cosine(col("cq"), col("query_vec"))).as("coarse_cos"))
    // rerank fetches full vectors from the PROBED partitions only — the
    // survivors all live there by construction
    rerankStage(coarse, probed, queries, idCol, vecCol, k, nCandidates, rankKey)
  }

  /** Two-stage retrieval (coarse filter → exact rerank), Matryoshka-style:
    * stage 1 ranks the whole corpus by cosine over only the first
    * `coarseDims` dimensions and keeps `nCandidates` per query; stage 2
    * re-scores just those candidates with the full-dimension cosine and
    * returns top-k. With prefix-trained (MRL) embeddings the coarse stage
    * loses little recall while doing coarseDims/dim of the flops.
    *
    * Scale shape: the coarse pass broadcasts the query set and streams the
    * corpus — in production the prefix lives in its OWN parquet column, so
    * stage 1 reads coarseDims/dim of the vector bytes and the full vectors
    * are fetched (broadcast-joined by id) only for the ~queries×nCandidates
    * survivors. The rank exchange carries (query_id, corpus_id, cos)
    * triples, never vectors — the [[bruteForceTopK]] shape with a 4×
    * cheaper scan.
    *
    * `rankRoundDp >= 0` makes BOTH stages rank on the cosine rounded to
    * that many decimals (id tiebreak) — required for cross-engine replay
    * oracles, where a 1-ulp difference must not flip the candidate cut.
    * Production callers leave -1 (exact ranking).
    */
  def twoStageTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      coarseDims: Int = 16, nCandidates: Int = 50,
      rankRoundDp: Int = -1): DataFrame = {
    require(coarseDims > 0, s"coarseDims must be positive, got $coarseDims")
    val rankKey = rankRounder(rankRoundDp)
    val cPre = corpus.select(col(idCol).as("corpus_id"),
      slice(col(vecCol), 1, coarseDims).as("cpre"))
    val qPre = queries.select(col(idCol).as("query_id"),
      slice(col(vecCol), 1, coarseDims).as("qpre"))
    val coarse = cPre.crossJoin(broadcast(qPre))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        rankKey(vec_cosine(col("cpre"), col("qpre"))).as("coarse_cos"))
    rerankStage(coarse, corpus, queries, idCol, vecCol, k, nCandidates, rankKey)
  }

  /** Writer side of the staged retrievals' PRODUCTION storage form: derive
    * the persisted coarse-scan columns next to the full vector —
    * `codesCol` (BINARY int8, one byte per element — the [[quantizedTopK]]
    * coarse input, 4× smaller than float32) and `prefixCol` (the first
    * `coarseDims` dims, same element type as the source — the
    * [[twoStageTopK]] coarse input). Persist the result once at ingest;
    * the stored-column overloads then plan coarse scans whose ReadSchema
    * contains ONLY the id + code/prefix column, so at 100 TB the coarse
    * pass physically reads a fraction of the vector bytes instead of
    * recomputing codes from full floats every query.
    */
  /** Column-metadata tag stamped on generated int8 code columns by
    * [[withRetrievalColumns]] / [[withIvfQuantizedLayout]] and DEMANDED by
    * every stored-codes retrieval entry point: BINARY is untagged in the
    * type system, so without provenance any binary column (a media
    * payload, a hash) would silently score byte-per-element — a length
    * mismatch is the only runtime tripwire. The tag rides in the schema
    * field metadata, which Spark persists through parquet roundtrips.
    */
  val Int8CodesTag = "graft.int8_codes"

  private def int8Meta: org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean(Int8CodesTag, true).build()

  /** Assert provenance of an EXTERNALLY-produced codes column (BINARY,
    * one signed int8 byte per vector element): stamps [[Int8CodesTag]] so
    * the stored-codes retrievals accept it. The caller owns the claim —
    * this is the escape hatch for codes quantized outside this library.
    */
  def tagInt8Codes(df: DataFrame, codesCol: String): DataFrame = {
    val f = df.schema(codesCol)
    require(f.dataType == org.apache.spark.sql.types.BinaryType,
      s"'$codesCol' must be BINARY to be int8 codes, got ${f.dataType.simpleString}")
    df.withColumn(codesCol, col(codesCol).as(codesCol, int8Meta))
  }

  private def requireInt8Codes(df: DataFrame, codesCol: String): Unit = {
    val f = df.schema(codesCol)
    require(f.dataType == org.apache.spark.sql.types.BinaryType,
      s"'$codesCol' must be BINARY int8 codes, got ${f.dataType.simpleString}")
    require(f.metadata.contains(Int8CodesTag),
      s"column '$codesCol' is BINARY but carries no int8-codes provenance " +
        "tag: an arbitrary binary column (a media payload, a hash) would " +
        "silently score byte-per-element. Produce codes with " +
        "withRetrievalColumns / withIvfQuantizedLayout, or assert " +
        "provenance explicitly with tagInt8Codes.")
  }

  def withRetrievalColumns(df: DataFrame, vecCol: String, coarseDims: Int = 16,
      codesCol: String = "codes", prefixCol: String = "prefix"): DataFrame = {
    require(coarseDims > 0, s"coarseDims must be positive, got $coarseDims")
    df.withColumn(codesCol, vec_quantize_int8(col(vecCol)).as(codesCol, int8Meta))
      .withColumn(prefixCol, slice(col(vecCol), 1, coarseDims))
  }

  /** [[twoStageTopK]] over a PERSISTED prefix column (see
    * [[withRetrievalColumns]]): the coarse stage reads `prefixCol` instead
    * of slicing the full vector, so its scan never touches the vector
    * bytes. `coarseDims` must equal the stored prefix length (the cosine
    * kernel raises on any mismatch rather than mis-ranking). Output is
    * bit-identical to the on-the-fly overload for a prefix stored from the
    * same vectors.
    */
  def twoStageTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, prefixCol: String, k: Int,
      coarseDims: Int, nCandidates: Int, rankRoundDp: Int): DataFrame = {
    val rankKey = rankRounder(rankRoundDp)
    val cPre = corpus.select(col(idCol).as("corpus_id"), col(prefixCol).as("cpre"))
    val qPre = queries.select(col(idCol).as("query_id"),
      slice(col(vecCol), 1, coarseDims).as("qpre"))
    val coarse = cPre.crossJoin(broadcast(qPre))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        rankKey(vec_cosine(col("cpre"), col("qpre"))).as("coarse_cos"))
    rerankStage(coarse, corpus, queries, idCol, vecCol, k, nCandidates, rankKey)
  }

  /** Rank-key builder shared by the staged retrievals: identity for
    * production, a 5dp-style round for replay oracles.
    */
  private def rankRounder(rankRoundDp: Int): Column => Column =
    c => if (rankRoundDp >= 0) round(c + 1e-9, rankRoundDp) else c

  /** The shared tail of every staged retrieval ([[twoStageTopK]],
    * [[quantizedTopK]]): cut the coarse scores to `nCandidates` per query,
    * broadcast-fetch full vectors for the survivors only, exact-rerank to
    * top-k. ONE definition so the staging (cut tiebreaks, broadcast
    * shapes, rounding) can never drift between the retrieval variants.
    */
  private def rerankStage(coarse: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nCandidates: Int, rankKey: Column => Column): DataFrame = {
    require(nCandidates >= k, s"nCandidates ($nCandidates) must be >= k ($k)")
    val wCoarse = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse_cos").desc, col("corpus_id"))
    val candidates = coarse
      .withColumn("crank", row_number().over(wCoarse))
      .where(col("crank") <= nCandidates)
      .select(col("query_id"), col("corpus_id"), col("coarse_cos"))
    val cv = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("corpus_vec"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val wFull = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    cv.join(broadcast(candidates), Seq("corpus_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("corpus_id"), col("coarse_cos"),
        rankKey(vec_cosine(col("corpus_vec"), col("query_vec"))).as("cosine"))
      .withColumn("rank", row_number().over(wFull))
      .where(col("rank") <= k)
  }

  /** Product-quantized retrieval (v15 — Jégou et al. 2011, the FAISS PQ
    * shape; completes the storage-axis family: v08 fewer DIMENSIONS, v09
    * fewer BYTES-PER-ELEMENT, v15 fewer BYTES-PER-VECTOR): the vector
    * space splits into `m` subspaces, each quantized against its own
    * `ksub`-codeword codebook, so a vector compresses to `m` small codes
    * (m·log2(ksub) bits — 8 bytes at the production 8×256, 32× smaller
    * than float32). The coarse pass scores codes by ADC table lookup
    * (per query: m·ksub dots, then each corpus row costs m ADDS — no
    * per-pair vector math at all), keeps `nCandidates`, and the shared
    * [[rerankStage]] exact-reranks to top-k.
    *
    * Codebooks are DETERMINISTIC and replayable (the [[seedCentroids]]
    * rule applied per subspace): codeword (s, j) is subvector `s` of the
    * j-th lowest-id corpus vector, unit-normalized — no RNG, no fit step,
    * so the DuckDB oracle re-derives every code (production would Lloyd-
    * refine each codebook exactly as [[ivfCentroids]] does; same operator
    * shape, oracle then pins the stored codebook instead). All vectors
    * unit-normalize before encoding so the ADC dot approximates COSINE
    * (the ranking the rerank repairs toward): encode rounds each
    * subspace L2² to 5dp (floor(+0.5), ties to the lowest codeword —
    * [[graft.functions.PqEncode]]), ADC entries stay unrounded, and only
    * the final per-pair sum rounds via `rankRoundDp`.
    *
    * Scale shape: the codebook is `m·ksub·subDim` doubles on the driver BY
    * CONSTRUCTION (fixed hyper-params); the coarse stage carries (id,
    * codes) rows against broadcast (query, table) rows — the corpus's
    * float vectors are touched only by the encode scan and the
    * candidate-sized rerank fetch. The production form persists the codes
    * column once (8 bytes/vector) and coarse-scans only it — the v09
    * storage argument on the third axis.
    */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, ksub: Int = 16,
      nCandidates: Int = 50, rankRoundDp: Int = -1,
      lloydIters: Int = 0): DataFrame = {
    import graft.functions.PqExpressions.{pqAdcTable, pqEncode}
    val rankKey = rankRounder(rankRoundDp)
    val codebook =
      if (lloydIters > 0) pqTrainedCodebook(corpus, idCol, vecCol, m, ksub, lloydIters)
      else pqSeedCodebook(corpus, idCol, vecCol, m, ksub)
    val subDim = codebook.length / (m * ksub)
    val corpusN = pqNormalize(corpus, idCol, vecCol, "corpus")
    val queriesN = pqNormalize(queries, idCol, vecCol, "query")
    val codes = corpusN.select(col("corpus_id"),
      pqEncode(col("corpus_vec"), codebook, m, ksub, subDim).as("__codes"))
    val qTables = queriesN.select(col("query_id"),
      pqAdcTable(col("query_vec"), codebook, m, ksub, subDim).as("__adc"))
    // ADC score: m table lookups + adds per (query, corpus) pair — both
    // sides are attribute refs by the time the HOF sees them (cheap to
    // re-reference; nothing recomputes per element)
    val adcDot = aggregate(
      zip_with(col("__codes"), sequence(lit(0), lit(m - 1)),
        (c, s) => element_at(col("__adc"), (s * ksub + c + 1).cast("int"))),
      lit(0.0), (acc, x) => acc + x)
    val coarse = codes
      .crossJoin(broadcast(qTables))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), rankKey(adcDot).as("coarse_cos"))
    rerankStage(coarse, corpus, queries, idCol, vecCol, k, nCandidates, rankKey)
      .withColumnRenamed("coarse_cos", "adc_dot")
  }

  /** The deterministic PQ codebook rule ([[seedCentroids]] per subspace):
    * codeword (s, j) = subvector s of the j-th lowest-id corpus vector,
    * unit-normalized. Returned flat (`(s·ksub + j)·subDim + d` indexing) —
    * `m·ksub·subDim` doubles, driver-sized by construction. Persist it
    * next to a stored-codes layout (one array row) so a query session
    * never re-derives it from a corpus that may have since grown.
    */
  def pqSeedCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int): Array[Double] = {
    val seeds = corpus.orderBy(col(idCol)).limit(ksub)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Any](0).map {
        case f: Float  => f.toDouble
        case d: Double => d
      }.toArray)
    require(seeds.length == ksub,
      s"pqSeedCodebook: corpus has ${seeds.length} vectors, need ksub=$ksub seeds")
    val dim = seeds.head.length
    require(dim % m == 0, s"pqSeedCodebook: dim $dim not divisible into m=$m subspaces")
    val subDim = dim / m
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val codebook = new Array[Double](m * ksub * subDim)
    seeds.map(unit).zipWithIndex.foreach { case (v, j) =>
      var s = 0
      while (s < m) {
        var d = 0
        while (d < subDim) {
          codebook((s * ksub + j) * subDim + d) = v(s * subDim + d)
          d += 1
        }
        s += 1
      }
    }
    codebook
  }

  /** [[pqSeedCodebook]] plus `iters` Lloyd refinement steps per subspace —
    * the [[ivfCentroids]] rule at the PQ geometry (FAISS's `train()`
    * analog, v18): each step re-encodes the normalized corpus against the
    * current codebook ([[graft.functions.PqEncode]]'s 5dp rounded-argmin
    * rule, so the assignment itself is replayable) and replaces every
    * codeword with the per-coordinate MEAN of its assigned subvectors. A
    * codeword that loses all members keeps its previous value (it can win
    * rows again in a later step — the SQL replay applies the same rule).
    *
    * Refined coordinates round to `roundDp` decimals via the engine-neutral
    * `floor((x + 1e-9)·10^dp + 0.5)/10^dp` spelling (the [[PqCodebook]]
    * replay contract): the codebook the next iteration (and the final
    * encode) sees is a portable decimal literal, so a DuckDB oracle
    * re-derives every iteration — mean-of-doubles summation-order noise
    * (~1e-15) dies against the 1e-9 nudge instead of flipping an argmin.
    *
    * Scale shape: each iteration is ONE corpus scan + one (s, j, pos)
    * partial-aggregated shuffle of n·dim rows (the [[ivfCentroids]]
    * shuffle shape, map-side combined down to m·ksub·subDim groups); the
    * corpus normalizes once (localCheckpoint) and the codebook stays
    * driver-sized (m·ksub·subDim doubles) by construction. Production
    * persists the trained codebook next to the codes layout
    * ([[pqSeedCodebook]]'s doc) — training is a one-off fit, never on the
    * query path.
    */
  def pqTrainedCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int, roundDp: Int = 6): Array[Double] = Pinned.scope {
    import graft.functions.PqExpressions.pqEncode
    require(iters >= 0, s"pqTrainedCodebook: iters must be >= 0, got $iters")
    val seed = pqSeedCodebook(corpus, idCol, vecCol, m, ksub)
    if (iters == 0) return seed
    val subDim = seed.length / (m * ksub)
    val pow = math.pow(10, roundDp)
    val normed = pqNormalize(corpus, idCol, vecCol, "corpus")
      .select(col("corpus_vec").as("__v"))
      // one normalize pass, reused by every iteration; the scope frees it
      // once the codebook is on the driver
      .pin(false)
    (0 until iters).foldLeft(seed) { (cb, _) =>
      val means = normed
        .select(posexplode(pqEncode(col("__v"), cb, m, ksub, subDim))
          .as(Seq("s", "j")), col("__v"))
        .select(col("s"), col("j"),
          posexplode(slice(col("__v"), col("s") * lit(subDim) + lit(1),
            lit(subDim))).as(Seq("pos", "x")))
        .groupBy(col("s"), col("j"), col("pos"))
        .agg(avg(col("x")).as("cx"))
        .collect() // m·ksub·subDim rows — the codebook itself, driver-sized
      val next = cb.clone()
      means.foreach { r =>
        val (s, j, pos) = (r.getInt(0), r.getInt(1), r.getInt(2))
        next((s * ksub + j) * subDim + pos) =
          math.floor((r.getDouble(3) + 1e-9) * pow + 0.5) / pow
      }
      next
    }
  }

  /** Unit-normalize through a projection (the v09 norm-column rule: an
    * inlined norm would re-fold the array per element in the HOF).
    */
  private def pqNormalize(df: DataFrame, idCol: String, vecCol: String,
      side: String): DataFrame = df
    .select(col(idCol).as(s"${side}_id"),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
    .withColumn("__nrm", vec_norm(col("__v")))
    .select(col(s"${side}_id"),
      transform(col("__v"), x => x / col("__nrm")).as(s"${side}_vec"))

  /** Provenance tag for persisted PQ code columns — the [[Int8CodesTag]]
    * argument at the PQ geometry: an arbitrary BINARY column would
    * silently score byte-per-subspace, and codes from a DIFFERENT (m,
    * ksub) would index the wrong table entries, so the tag records both.
    */
  val PqCodesTag = "graft.pq_codes"

  private def pqMeta(m: Int, ksub: Int): org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean(PqCodesTag, true)
      .putLong("graft.pq_m", m.toLong)
      .putLong("graft.pq_ksub", ksub.toLong)
      .build()

  /** Persist-ready PQ codes column: `m` bytes per vector
    * ([[graft.functions.PqEncodeBytes]] — 32× under float32 at the
    * production 8×256), tagged with the geometry. The caller persists the
    * codebook alongside ([[pqSeedCodebook]]'s doc).
    */
  def withPqCodes(df: DataFrame, vecCol: String, codebook: Array[Double],
      m: Int, ksub: Int, codesCol: String = "pq_codes"): DataFrame = {
    import graft.functions.PqExpressions.pqEncodeBytes
    val subDim = codebook.length / (m * ksub)
    // encode over the normalized vector, projected first (the HOF rule)
    df.withColumn("__pq_v", transform(col(vecCol), x => x.cast("double")))
      .withColumn("__pq_nrm", vec_norm(col("__pq_v")))
      .withColumn("__pq_nv", transform(col("__pq_v"), x => x / col("__pq_nrm")))
      .withColumn(codesCol,
        pqEncodeBytes(col("__pq_nv"), codebook, m, ksub, subDim)
          .as(codesCol, pqMeta(m, ksub)))
      .drop("__pq_v", "__pq_nrm", "__pq_nv")
  }

  /** Assert provenance of an EXTERNALLY-produced PQ codes column — the
    * [[tagInt8Codes]] escape hatch at the PQ geometry.
    */
  def tagPqCodes(df: DataFrame, codesCol: String, m: Int, ksub: Int): DataFrame = {
    val f = df.schema(codesCol)
    require(f.dataType == org.apache.spark.sql.types.BinaryType,
      s"'$codesCol' must be BINARY to be PQ codes, got ${f.dataType.simpleString}")
    df.withColumn(codesCol, col(codesCol).as(codesCol, pqMeta(m, ksub)))
  }

  private def requirePqCodes(df: DataFrame, codesCol: String,
      m: Int, ksub: Int): Unit = {
    val f = df.schema(codesCol)
    require(f.dataType == org.apache.spark.sql.types.BinaryType,
      s"'$codesCol' must be BINARY PQ codes, got ${f.dataType.simpleString}")
    require(f.metadata.contains(PqCodesTag),
      s"column '$codesCol' is BINARY but carries no PQ-codes provenance " +
        "tag: an arbitrary binary column would silently score " +
        "byte-per-subspace. Produce codes with withPqCodes, or assert " +
        "provenance explicitly with tagPqCodes.")
    val (fm, fk) = (f.metadata.getLong("graft.pq_m"),
      f.metadata.getLong("graft.pq_ksub"))
    require(fm == m && fk == ksub,
      s"'$codesCol' was encoded at PQ geometry m=$fm ksub=$fk but the " +
        s"query session asked for m=$m ksub=$ksub — the codes would index " +
        "the wrong ADC table entries")
  }

  /** [[pqTopK]] over a PERSISTED codes column ([[withPqCodes]]) — the
    * production form: the coarse scan reads `m` BYTES per corpus row
    * (never the vector column — plan-pinned in LlmOpsSpec), scores by
    * ADC lookup, and the shared [[rerankStage]] fetches full vectors for
    * the candidate sliver only. Output is bit-identical to the inline
    * overload for codes stored from the same corpus and codebook
    * (summation order matches by construction; asserted in LlmOpsSpec).
    */
  def pqTopKStored(stored: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, codesCol: String,
      codebook: Array[Double], k: Int,
      m: Int = 8, ksub: Int = 16,
      nCandidates: Int = 50, rankRoundDp: Int = -1): DataFrame = {
    import graft.functions.PqExpressions.{pqAdcScore, pqAdcTable}
    requirePqCodes(stored, codesCol, m, ksub)
    val rankKey = rankRounder(rankRoundDp)
    val subDim = codebook.length / (m * ksub)
    val qTables = pqNormalize(queries, idCol, vecCol, "query")
      .select(col("query_id"),
        pqAdcTable(col("query_vec"), codebook, m, ksub, subDim).as("__adc"))
    val cq = stored.select(col(idCol).as("corpus_id"), col(codesCol).as("__codes"))
    val coarse = cq.crossJoin(broadcast(qTables))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        rankKey(pqAdcScore(col("__codes"), col("__adc"), ksub)).as("coarse_cos"))
    rerankStage(coarse, stored, queries, idCol, vecCol, k, nCandidates, rankKey)
      .withColumnRenamed("coarse_cos", "adc_dot")
  }

  /** The [[ivfQuantizedTopK]] composition at the PQ geometry — FAISS
    * IVF-PQ, the flagship production retrieval shape: ONE stored layout
    * carries the cell partition key AND the m-byte PQ codes, so a query
    * reads ~nProbe/nCells of the corpus (PartitionFilters via
    * [[pruneToCells]]) at m BYTES per row (the coarse scan never touches
    * the vector column), scores candidates by ADC lookup (m adds per
    * pair), and exact-reranks survivors from the probed cells only. Both
    * savings axes multiply: at the production 8×256 geometry with
    * nProbe/nCells = 1/64, the coarse pass reads corpus/64 rows × 8
    * bytes — four orders of magnitude under a full float scan.
    */
  def ivfPqTopK(stored: DataFrame, centroids: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, codesCol: String,
      codebook: Array[Double], k: Int,
      m: Int = 8, ksub: Int = 16, nProbe: Int = 4,
      nCandidates: Int = 50, rankRoundDp: Int = -1,
      clusterCol: String = "cluster_id", nCells: Int = -1): DataFrame = {
    import graft.functions.PqExpressions.{pqAdcScore, pqAdcTable}
    requirePqCodes(stored, codesCol, m, ksub)
    val rankKey = rankRounder(rankRoundDp)
    val subDim = codebook.length / (m * ksub)
    val q = assignCells(centroids, queries, idCol, vecCol, "query", nProbe, nCells)
      .pin(false) // probe pairs: consumed by the cell prune + join
    val probed = pruneToCells(stored, clusterCol, q.select(col("cluster_id")))
    val cq = probed.select(col(clusterCol).as("cluster_id"),
      col(idCol).as("corpus_id"), col(codesCol).as("__codes"))
    // ADC table over the NORMALIZED query (the PQ codebook space); the
    // probe assignment above used the raw vector (cosine is scale-free)
    val qs = q
      .withColumn("__qv", transform(col("query_vec"), x => x.cast("double")))
      .withColumn("__qnrm", vec_norm(col("__qv")))
      .withColumn("__qn", transform(col("__qv"), x => x / col("__qnrm")))
      .select(col("cluster_id"), col("query_id"),
        pqAdcTable(col("__qn"), codebook, m, ksub, subDim).as("__adc"))
    val coarse = cq.join(broadcast(qs), Seq("cluster_id"))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        rankKey(pqAdcScore(col("__codes"), col("__adc"), ksub)).as("coarse_cos"))
    // rerank fetches full vectors from the PROBED partitions only
    rerankStage(coarse, probed, queries, idCol, vecCol, k, nCandidates, rankKey)
      .withColumnRenamed("coarse_cos", "adc_dot")
  }

  /** Scalar-quantized retrieval (asymmetric SQ ANN): the coarse pass
    * scores the corpus's int8 codes — `floor(x/‖x‖·127 + 0.5)`, the v07
    * storage scheme — against the full-precision query, keeps
    * `nCandidates`, and exact float cosine reranks to top-k. The
    * per-vector scale cancels in cosine, so ranking the codes IS ranking
    * the dequantized vectors; the quantization error only perturbs
    * near-ties, which the rerank repairs.
    *
    * Scale shape: identical to [[twoStageTopK]] but the savings axis is
    * BYTES-PER-ELEMENT instead of dimensions. THIS overload derives the
    * codes on the fly (full-float scan — correctness/dev path); the
    * production path persists them once via [[withRetrievalColumns]] as a
    * BINARY column (one byte per element, 4× smaller than float32) and
    * calls the `codesCol` overload, whose coarse scan reads only the code
    * bytes. The two storage axes compose: prefix-slice the code column for
    * a 16× cheaper coarse scan.
    */
  def quantizedTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCandidates: Int = 50, rankRoundDp: Int = -1): DataFrame = {
    val rankKey = rankRounder(rankRoundDp)
    // the norm MUST be a separate column, not an expression inlined in the
    // transform lambda: HOF lambdas run interpreted, and an inlined
    // aggregate would re-fold the whole array PER ELEMENT — measured 3s →
    // 107s at 500k vectors before this split. vec_norm is the codegen'd
    // kernel with the same sequential fold order, so the quantized codes
    // are bit-identical.
    // floor() yields LONG; this on-the-fly path keeps the codes as doubles
    // holding integer values (bit-identical cosine to the byte path). The
    // persisted form is the BINARY column withRetrievalColumns writes,
    // consumed by the codesCol overload below
    val cq = corpus
      .select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
        vec_norm(col(vecCol)).as("nrm"))
      .select(col("corpus_id"),
        transform(col("cv"),
          x => floor(x.cast("double") / col("nrm") * 127 + 0.5).cast("double"))
          .as("cq"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val coarse = cq.crossJoin(broadcast(qv))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        rankKey(vec_cosine(col("cq"), col("query_vec"))).as("coarse_cos"))
    rerankStage(coarse, corpus, queries, idCol, vecCol, k, nCandidates, rankKey)
  }

  /** [[quantizedTopK]] over a PERSISTED int8 code column (see
    * [[withRetrievalColumns]]): the coarse stage scores the stored BINARY
    * codes directly — the byte-aware cosine kernel reads one byte per
    * element, so the coarse scan reads ~¼ of the float32 vector bytes and
    * never touches the vector column at all. Output is bit-identical to
    * the on-the-fly overload (same code values, same fold order).
    */
  def quantizedTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, codesCol: String, k: Int,
      nCandidates: Int, rankRoundDp: Int): DataFrame = {
    requireInt8Codes(corpus, codesCol)
    val rankKey = rankRounder(rankRoundDp)
    val cq = corpus.select(col(idCol).as("corpus_id"), col(codesCol).as("cq"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val coarse = cq.crossJoin(broadcast(qv))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        rankKey(vec_cosine(col("cq"), col("query_vec"))).as("coarse_cos"))
    rerankStage(coarse, corpus, queries, idCol, vecCol, k, nCandidates, rankKey)
  }

  /** The [[twoStageTopK]] × [[quantizedTopK]] COMPOSITION over the
    * persisted code column: the coarse stage scores only the first
    * `coarseDims` BYTES of the stored int8 codes (a `substring` of the
    * BINARY column) against the query's float prefix, then exact
    * full-dimension float rerank. At the default 16-of-64 dims the coarse
    * scan reads coarseDims/dim of ¼ of the float bytes — the "16×"
    * coarse scan SURVEY §8 advertises, now a real code path. Ranking the
    * code prefix is sound for the same reason v09 is: cosine normalizes
    * each side by its own prefix norm, so the stored full-vector scale
    * cancels; prefix truncation error is the v08 trade, quantization
    * error the v09 trade, and the full-precision rerank repairs both.
    */
  def twoStageQuantizedTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, codesCol: String, k: Int,
      coarseDims: Int = 16, nCandidates: Int = 50,
      rankRoundDp: Int = -1): DataFrame = {
    require(coarseDims > 0, s"coarseDims must be positive, got $coarseDims")
    requireInt8Codes(corpus, codesCol)
    val rankKey = rankRounder(rankRoundDp)
    val cPre = corpus.select(col(idCol).as("corpus_id"),
      substring(col(codesCol), 1, coarseDims).as("cpre"))
    val qPre = queries.select(col(idCol).as("query_id"),
      slice(col(vecCol), 1, coarseDims).as("qpre"))
    val coarse = cPre.crossJoin(broadcast(qPre))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        rankKey(vec_cosine(col("cpre"), col("qpre"))).as("coarse_cos"))
    rerankStage(coarse, corpus, queries, idCol, vecCol, k, nCandidates, rankKey)
  }

  /** LSH-bucketed approximate top-k: queries and corpus are bucketed by
    * `tables` independent sign-LSH codes; candidates = bucket collisions in
    * any table; exact cosine ranks the candidates. Recall rises with
    * `tables` and falls with `planes`; cost is (collisions × cosine) instead
    * of (corpus × queries).
    *
    * Contract: `idCol` must be UNIQUE in both inputs. Candidates dedup on
    * (query_id, corpus_id) before the vectors re-attach, so a duplicated
    * id would fan its candidate rows back out at the re-attach join.
    *
    * `planes = 0` (the default) auto-derives the plane count from the
    * corpus size via [[autoPlanes]] — the fixed-planes 10× candidate
    * cliff is opt-in only. Pass an explicit positive count to pin the
    * bucketing (replayable oracles do).
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      planes: Int = 0, tables: Int = 4, seed: Long = 7L, dim: Int = 64): DataFrame = {
    val nPlanes = resolvePlanes(planes, corpus)
    // bucket rows carry ONLY (id, bucket): a vector colliding in several
    // tables would otherwise drag `tables` copies of both embeddings through
    // the dedup exchange; ids dedup first, vectors re-attach exactly once
    // (the ivfTopK pattern)
    def bucketize(df: DataFrame, side: String): DataFrame =
      df.select(col(idCol).as(s"${side}_id"),
        explode(lshBuckets(col(vecCol), nPlanes, tables, seed, dim)).as("bucket"))
    val c = bucketize(corpus, "corpus")
    val q = bucketize(queries, "query")
    val candidates = c.join(q, Seq("bucket"))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"))
      .dropDuplicates("query_id", "corpus_id")
    val cv = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("corpus_vec"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    candidates
      .join(qv, Seq("query_id"))
      .join(cv, Seq("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        vec_cosine(col("corpus_vec"), col("query_vec")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }
}
