package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.Pinned
import graft.Pinned.PinSyntax
import graft.schema.GraphSchema.{DstCol, IdCol, SrcCol}

/** Iterative analytics over a PropertyGraph (SURVEY.md §2 "multi-hop graph
  * traversal at scale" + Phase 4). Each algorithm has one kernel, keyed on
  * longs, with a measured driver-local regime and a distributed one.
  * [[graft.Regime]] chooses between them against the caps kept here:
  *
  *  - reachability and hop distance ([[relatedN]], [[hopDistance]]) and
  *    weighted SSSP ([[weightedDistance]]) run on [[weightedDistanceLong]]:
  *    a frontier Bellman-Ford on DataFrames, driver-local while the
  *    probed frontier stays small;
  *  - connected components ([[connectedComponents]], g05, `Dedup.clusters`)
  *    run on [[connectedComponentsLong]]: union-find on the driver up to
  *    [[LocalClustersMaxPairs]] edges, GraphX connected components past it;
  *  - PageRank ([[pageRankFixedPoint]]) runs on [[pageRankFixedPointLong]]:
  *    exact-integer iterations over primitive arrays on the driver, or a
  *    broadcast-join DataFrame loop;
  *  - triangle counting ([[triangleCount]]) runs on [[triangleCountEdges]]:
  *    a bounded 2-join DataFrame plan, not an iteration.
  *
  * Projection contract: string node ids get COLLISION-FREE vertex id longs
  * via a dictionary (`monotonically_increasing_id`), pinned with
  * localCheckpoint so every consumer (per-relation edge joins, the result
  * join) sees the same assignment. A content hash (xxhash64) would be
  * cheaper — no dictionary joins — but carries a ≈2.7% birthday-collision
  * chance at 10^9 nodes, and a collision silently MERGES two vertices,
  * corrupting every downstream algorithm; the dictionary makes that
  * unrepresentable. Results always travel back through the dictionary as
  * (label, original id), never raw vids, so the run-dependent numbering is
  * invisible to callers.
  *
  * Pin contract: every entry runs in a [[graft.Pinned.scope]], so on
  * every exit path — a throw included — it frees each scratch pin its
  * result cannot reach. Entries return a materialized result;
  * `graft.Pinned.free(result)` then releases everything the call left in
  * the block manager.
  */
object GraphAlgos {

  /** The pinned node dictionary (nid, nlabel, vid) over every node table,
    * and the selected relations' edges (all of them when `relations` is
    * empty) encoded to (src, dst) vids — lazy, over the dictionary.
    */
  private def encode(g: PropertyGraph, relations: Seq[String])
      : (DataFrame, DataFrame) = {
    val rels = if (relations.isEmpty) g.schema.relationDefs.map(_.name) else relations
    val dict = g.nodeTables.toSeq.map { case (label, df) =>
      df.select(col(IdCol).as("nid"), lit(label).as("nlabel"))
    }.reduce(_ unionByName _)
      .withColumn("vid", monotonically_increasing_id())
      // pin: the id expression is partition-dependent; without the
      // checkpoint, AQE could re-evaluate the plan with different
      // partitioning per consumer and hand the edge joins different
      // numberings
      .pin(true)
    val edges = rels.map { r =>
      g.edgeTables(r)
        .join(dict.select(col("nid").as(SrcCol), col("vid").as("svid")), Seq(SrcCol))
        .join(dict.select(col("nid").as(DstCol), col("vid").as("dvid")), Seq(DstCol))
        .select(col("svid").as("src"), col("dvid").as("dst"))
    }.reduce(_ unionByName _)
    (dict, edges)
  }

  /** Distances from `startId` over dictionary-encoded (src, dst, weight)
    * edges: [[weightedDistanceLong]] joined back to the dictionary,
    * materialized. Returns (vid, dist, every dict column); an unknown
    * start throws.
    */
  private def distancesFrom(dict: DataFrame, edges: DataFrame, startId: String,
      maxIters: Int, directed: Boolean, caller: String): DataFrame = {
    val start = dict.where(col("nid") === startId)
      .select(col("vid")).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        s"$caller: unknown start node '$startId'"))
      .getLong(0)
    // every round probes the edges: encode them once, not per round
    val pinnedEdges = edges.pin(false)
    weightedDistanceLong(pinnedEdges, start, maxIters, directed)
      .join(dict, Seq("vid")).pin(true)
  }

  /** Unit-weight distances as (label, id, hops) — the shared body of
    * [[relatedN]] and [[hopDistance]].
    */
  private def hops(dict: DataFrame, edges: DataFrame, startId: String,
      maxHops: Int, directed: Boolean, caller: String): DataFrame =
    distancesFrom(dict, edges.withColumn("weight", lit(1.0)), startId, maxHops,
      directed, caller)
      .select(col("nlabel").as("label"), col("nid").as(IdCol),
        col("dist").cast("int").as("hops"))

  /** All nodes within `depth` hops of `startId` following `relation`
    * (directed, an inverse name walks the stored edges backwards) as
    * (label, id, hops), start excluded — unit-weight directed
    * [[weightedDistanceLong]]; the unbounded-depth generalization of
    * Traversal.related chains (reference: concatMapM getRelated,
    * app/Main.hs:152-156).
    */
  def relatedN(g: PropertyGraph, relation: String, startId: String, depth: Int)
      : DataFrame = Pinned.scope {
    val ref = g.schema.relation(relation)
    val (dict, stored) = encode(g, Seq(ref.rel.name))
    val edges =
      if (ref.reversed) stored.select(col("dst").as("src"), col("src").as("dst"))
      else stored
    hops(dict, edges, startId, depth, directed = true, "relatedN")
      .where(col("hops") > 0)
  }

  /** UNDIRECTED hop distance from `startId` over the selected relations:
    * unit-weight undirected [[weightedDistanceLong]], `maxHops` bounding
    * the rounds — returns (label, id, hops) for every node settled within
    * the bound, seed included at 0.
    */
  def hopDistance(g: PropertyGraph, startId: String, maxHops: Int,
      relations: Seq[String] = Seq.empty): DataFrame = Pinned.scope {
    val (dict, edges) = encode(g, relations)
    hops(dict, edges, startId, maxHops, directed = false, "hopDistance")
  }

  /** Bounded weighted single-source shortest paths over an explicit
    * weighted edge list (src, dst, weight) — distances are the minimum
    * path weight reachable in at most `maxIters` edges, treating each
    * listed edge as undirected (the hopDistance convention). Parallel
    * edges are legal (bag semantics); the min fold absorbs them.
    *
    * Bounding the rounds (rather than running to fixpoint) both caps the
    * cost on high-diameter graphs and makes the result replayable by a
    * bounded recursive-CTE oracle (g10), the same contract as the BFS
    * layers (g07). The dictionary here spans the edge endpoints only.
    */
  def weightedDistance(edges: DataFrame, startId: String, maxIters: Int)
      : DataFrame = Pinned.scope {
    val dict = edges.select(col("src").as("nid"))
      .unionByName(edges.select(col("dst").as("nid")))
      .distinct()
      .withColumn("vid", monotonically_increasing_id())
      .pin(true)
    val enc = edges
      .join(dict.select(col("nid").as("src"), col("vid").as("svid")), Seq("src"))
      .join(dict.select(col("nid").as("dst"), col("vid").as("dvid")), Seq("dst"))
      .select(col("svid").as("src"), col("dvid").as("dst"), col("weight"))
    distancesFrom(dict, enc, startId, maxIters, directed = false, "weightedDistance")
      .select(col("nid").as(IdCol), col("dist"))
  }

  /** Largest frontier (rows) the SSSP relaxation broadcasts: a frontier
    * of 2M (vid, dist) pairs is ~32 MB — the broadcast-hash-join cost
    * class. Beyond it the round falls back to a shuffle join (a frontier
    * that wide is a meaningful fraction of the vertex set, where the
    * shuffle is the right plan anyway). [[graft.Regime]] makes the choice.
    */
  private[graft] val BroadcastFrontierMaxRows = 2_000_000L

  /** Widest frontier (distinct vertices) the LOCAL relaxation path will
    * probe, and the most slice rows one probe may collect. A bounded
    * k-hop traversal from one source usually touches a driver-trivial
    * neighborhood (g10 at sf1: frontiers of 16/63/1874 rows), yet the
    * distributed loop pays ~3 jobs of scheduler floor PER ROUND moving
    * them — measured at sf1 as ~1.3 s/round on a 2.3 s query. The caps
    * are enforced by PROBING, not estimated a priori: each round's
    * adjacency slice is counted before it is collected, and the local
    * path bails to the distributed loop the moment either cap is
    * exceeded, so no degree statistic has to be trusted and the driver
    * never holds more than `maxIters × rowCap` rows. At 100 TB the caps are what keep this
    * safe: a hub vertex blows the row probe, a broad frontier blows the
    * vertex cap, and either way the distributed plan takes over.
    */
  private[graft] val LocalFrontierVertexCap = 8192
  private[graft] val LocalSliceRowCap = 1_000_000

  /** Driver-local bounded Bellman-Ford over probed adjacency slices —
    * EXACTLY the distributed loop's round semantics (candidates use the
    * frontier's round-START distances, strict improvement only), so
    * after round k, dist(v) is the min path weight over ≤k edges.
    * Returns None (caller falls back to the distributed loop, no state
    * carried over) when a round's frontier exceeds `vertexCap` or its
    * touched-edge count exceeds `rowCap` (arguments, so GraphSpec can
    * force a mid-run bail at cap 1; `Regime.atScale` bails at round 0).
    *
    * Job shape per round: ONE filtered count + ONE bounded collect over
    * the FORWARD edge frame (`src ∈ F`, plus `dst ∈ F` when undirected,
    * both directions expanded driver-side) — not `limit(cap).collect()`,
    * whose CollectLimit executeTake schedules sequential partition WAVES
    * (1, 4, 16… partitions per job: measured 5.1s for g10 at sf1 vs
    * 2.0s for count-then-collect), and not the flipped union, which
    * scans the source twice per round. The count guard runs BEFORE any
    * rows move, so a hub frontier bails having transferred nothing.
    */
  private[graft] def localRelax(fwd: DataFrame, start: Long, maxIters: Int,
      directed: Boolean, vertexCap: Int, rowCap: Int)
      : Option[Seq[(Long, Double)]] = {
    val dist = scala.collection.mutable.HashMap(start -> 0.0)
    var frontier: Set[Long] = Set(start)
    var i = 0
    while (i < maxIters && frontier.nonEmpty) {
      if (!graft.Regime.fits(frontier.size, vertexCap)) return None
      // isInCollection compiles to InSet past the literal threshold
      val outgoing = col("src").isInCollection(frontier)
      val matched = fwd.where(
        if (directed) outgoing else outgoing || col("dst").isInCollection(frontier))
      if (!graft.Regime.fits(matched.count(), rowCap)) return None
      val slice = matched.collect()
      // round-start snapshot: a vertex improved THIS round must not
      // relax further edges until the NEXT round, or dist(v) after k
      // rounds would cover >k-edge walks and diverge from the
      // distributed loop (and the bounded recursive-CTE oracle)
      val fdist = frontier.iterator.map(v => v -> dist(v)).toMap
      val improved = scala.collection.mutable.Set.empty[Long]
      def relax(from: Long, to: Long, w: Double): Unit =
        fdist.get(from).foreach { d0 =>
          val cand = d0 + w
          if (cand < dist.getOrElse(to, Double.PositiveInfinity)) {
            dist(to) = cand
            improved += to
          }
        }
      slice.foreach { r =>
        val s = r.getLong(0); val d = r.getLong(1); val w = r.getDouble(2)
        relax(s, d, w) // stored direction
        if (!directed) relax(d, s, w) // traversed backwards
      }
      frontier = improved.toSet
      i += 1
    }
    Some(dist.toSeq)
  }

  /** Long-keyed core of [[weightedDistance]], [[hopDistance]] and
    * [[relatedN]]: edges (src, dst, weight) with long vertex ids, returns
    * (vid, dist). `directed` relaxes each edge along its stored direction
    * only; undirected (the default) relaxes it both ways. When the vertex
    * key space is already numeric — or arithmetically encodable, e.g.
    * `key * #kinds + kind` over a few node labels — calling this directly
    * skips the string dictionary entirely (measured at sf0.1: the dict
    * distinct + two encode joins on 765k string ids cost ~6s of g10's
    * 7.5s).
    *
    * Implementation (round 12): FRONTIER Bellman-Ford on DataFrames, not
    * a GraphX Pregel — a bounded traversal from one source touches a
    * k-hop neighborhood, and materializing a whole persisted GraphX graph
    * (7.5M edges at sf1) to move a few thousand frontier rows was 85% of
    * g10's runtime. Each round joins the (tiny, checkpointed) frontier
    * against the edge scan — broadcast while it fits, shuffle beyond
    * [[BroadcastFrontierMaxRows]] — takes the per-vertex min of the
    * candidate relaxations (a codegen'd map-combined agg: parallel edges'
    * bag semantics are absorbed map-side), and keeps only IMPROVED
    * distances as the next frontier, so settled regions send nothing.
    * After round k, dist(v) is the min path weight over ≤k edges (when
    * undirected, each edge relaxes both ways via the union'd flip) — with
    * unit weights, exactly BFS layers. Early-exits when a round improves
    * nothing. The start vertex is reported at distance 0 whether or not
    * it occurs in the edge list (the string-keyed wrapper rejects unknown
    * starts at the dictionary).
    */
  def weightedDistanceLong(edges: DataFrame, start: Long, maxIters: Int,
      directed: Boolean = false): DataFrame = Pinned.scope {
    val spark = edges.sparkSession
    import spark.implicits._
    val fwd = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("weight").cast("double").as("weight"))
    val relaxed =
      if (directed) fwd
      else fwd.unionByName(fwd.select(
        col("dst").as("src"), col("src").as("dst"), col("weight")))
    // tiny-frontier fast path: one probed scan per round instead of
    // join+agg+checkpoint+count jobs; bails (None) past either cap and
    // the distributed loop below runs from scratch — GraphSpec pins the
    // threshold-invariance law (same answer at scale / caps 1 / default)
    localRelax(fwd, start, maxIters, directed, LocalFrontierVertexCap,
        LocalSliceRowCap) match {
      case Some(d) => return d.toDF("vid", "dist")
      case None => ()
    }
    var dist = Seq((start, 0.0)).toDF("vid", "dist").pin(true)
    var frontier = dist
    var frontierRows = 1L
    var i = 0
    var settled = false
    // Every round pins `improved` and the rebuilt `dist`: the scope would
    // hold a k-round run's 2k frontier-sized block sets to its exit, so
    // each round's scratch is freed early, as soon as the frame that
    // supersedes it is materialized. localCheckpoint
    // (vs persist) also truncates lineage, so round k's plan never grows
    // with k; the non-fault-tolerance trade (an executor loss mid-run
    // fails the job instead of recomputing) is accepted for a bounded
    // k-hop traversal whose rounds are seconds, not hours.
    while (i < maxIters && !settled) {
      val fr = frontier.select(col("vid").as("src"), col("dist").as("fdist"))
      val joined =
        if (graft.Regime.fits(frontierRows, BroadcastFrontierMaxRows))
          relaxed.join(broadcast(fr), Seq("src"))
        else relaxed.join(fr, Seq("src"))
      val msgs = joined
        .select(col("dst").as("vid"), (col("fdist") + col("weight")).as("cand"))
        .groupBy(col("vid")).agg(min(col("cand")).as("cand"))
      val improved = msgs
        .join(dist.select(col("vid"), col("dist").as("old")), Seq("vid"), "left")
        .where(col("old").isNull || col("cand") < col("old"))
        .select(col("vid"), col("cand").as("dist"))
        .pin(true)
      frontierRows = improved.count()
      if (frontierRows == 0L) settled = true
      else {
        val prevDist = dist
        val prevFrontier = frontier
        dist = dist.join(improved.select(col("vid")), Seq("vid"), "left_anti")
          .unionByName(improved)
          .pin(true)
        // new dist is materialized (eager): its inputs can go. The
        // previous frontier IS round i-1's `improved` — releasing it here
        // (not at reassignment) keeps it alive through the join above.
        Pinned.free(prevDist)
        if (prevFrontier ne prevDist) Pinned.free(prevFrontier)
        frontier = improved
      }
      i += 1
    }
    dist
  }

  /** Most edges [[connectedComponentsLong]] labels driver-locally: 2^20
    * pairs ≈ tens of MB boxed on an 8g driver (the BandedBroadcastMaxRows
    * comfort bound), and a dup-pair graph that large already implies a
    * corpus far past gate scale — past it, GraphX owns the job.
    */
  private[graft] val LocalClustersMaxPairs = 1L << 20

  /** Connected components over undirected long-keyed edges (src, dst):
    * returns (vid, component) for every edge endpoint, where component is
    * the MIN vid of its component — deterministic, and exactly GraphX
    * connectedComponents' label. The one CC kernel: [[connectedComponents]],
    * g05 and `Dedup.clusters` all call it.
    *
    * Dispatch on the EXACT edge count, read off the input pinned once
    * (lazy localCheckpoint) so both regimes consume the same blocks:
    *  - ≤ [[LocalClustersMaxPairs]]: union-find on the driver, one pass, zero Spark
    *    jobs past the count and the block-read collect (measured sf0.1
    *    interleaved: 0.16-0.6s vs GraphX's 0.6-2.1s for t12's pairs);
    *  - past it: GraphX connected components, whose Pregel supersteps
    *    reuse one edge partitioning across the unbounded-diameter
    *    iteration (a DataFrame self-join per hop would shuffle each time).
    * The pin is probed with count(), not `limit(cap+1).collect()` on the
    * unpinned frame: executeTake's incremental partition rounds re-ran the
    * pair-generating join at trickle parallelism (t12 at sf1: 22.0s vs
    * 7.1s). LlmOpsSpec pins local ≡ distributed (default vs
    * [[graft.Regime.atScale]]).
    */
  def connectedComponentsLong(edges: DataFrame): DataFrame = Pinned.scope {
    val spark = edges.sparkSession
    import spark.implicits._
    val pinned = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].pin(false)
    if (graft.Regime.fits(pinned.count(), LocalClustersMaxPairs))
      unionFind(pinned.collect()).toDF("vid", "component")
    else graphxComponents(pinned)
  }

  /** Union-find over driver-resident edges: (vid, min vid of its
    * component) for every endpoint.
    */
  private def unionFind(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long](edges.length * 2)
    def find(x: Long): Long = { // path-halving iterative find
      var r = x
      while (parent.get(r) != r) {
        val g = parent.get(parent.get(r))
        parent.put(r, g)
        r = g
      }
      r
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      // union toward the smaller root: roots stay the component min id,
      // so labels need no second normalization pass
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.toSeq.map(v => (v, find(v)))
  }

  /** The distributed [[connectedComponentsLong]] regime: GraphX CC over
    * the pinned edges, materialized, then every RDD GraphX cached on the
    * way freed.
    */
  private def graphxComponents(pinned: Dataset[(Long, Long)]): DataFrame = {
    val spark = pinned.sparkSession
    import spark.implicits._
    // CC supersteps pay per-partition task overhead EVERY iteration; the
    // edge set (a dup-pair set for Dedup) is orders smaller than its
    // parent join's partitioning, so merge partitions 8:1 — BUT only
    // behind a stage boundary. A shuffle-FREE coalesce chains parent
    // partitions into fewer tasks all the way back to the previous
    // exchange, so a bare `coalesce(n/8)` silently ran the pair-GENERATING
    // join itself at 1/8 parallelism (v12's within-cell cosine stage:
    // 4.3→7.5s sf1). shuffle=true keeps the merge: its map side runs at
    // full width and the exchange moves only the edges.
    val raw = pinned.rdd
    val edges = raw.coalesce(math.max(1, raw.getNumPartitions / 8), shuffle = true)
    val cc = org.apache.spark.graphx.Graph.fromEdgeTuples(edges, defaultValue = 0)
      .connectedComponents()
    val out = cc.vertices.toDF("vid", "component").pin(true)
    // GraphX caches every graph it builds at MEMORY_AND_DISK and, past
    // Pregel's own bookkeeping, never frees the last ones: left alone, each
    // call leaves a graph-sized block-manager footprint behind (at sf1,
    // back-to-back calls degraded from seconds to minutes). The result is
    // materialized, so the whole cached lineage can go.
    Pinned.freeLineage(Seq(cc.vertices, cc.edges))
    out
  }

  /** Connected components over selected relations; returns (label, id,
    * component_id) where component_id is the MIN ORIGINAL node id in the
    * component — deterministic and meaningful to callers, unlike the
    * internal (run-dependent) vids. Nodes the relations never touch are
    * singleton components.
    */
  def connectedComponents(g: PropertyGraph, relations: Seq[String] = Seq.empty)
      : DataFrame = Pinned.scope {
    val (dict, edges) = encode(g, relations)
    val cc = connectedComponentsLong(edges)
    val comps = dict.join(cc, Seq("vid"), "left")
      .select(col("nlabel").as("label"), col("nid").as(IdCol),
        coalesce(col("component"), col("vid")).as("comp"))
    val names = comps.groupBy(col("comp"))
      .agg(min(col(IdCol)).as("component_id"))
    comps.join(names, "comp")
      .select(col("label"), col(IdCol), col("component_id"))
      .pin(true)
  }

  /** Widest vertex set whose per-iteration rank contributions broadcast:
    * 8M (vid, contrib) long pairs ≈ 128 MB raw — the upper end of a
    * comfortable repeated broadcast. Under it, each PageRank iteration
    * is ONE edge-scan join against a broadcast rank map plus a
    * map-combined vertex-sized aggregation — the 7.5M-edge table never
    * shuffles. Past it the contribution frame falls back to a shuffle
    * join (vertex-sized exchanges; the edge table, checkpointed once,
    * still never re-materializes).
    */
  private[graft] val PageRankBroadcastMaxVerts = 8_000_000L

  /** Largest long-encoded edge list / vertex set the PageRank fixed
    * point iterates DRIVER-LOCALLY (the g10 localRelax precedent): the
    * iteration working set for a bounded graph is the whole (already
    * dictionary-encoded) edge list — 16M (src, dst) long pairs ≈ 256 MB
    * collected once — and 25 exact integer iterations over primitive
    * arrays cost ~1s where each distributed iteration pays a broadcast
    * build + a multi-stage job (measured at sf1, 7.5M edges: 58s
    * distributed-DF, 81s the round-14 RDD joins, 6s local — DuckDB's
    * in-process recursive CTE needs 17s). Both caps are enforced on
    * EXACT checkpointed counts; past either, the DataFrame loop below
    * runs — at 100 TB vertex/edge sets blow the caps and the broadcast
    * (or shuffle) plan takes over. GraphSpec pins local ≡ distributed
    * bit-exactly (the integer arithmetic makes the law exact, not
    * approximate).
    */
  private[graft] val PageRankLocalMaxEdges = 16_000_000L
  private[graft] val PageRankLocalMaxVerts = 4_000_000L

  /** Open-addressing long→int map (linear probe, power-of-two table) —
    * the driver-local graph kernels remap sparse vids to dense indices
    * over MILLIONS of keys, where java.util.HashMap's per-entry boxing
    * measured 1.6s (and a matching GC bill charged to the NEXT bench
    * query) at 9.35M puts+gets. Keys must be distinct (vertex ids are).
    */
  private[graph] final class LongIntMap(expected: Int) {
    private val cap = java.lang.Integer.highestOneBit(
      math.max(16, expected * 2) - 1) << 1
    private val keys = new Array[Long](cap)
    private val vals = new Array[Int](cap)
    private val used = new Array[Boolean](cap)
    private val mask = cap - 1
    def put(k: Long, v: Int): Unit = {
      var i = (scala.util.hashing.byteswap64(k) & mask).toInt
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      keys(i) = k; vals(i) = v; used(i) = true
    }
    /** -1 when `k` was never put — the probe stops at the first unused
      * slot instead of spinning past it (an absent key used to livelock
      * the driver; vals are dense non-negative indices, so -1 is free).
      */
    def get(k: Long): Int = {
      var i = (scala.util.hashing.byteswap64(k) & mask).toInt
      while (used(i)) {
        if (keys(i) == k) return vals(i)
        i = (i + 1) & mask
      }
      -1
    }
  }

  /** Driver-local exact-integer PageRank over the collected long-keyed
    * vertex + edge arrays — primitive end to end, identical truncating
    * arithmetic to the distributed loop (bit-exact by the GraphSpec
    * law). Bounded by the caller's caps BEFORE anything is collected.
    * Returns the rank array aligned with `verts` — or null when an edge
    * endpoint is absent from `verts` (dangling edge): the distributed
    * loop tolerates that input (dangling dst drops out of the left
    * join; dangling src contributes nothing), so the caller bails to it
    * rather than diverging local vs distributed semantics.
    */
  private def pageRankLocal(verts: Array[Long], srcs: Array[Long],
      dsts: Array[Long], iters: Int, scale: Long, baseRank: Long)
      : Array[Long] = {
    val n = verts.length
    val idx = new LongIntMap(n)
    var i = 0
    while (i < n) { idx.put(verts(i), i); i += 1 }
    val m = srcs.length
    val src = new Array[Int](m); val dst = new Array[Int](m)
    i = 0
    while (i < m) {
      src(i) = idx.get(srcs(i))
      dst(i) = idx.get(dsts(i))
      if (src(i) < 0 || dst(i) < 0) return null // dangling edge → bail
      i += 1
    }
    val deg = new Array[Long](n)
    i = 0; while (i < m) { deg(src(i)) += 1L; i += 1 }
    val rank = Array.fill(n)(scale)
    val contrib = new Array[Long](n)
    val acc = new Array[Long](n)
    var it = 0
    while (it < iters) {
      var v = 0
      while (v < n) {
        contrib(v) = if (deg(v) > 0L) rank(v) / deg(v) else 0L
        acc(v) = 0L
        v += 1
      }
      var e = 0
      while (e < m) { acc(dst(e)) += contrib(src(e)); e += 1 } // exact: longs commute
      v = 0
      while (v < n) { rank(v) = baseRank + (85L * acc(v)) / 100L; v += 1 }
      it += 1
    }
    rank
  }

  /** Long-keyed core of [[pageRankFixedPoint]] (the weightedDistanceLong
    * pattern): `verts` is the full vertex-id set (isolated vertices rank
    * at the base), `edges` the directed (src, dst) pairs. When the key
    * space is arithmetically encodable the caller skips the string
    * dictionary entirely — at sf1 the dict distinct + two encode joins
    * on 765k string ids were ~14s of g06's 21.9s. Returns
    * (vid, rank_nano); dispatches local vs distributed on exact counts.
    */
  def pageRankFixedPointLong(verts: DataFrame, edges: DataFrame, iters: Int,
      scale: Long = 1000000000L): DataFrame = Pinned.scope {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val spark = verts.sparkSession
    import spark.implicits._
    val vv = verts.select(col(verts.columns.head).cast("long").as("vid"))
      .pin(true)
    val ee = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .pin(true)
    val nVerts = vv.count()
    val nEdges = ee.count() // exact, over materialized blocks
    val baseRank = (15L * scale) / 100L
    if (graft.Regime.fits(nEdges, PageRankLocalMaxEdges) &&
        graft.Regime.fits(nVerts, PageRankLocalMaxVerts)) {
      // primitive Array[Long] collects, no boxed rows or tuples (the
      // Tuple2 form measured 1.7s + a GC bill charged to the NEXT bench
      // query). src and dst collect as two narrow projections of the
      // SAME materialized (localCheckpoint'd) blocks — no shuffle, no
      // reorder, so the two arrays align row for row.
      val vArr = vv.as[Long].collect()
      val sArr = ee.select(col("src")).as[Long].collect()
      val dArr = ee.select(col("dst")).as[Long].collect()
      assert(sArr.length == dArr.length)
      val rank = pageRankLocal(vArr, sArr, dArr, iters, scale, baseRank)
      if (rank != null) {
        // early: the result build below reads neither
        Seq(vv, ee).foreach(Pinned.free)
        // result via broadcast arrays + a distributed index map — not a
        // LocalRelation (re-encodes vertex-sized rows on the driver and
        // ships them inside every downstream task binary) and not
        // parallelize (serializes the rows from the driver per execution).
        // Checkpointed EAGERLY so the broadcasts can be destroyed right
        // here: left lazy, the closure pins both arrays (plus their
        // broadcast block copies) for the result's lifetime, and that
        // lingering state bills the NEXT query — the round-15 committed
        // pairs charged g09 +0.6s for g06's residue (6.25s vs 4.78s
        // isolated in the tight g-block A/B; the canon.count() probe
        // itself measured free).
        val bcV = spark.sparkContext.broadcast(vArr)
        val bcR = spark.sparkContext.broadcast(rank)
        val localOut = spark.range(vArr.length)
          .map(i => (bcV.value(i.toInt), bcR.value(i.toInt)))
          .toDF("vid", "rank_nano")
          .pin(true)
        bcV.destroy(); bcR.destroy()
        return localOut
      }
      // null = dangling edge (endpoint absent from verts). The joins
      // below tolerate exactly that input, so fall through — vv/ee pins
      // stay live for the distributed loop.
    }
    val degD = ee.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .pin(true) // vertex-sized, consumed every iteration
    var ranks = vv.select(col("vid"), lit(scale).as("rank"))
      .pin(true)
    for (_ <- 0 until iters) {
      // contributions: rank div outDeg per SOURCE vertex (vertex-sized;
      // vertices with no out-edges drop out — they send nothing)
      val send = ranks.join(degD, col("vid") === col("src"))
        .select(col("src"), expr("rank div d").as("c"))
      val sendSide =
        if (graft.Regime.fits(nVerts, PageRankBroadcastMaxVerts)) broadcast(send)
        else send
      // ONE pass over the static edge table; partial aggregation folds
      // the per-destination sum map-side before the vertex-sized shuffle
      val msgs = ee.join(sendSide, Seq("src"))
        .groupBy(col("dst").as("mvid")).agg(sum(col("c")).as("m"))
      val prev = ranks
      ranks = vv
        .join(msgs, col("vid") === col("mvid"), "left")
        .select(col("vid"),
          (lit(baseRank) + expr("(85 * coalesce(m, bigint(0))) div 100")).as("rank"))
        .pin(true) // materialize the step, then drop the last
      Pinned.free(prev)
    }
    ranks.select(col("vid"), col("rank").as("rank_nano")).pin(true)
  }

  /** FIXED-POINT static PageRank: ranks are Longs in 1/`scale` units,
    * messages are Longs, and every arithmetic step is integer
    * (`contrib = rank / outDeg`, `next = 0.15*scale + 85*Σcontrib/100`,
    * both truncating division). Integer sums are EXACT under any
    * accumulation order, so the result is bit-identical across partition
    * layouts, core counts, and engines — unlike a double-precision
    * PageRank, whose 4dp-rounded output can legally flip at a rank
    * boundary when partitioning changes the float accumulation order.
    * This is the variant a cross-engine replay oracle can verify exactly
    * (the g06 gate query replays it in a DuckDB recursive CTE), and the
    * variant to prefer whenever reproducibility matters more than the
    * last 1e-9 of rank mass.
    *
    * Quantization error vs float static PageRank is ≤ iters/scale per
    * vertex — at the default scale (1e-9 units) invisible at any sane
    * rounding. Overflow bound: 85 × (total rank mass ≈ V·scale) must fit
    * a Long, so at the default scale the graph can hold ~10^8 vertices;
    * pass a smaller `scale` (1e6) for billion-vertex graphs.
    *
    * Returns (label, id, rank_nano) with the raw fixed-point Long —
    * exact by construction; divide by `scale` for a float rank.
    */
  def pageRankFixedPoint(g: PropertyGraph, iters: Int = 25,
      relations: Seq[String] = Seq.empty, scale: Long = 1000000000L)
      : DataFrame = Pinned.scope {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // DataFrame loop, not RDD joins (round 15): the RDD formulation
    // shuffled 7.5M boxed tuples per iteration through Java-object
    // serde — measured 81s for 25 iterations at sf1. Codegen'd long
    // arithmetic with the edge table checkpointed once and the rank map
    // broadcast per iteration runs the same 25 exact iterations in ~9s.
    // Every arithmetic step stays truncating-integer (`div`), so the
    // bit-exactness contract (GraphSpec cross-engine golden + layout
    // independence) is unchanged.
    val (dict, edges) = encode(g, relations)
    val ranks = pageRankFixedPointLong(dict.select(col("vid")), edges,
      iters, scale)
    ranks.join(dict, Seq("vid"))
      .select(col("nlabel").as("label"), col("nid").as(IdCol), col("rank_nano"))
      // pin the (vertex-sized) result so the dict pin can be dropped
      // without the caller's lazy plan recomputing through it
      .pin(true)
  }

  /** Triangle count per node over an (undirected-ized, deduplicated)
    * relation set — (label, id, triangles).
    *
    * Deliberately NOT GraphX: triangle counting is a bounded 2-join
    * pattern, not an iterative fixpoint, so Catalyst + codegen is the
    * right engine (measured ~1.6× faster than `gx.triangleCount()` at
    * sf0.1, and the DataFrame plan gets AQE skew handling for free).
    * The classic wedge-explosion guard is degree-ordered orientation:
    * every undirected edge is directed toward its higher-(degree, id)
    * endpoint, which bounds out-degrees by O(√m), so the wedge self-join
    * generates O(m^1.5) candidates worst-case instead of Σ deg² around
    * hubs. Each triangle is found exactly once (at its lowest-order
    * vertex) and credited to all three corners.
    */
  def triangleCount(g: PropertyGraph, relations: Seq[String] = Seq.empty)
      : DataFrame = Pinned.scope {
    val rels = if (relations.isEmpty) g.schema.relationDefs.map(_.name) else relations
    val verts = g.nodeTables.toSeq.map { case (label, df) =>
      df.select(col(IdCol), lit(label).as("label"))
    }.reduce(_ unionByName _)
    // pinned: feeds both the dictionary build and the encode join — the
    // upstream edge union (for g09, a lineitem self-join projection) must
    // not run twice
    val raw = rels.map(r => g.edgeTables(r)
        .select(col(SrcCol).as("a"), col(DstCol).as("b")))
      .reduce(_ unionByName _)
      .pin(true)
    // dictionary-encode string ids to dense longs BEFORE the triangle
    // machinery: the O(Σ wedges) intersection work compares vertex ids
    // 41M+ times at sf0.1, and long compares beat string compares ~2.5×
    // end-to-end (measured 15.7s → 6s warm). Collision-free by
    // construction (same rationale as the node dictionary, [[encode]]).
    val dict = raw.select(explode(array(col("a"), col("b"))).as("nid"))
      .distinct()
      .withColumn("vid", monotonically_increasing_id())
      .pin(true)
    val pairs = raw
      .join(dict.select(col("nid").as("a"), col("vid").as("ua")), Seq("a"))
      .join(dict.select(col("nid").as("b"), col("vid").as("ub")), Seq("b"))
      .select(col("ua").as("u"), col("ub").as("v"))
    val perNode = triangleCountEdges(pairs)
    verts
      .join(dict.select(col("nid").as(IdCol), col("vid")), Seq(IdCol), "left")
      .join(perNode.select(col("vid"), col("n")), Seq("vid"), "left")
      .select(col("label"), col(IdCol),
        coalesce(col("n"), lit(0L)).cast("int").as("triangles"))
      .pin(true)
  }

  /** Most canonical edges the triangle adjacency will broadcast: the
    * oriented adjacency is exactly m longs plus per-vertex array
    * overhead, so 32M edges ≈ 256 MB raw (sub-GB materialized) — inside
    * any executor this engine targets, and far above the sf1 corpus
    * (7.5M). Past the bound the joins degrade gracefully to sort-merge
    * instead of OOMing a 100×-scale caller by default. The dispatch is
    * MEASURED on the exact checkpointed edge count (the t08/t33
    * size-conditioned-join precedent), never estimated, and
    * [[graft.Regime]] makes the choice.
    */
  private[graft] val BroadcastAdjacencyMaxEdges = 32_000_000L

  /** Long-keyed triangle core over raw (u, v) pairs — duplicates,
    * self-loops and both orientations tolerated (canonicalized + dedup'd
    * inside). Returns (vid, n) for every vertex in at least one triangle.
    *
    * The canonical pair set is pinned: it feeds THREE consumers (degrees,
    * orientation, the closing join) and without the checkpoint each one
    * would recompute the upstream union + distinct.
    *
    * Edge-iterator with out-neighbor intersection: for each DAG edge
    * (s, t), every common out-neighbor w closes the triangle s→t, s→w,
    * t→w — found exactly once, at the triangle's lowest-order edge.
    * This shape never materializes (or shuffles) the wedge set: the only
    * exchanges are the adjacency build + two joins keyed on a vertex id;
    * the O(Σ wedges) intersection work runs inside one codegen stage
    * (measured sf0.1: 41M wedges, 1.9M triangles, warm ~6s on long ids —
    * the wedge-join formulation shuffled all 41M wedge rows and ran
    * ~10s, as did GraphX, and the same plan on string ids ran ~16s;
    * DuckDB single-node needs 8.8s for the counts alone).
    */
  def triangleCountEdges(rawPairs: DataFrame): DataFrame = Pinned.scope {
    val canon = rawPairs
      .select(col("u").cast("long").as("a"), col("v").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
      .pin(true)
    // exact, cheap (canon is already materialized blocks), and decisive:
    // no optimizer size estimate exists for a checkpointed frame
    val doBroadcast = graft.Regime.fits(canon.count(), BroadcastAdjacencyMaxEdges)
    val degPlain = canon.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("deg"))
    // vertex-sized and strictly smaller than the adjacency (one long +
    // one count per vertex vs one long per edge), so it broadcasts
    // whenever the adjacency does — the derived frame has no stats, so
    // without the hint both orientation joins SHUFFLE the edge set
    // (measured sf1: 5.0s → broadcast 1.5s)
    val deg = if (doBroadcast) broadcast(degPlain) else degPlain
    // pinned: THREE consumers (adjacency build + both closing joins) —
    // unpinned, each would recompute the two degree joins above
    val dirE = canon
      .join(deg.select(col("x").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      .pin(true)
    // sorted adjacency: per-vertex O(d log d) at build time buys the
    // O(Σ wedges) closing stage a two-pointer merge instead of the
    // builtin array_intersect's per-row hash set (the merge inside
    // graft.functions.TriangleContribs; its equality with array_intersect
    // on this input shape is spec-pinned)
    val adjPlain = dirE.groupBy(col("s"))
      .agg(array_sort(collect_list(col("t"))).as("nbrs"))
      .pin(true)
    // broadcast the adjacency by default: a shuffled second join would
    // re-exchange join-1's output WITH the ns arrays attached — a
    // wedge-sized payload. The oriented adjacency is exactly m longs
    // (one per edge, out-degrees √m-capped), so it broadcasts far beyond
    // this corpus size; disable only when m longs exceed executor memory,
    // and the plan degrades gracefully to sort-merge.
    val adj = if (doBroadcast) broadcast(adjPlain) else adjPlain
    // per-vertex counts WITHOUT a 3-rows-per-triangle explode: an edge
    // (s, t) whose intersection has c closers contributes c to s and c
    // to t in one row each, and 1 to each closer w — 2·|closing edges| +
    // |triangles| exploded rows instead of 3·|triangles| + the wedge
    // stream, and the whole merge+emit is ONE codegen'd kernel
    // (TriangleContribs; non-closing edges emit an empty array that the
    // explode drops)
    val contribs = dirE
      .join(adj.select(col("s"), col("nbrs").as("ns")), Seq("s"))
      .join(adj.select(col("s").as("t"), col("nbrs").as("nt")), Seq("t"))
      .select(explode(graft.functions.TriangleContribs.triangleContribs(
        col("s"), col("t"), col("ns"), col("nt"))).as("e"))
    // materialize the vertex-sized result so the scope frees the three
    // edge-sized pins HERE: left lazy, canon/dirE/adjPlain stay live
    // until the caller's first action and then linger for the session —
    // at bench scale that residue billed the NEXT query (g10 runs right
    // after g09; the round-15 SURVEY traced its in-pair churn to exactly
    // this boundary)
    contribs
      .select(col("e.vid").as("vid"), col("e.c").as("c"))
      .groupBy(col("vid")).agg(sum(col("c")).as("n"))
      .pin(true)
  }
}
