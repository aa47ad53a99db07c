package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.PropertyGraph
import graft.schema._
import Tables.t

/** The graph engine exercised through the driver harness: the relational
  * tables projected as a property graph (customer —placed→ order —contains→
  * part), traversed with the PropertyGraph API, and checked against plain
  * join SQL — the "graph queries compile to joins, so they are
  * oracle-checkable" self-check of SURVEY.md §5.2.4. Plus the
  * `GraphAlgos` kernels: directed reachability (g04), connected
  * components with a deterministically labeled oracle (g05), integer
  * fixed-point PageRank replayed by a recursive-CTE oracle (g06),
  * undirected BFS layers replayed the same way (g07), triangle counting
  * over the part co-purchase projection with a 3-way-self-join oracle
  * (g09), and bounded weighted SSSP replayed by a weighted recursive-CTE
  * walk (g10).
  */
object GraphQueries {

  type Q = (SparkSession, String) => DataFrame

  // Arithmetic long encoding for the graph's node ids: id = key*4 + kind.
  // TPC-H keys are numeric with three labels, so the encode is one codegen'd
  // multiply at scan time and every traversal hop joins LONGS — long
  // compares beat string compares ~2.5× end-to-end on join-heavy plans
  // (measured: the GraphAlgos triangle dictionary; the old
  // `concat("c:", key)` string ids taxed every hop of every graph query,
  // g01 sf1 3.7s vs 0.14s join SQL). Display ids ('p:k') decode at the
  // projection edge only.
  private val CustKind = 0
  private val OrderKind = 1
  private val PartKind = 2

  /** Decode a long node id back to the display form ('p:123'). */
  private def decId(id: Column): Column =
    concat(
      when(id % 4 === CustKind, "c:")
        .when(id % 4 === OrderKind, "o:").otherwise("p:"),
      shiftright(id, 2))

  /** TPC-H star schema as a property graph, LONG-keyed (the scale form). */
  private[graft] def tpchGraph(s: SparkSession, dir: String): PropertyGraph =
    tpchGraphImpl(s, dir, longIds = true)

  /** String-keyed image ('c:1' prefixed natural keys) for the
    * PropertyGraph algorithm queries (g04/g07): `GraphAlgos` dictionary-
    * encodes node ids ONCE per run (not per hop), and their oracles
    * compare/order the string id form, so the string image is both cheap
    * and oracle-stable there. Traversal queries use the long-keyed
    * [[tpchGraph]].
    */
  private[queries] def tpchGraphStr(s: SparkSession, dir: String): PropertyGraph =
    tpchGraphImpl(s, dir, longIds = false)

  private def tpchGraphImpl(s: SparkSession, dir: String, longIds: Boolean)
      : PropertyGraph = {
    def nid(kind: Int, prefix: String, key: Column): Column =
      if (longIds) (key.cast("long") * 4 + kind).as(GraphSchema.IdCol)
      else concat(lit(prefix), key).as(GraphSchema.IdCol)
    val schema = GraphSchema(
      nodeDefs = Seq(
        NodeDef("Customer", Seq(
          AttrDef("name", org.apache.spark.sql.types.StringType),
          AttrDef("segment", org.apache.spark.sql.types.StringType))),
        NodeDef("Order", Seq(
          AttrDef("totalprice", org.apache.spark.sql.types.DoubleType),
          AttrDef("status", org.apache.spark.sql.types.StringType))),
        NodeDef("Part", Seq(
          AttrDef("name", org.apache.spark.sql.types.StringType),
          AttrDef("brand", org.apache.spark.sql.types.StringType)))),
      relationDefs = Seq(
        RelationDef("placed", "placedBy", "Customer", "Order",
          Cardinality.Many, Cardinality.One),
        RelationDef("contains", "containedIn", "Order", "Part")),
      idType =
        if (longIds) org.apache.spark.sql.types.LongType
        else org.apache.spark.sql.types.StringType)
    val c = t(s, dir, "customer").select(
      nid(CustKind, "c:", col("c_custkey")),
      col("c_name").as("name"), col("c_mktsegment").as("segment"))
    val o = t(s, dir, "orders").select(
      nid(OrderKind, "o:", col("o_orderkey")),
      col("o_totalprice").as("totalprice"), col("o_orderstatus").as("status"))
    val p = t(s, dir, "part").select(
      nid(PartKind, "p:", col("p_partkey")),
      col("p_name").as("name"), col("p_brand").as("brand"))
    val placed = t(s, dir, "orders").select(
      nid(CustKind, "c:", col("o_custkey")).as(GraphSchema.SrcCol),
      nid(OrderKind, "o:", col("o_orderkey")).as(GraphSchema.DstCol))
    val contains = t(s, dir, "lineitem").select(
      nid(OrderKind, "o:", col("l_orderkey")).as(GraphSchema.SrcCol),
      nid(PartKind, "p:", col("l_partkey")).as(GraphSchema.DstCol))
    PropertyGraph(schema.validated(),
      Map("Customer" -> c, "Order" -> o, "Part" -> p),
      Map("placed" -> placed, "contains" -> contains))
  }

  /** The s15 streaming-ingest split: the TPC-H graph with the LAST `n`
    * orders' `placed` edges withheld, plus those edges as the batch to
    * stream. Node tables stay complete (the stream adds edges only), and
    * the withheld set is by ORDER id — `shiftright(id, 2)` decodes the
    * arithmetic node encoding back to the key, so the cut is independent
    * of the kind tag.
    */
  private[graft] def tpchPlacedSplit(s: SparkSession, dir: String, n: Int)
      : (PropertyGraph, DataFrame) = {
    val g = tpchGraph(s, dir)
    // the cutoff is the nth-LARGEST actual o_orderkey, not max - (n-1):
    // TPC-H orderkeys are sparse (8 of every 32 populated), so a keyspace
    // arithmetic cut would withhold only ~n/4 real orders and the gate
    // would stream far less ingest volume than documented
    val split = t(s, dir, "orders")
      .select(col("o_orderkey")).orderBy(col("o_orderkey").desc)
      .limit(n).agg(min(col("o_orderkey"))).head().getLong(0)
    val placed = g.edgeTables("placed")
    val base = PropertyGraph(g.schema, g.nodeTables,
      g.edgeTables.updated("placed",
        placed.where(shiftright(col(GraphSchema.DstCol), 2) < split)))
    (base, placed.where(shiftright(col(GraphSchema.DstCol), 2) >= split))
  }

  // ------------------------------------------------------ 2-hop traversal
  // customer(BUILDING) →placed→ order →contains→ part, bag semantics: a part
  // appears once per (order, lineitem) path, exactly like the reference's
  // concatMapM traversal (app/Main.hs:152-156).
  private val g01: Q = (s, dir) =>
    tpchGraph(s, dir)
      .from("Customer")
      .filter(col("segment") === "BUILDING")
      .related("placed")
      .related("contains")
      .df.groupBy(col("name"))
      .agg(count(lit(1)).as("times_ordered"))

  private val g01Sql =
    """SELECT p_name AS name, count(*) AS times_ordered
       FROM customer
       JOIN orders ON o_custkey = c_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN part ON p_partkey = l_partkey
       WHERE c_mktsegment = 'BUILDING'
       GROUP BY p_name"""

  // --------------------------------------------- inverse-direction traversal
  // part ←contains← order ←placed← customer via the DERIVED inverse names:
  // proves the single-edge-table + projection design (SURVEY.md §1.4).
  private val g02: Q = (s, dir) =>
    tpchGraph(s, dir)
      .from("Part")
      .filter(col("brand") === "Brand#1")
      .related("containedIn")
      .related("placedBy")
      .df.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_paths"),
        countDistinct(col(GraphSchema.IdCol)).as("n_customers"))

  private val g02Sql =
    """SELECT c_mktsegment AS segment, count(*) AS n_paths,
       count(DISTINCT c_custkey) AS n_customers
       FROM part
       JOIN lineitem ON l_partkey = p_partkey
       JOIN orders ON o_orderkey = l_orderkey
       JOIN customer ON c_custkey = o_custkey
       WHERE p_brand = 'Brand#1'
       GROUP BY c_mktsegment"""

  // --------------------------------------------- multiset difference 2-hop
  // Parts BUILDING customers ordered, multiset-minus parts AUTOMOBILE
  // customers ordered — the relational image of the reference's flagship
  // `needed \\ available` (app/Main.hs:157): exceptAll, then count what
  // survives per part.
  private val g03: Q = (s, dir) => {
    val g = tpchGraph(s, dir)
    def partsOf(segment: String) =
      g.from("Customer").filter(col("segment") === segment)
        .related("placed").related("contains").ids
    // the multiset difference runs on LONG ids; decode to the display
    // form only for the surviving group keys
    partsOf("BUILDING").exceptAll(partsOf("AUTOMOBILE"))
      .groupBy(decId(col(GraphSchema.IdCol)).as("part_id"))
      .agg(count(lit(1)).as("surplus"))
  }

  private val g03Sql =
    """SELECT part_id, count(*) AS surplus FROM (
         SELECT 'p:' || l_partkey AS part_id
         FROM customer JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
         EXCEPT ALL
         SELECT 'p:' || l_partkey AS part_id
         FROM customer JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'AUTOMOBILE')
       GROUP BY part_id"""

  // ------------------------------- reachability (frontier Bellman-Ford)
  // Parts reachable one `contains` hop from order o:1 via directed
  // unit-weight BFS (GraphAlgos.relatedN on the SSSP core) — compared
  // against the join-based oracle (bounded depth is joinable; unbounded
  // depth is where the iterative kernel becomes the only plan; GraphSpec
  // covers a depth-2 walk).
  private val g04: Q = (s, dir) => {
    val g = tpchGraphStr(s, dir)
    graft.graph.GraphAlgos.relatedN(g, "contains", "o:1", 1)
      .select(col("id").as("part_id"), col("hops"))
  }

  private val g04Sql =
    """SELECT DISTINCT 'p:' || l_partkey AS part_id, 1 AS hops
       FROM lineitem WHERE l_orderkey = 1"""

  // ------------------------------------------ connected components (CC)
  // customer–nation–region membership graph: every region forms one
  // component; labeling each component by its MIN numeric vertex id makes
  // the output deterministic and joinable to plain SQL. Vertex ids:
  // region = r_regionkey (0-4, always the component min), nation = 100+key,
  // customer = 10000+key. The shared CC kernel (GraphAlgos.
  // connectedComponentsLong): union-find on the driver under its edge cap,
  // GraphX past it.
  private val g05: Q = (s, dir) => {
    val nation = t(s, dir, "nation")
    val edges = t(s, dir, "customer")
      .select((col("c_custkey") + 10000).cast("long").as("src"),
        (col("c_nationkey") + 100).cast("long").as("dst"))
      .unionByName(nation.select((col("n_nationkey") + 100).cast("long").as("src"),
        col("n_regionkey").cast("long").as("dst")))
    graft.graph.GraphAlgos.connectedComponentsLong(edges)
      .where(col("vid") >= 10000)
      .select((col("vid") - 10000).as("c_custkey"), col("component"))
  }

  private val g05Sql =
    """SELECT c_custkey, CAST(r_regionkey AS BIGINT) AS component
       FROM customer
       JOIN nation ON n_nationkey = c_nationkey
       JOIN region ON r_regionkey = n_regionkey"""

  // ------------------------------------------------------------ PageRank
  // Part importance over the customer→order→part graph, via the
  // FIXED-POINT static PageRank (GraphAlgos.pageRankFixedPoint): integer
  // ranks make the result bit-identical across partition layouts and
  // engines, so the oracle is a COMPUTED DuckDB recursive-CTE replay of
  // the same 25 power iterations — green at any SF, no golden pin. The
  // CTE keeps every node alive each iteration via zero-weight self-loops
  // (a node with no in-edges still re-ranks to 0.15), and duplicate
  // lineitem edges are kept — bag edges carry rank mass per occurrence,
  // exactly like the edge list the kernel iterates.
  private val g06Iters = 25
  private val g06: Q = (s, dir) => graft.Pinned.scope {
    // arithmetic vertex encoding (key * 4 + kind) into the long-keyed
    // core — the g10 rationale: the string dictionary's distinct + two
    // encode joins on 765k ids were ~14s of g06's 21.9s at sf1
    // (pageRankFixedPoint retains the dictionary path for opaque ids;
    // GraphSpec's golden exercises it). The tie-break decodes to the
    // SAME 'p:<key>' string the oracle orders by, so rank ties resolve
    // identically in both engines.
    val verts = t(s, dir, "customer").select((col("c_custkey") * 4).as("vid"))
      .unionByName(t(s, dir, "orders").select((col("o_orderkey") * 4 + 1).as("vid")))
      .unionByName(t(s, dir, "part").select((col("p_partkey") * 4 + 2).as("vid")))
    val edges = t(s, dir, "orders").select(
        (col("o_custkey") * 4).as("src"),
        (col("o_orderkey") * 4 + 1).as("dst"))
      .unionByName(t(s, dir, "lineitem").select(
        (col("l_orderkey") * 4 + 1).as("src"),
        (col("l_partkey") * 4 + 2).as("dst")))
    val top = graft.graph.GraphAlgos.pageRankFixedPointLong(verts, edges, iters = g06Iters)
      .where(col("vid") % 4 === 2)
      .select(concat(lit("p:"), expr("vid div 4")).as("part_id"),
        col("rank_nano"))
      .orderBy(col("rank_nano").desc, col("part_id"))
      .limit(20)
    // the 20-row answer travels as a driver-local frame, so the scope
    // frees the vertex-sized rank pin at exit
    s.createDataFrame(java.util.Arrays.asList(top.collect(): _*), top.schema)
  }

  private val g06Sql =
    s"""WITH RECURSIVE
       nodes AS (
         SELECT 'c:' || c_custkey AS id FROM customer
         UNION ALL SELECT 'o:' || o_orderkey FROM orders
         UNION ALL SELECT 'p:' || p_partkey FROM part),
       real_edges AS (
         SELECT 'c:' || o_custkey AS a, 'o:' || o_orderkey AS b FROM orders
         UNION ALL SELECT 'o:' || l_orderkey, 'p:' || l_partkey FROM lineitem),
       outdeg AS (
         SELECT n.id AS a, COALESCE(cnt.c, 0) AS d
         FROM nodes n LEFT JOIN
           (SELECT a, count(*) AS c FROM real_edges GROUP BY a) cnt
           ON cnt.a = n.id),
       edges2 AS (
         SELECT a, b, 1 AS w FROM real_edges
         UNION ALL SELECT id, id, 0 FROM nodes),
       pr(iter, node, rank) AS (
         SELECT 0, id, CAST(1000000000 AS BIGINT) FROM nodes
         UNION ALL
         SELECT p.iter + 1, e.b,
                CAST(150000000 +
                  (85 * SUM((p.rank // GREATEST(od.d, 1)) * e.w)) // 100
                  AS BIGINT)
         FROM pr p
         JOIN outdeg od ON od.a = p.node
         JOIN edges2 e ON e.a = p.node
         WHERE p.iter < $g06Iters
         GROUP BY p.iter, e.b)
       SELECT node AS part_id, rank AS rank_nano
       FROM pr WHERE iter = $g06Iters AND node LIKE 'p:%'
       ORDER BY rank DESC, node
       LIMIT 20"""

  // ------------------------------------------ undirected BFS layers (g07)
  // Unit-weight SSSP from customer c:0 over the whole star graph
  // (GraphAlgos.hopDistance on the frontier Bellman-Ford core), layers
  // summarized as (label, hops, n_nodes, min_id). Oracle = recursive-CTE
  // BFS over the same bidirectional edge set with min-hop dedup — exact,
  // because BFS layers are engine-independent.
  private val g07: Q = (s, dir) =>
    graft.graph.GraphAlgos.hopDistance(tpchGraphStr(s, dir), "c:0", maxHops = 3)
      .groupBy(col("label"), col("hops"))
      .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_id"))

  private val g07Sql =
    """WITH RECURSIVE edges AS (
         SELECT 'c:' || o_custkey AS a, 'o:' || o_orderkey AS b FROM orders
         UNION ALL SELECT 'o:' || o_orderkey, 'c:' || o_custkey FROM orders
         UNION ALL SELECT 'o:' || l_orderkey, 'p:' || l_partkey FROM lineitem
         UNION ALL SELECT 'p:' || l_partkey, 'o:' || l_orderkey FROM lineitem),
       bfs(node, hops) AS (
         SELECT 'c:0', 0
         UNION
         SELECT e.b, bfs.hops + 1 FROM bfs JOIN edges e ON e.a = bfs.node
         WHERE bfs.hops < 3),
       dist AS (SELECT node, CAST(min(hops) AS INT) AS hops FROM bfs GROUP BY node)
       SELECT CASE substr(node, 1, 1) WHEN 'c' THEN 'Customer'
                WHEN 'o' THEN 'Order' ELSE 'Part' END AS label,
              hops, count(*) AS n_nodes, min(node) AS min_id
       FROM dist GROUP BY 1, 2"""

  // ----------------------------------------- weighted shortest paths (g10)
  // Bounded weighted SSSP from c:0: customer→order edges weigh 1, an
  // order→part edge weighs its l_quantity (parallel lineitem edges kept —
  // bag semantics, the min fold absorbs them). Distances summarized as
  // (label, dist, n_nodes, min_id). All weights are integers, so path sums
  // are exact in double and the dist column casts to BIGINT — the oracle
  // replays ≤3-edge min-weight walks with a bounded recursive CTE (the g07
  // contract, weighted).
  private val g10: Q = (s, dir) => {
    // arithmetic vertex encoding (key * 4 + kind) instead of the string
    // dictionary: the key space is numeric with three labels, so the
    // long-keyed core applies directly — measured at sf0.1, the dict
    // distinct + encode joins on 765k string ids were ~6s of the 7.5s
    // total (weightedDistance retains the dictionary path for opaque ids;
    // GraphSpec exercises it)
    val edges = t(s, dir, "orders").select(
        (col("o_custkey") * 4).as("src"),
        (col("o_orderkey") * 4 + 1).as("dst"),
        lit(1.0).as("weight"))
      .unionByName(t(s, dir, "lineitem").select(
        (col("l_orderkey") * 4 + 1).as("src"),
        (col("l_partkey") * 4 + 2).as("dst"),
        col("l_quantity").cast("double").as("weight")))
    graft.graph.GraphAlgos.weightedDistanceLong(edges, start = 0L, maxIters = 3)
      .select(
        when(col("vid") % 4 === 0, "Customer")
          .when(col("vid") % 4 === 1, "Order")
          .otherwise("Part").as("label"),
        col("dist").cast("long").as("dist"),
        concat(
          when(col("vid") % 4 === 0, "c:")
            .when(col("vid") % 4 === 1, "o:").otherwise("p:"),
          // shiftright, not floor(vid / 4): double division is exact only
          // below 2^53 — the g06/tpchPlacedSplit decode rule (round 17
          // closes the last floor-decode the round-15 ADVICE named)
          shiftright(col("vid"), 2)).as("id"))
      .groupBy(col("label"), col("dist"))
      .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_id"))
  }

  private val g10Sql =
    """WITH RECURSIVE wedges AS (
         SELECT 'c:' || o_custkey AS a, 'o:' || o_orderkey AS b,
                CAST(1.0 AS DOUBLE) AS w
         FROM orders
         UNION ALL SELECT 'o:' || o_orderkey, 'c:' || o_custkey,
                          CAST(1.0 AS DOUBLE) FROM orders
         UNION ALL SELECT 'o:' || l_orderkey, 'p:' || l_partkey,
                          CAST(l_quantity AS DOUBLE) FROM lineitem
         UNION ALL SELECT 'p:' || l_partkey, 'o:' || l_orderkey,
                          CAST(l_quantity AS DOUBLE) FROM lineitem),
       walks(node, d, hops) AS (
         SELECT 'c:0', CAST(0.0 AS DOUBLE), 0
         UNION
         SELECT e.b, walks.d + e.w, walks.hops + 1
         FROM walks JOIN wedges e ON e.a = walks.node
         WHERE walks.hops < 3),
       dist AS (SELECT node, min(d) AS d FROM walks GROUP BY node)
       SELECT CASE substr(node, 1, 1) WHEN 'c' THEN 'Customer'
                WHEN 'o' THEN 'Order' ELSE 'Part' END AS label,
              CAST(d AS BIGINT) AS dist,
              count(*) AS n_nodes, min(node) AS min_id
       FROM dist GROUP BY 1, 2"""

  // ------------------------------------------- typed facade, oracle-gated
  // The SAME two-hop as g01 but through graft.typed: compile-checked
  // endpoints (Customer -placed-> Order -contains-> Part), ids-only hops
  // underneath, and the identical SQL oracle — proving the typed facade
  // changes the type system, not the semantics or the plan shape.
  final case class CustomerN(id: Long, name: String, segment: String)
  final case class OrderN(id: Long, totalprice: Double, status: String)
  final case class PartN(id: Long, name: String, brand: String)
  implicit val customerT: graft.typed.NodeType[CustomerN] =
    graft.typed.NodeType.of[CustomerN]("Customer")
  implicit val orderT: graft.typed.NodeType[OrderN] =
    graft.typed.NodeType.of[OrderN]("Order")
  implicit val partT: graft.typed.NodeType[PartN] =
    graft.typed.NodeType.of[PartN]("Part")
  val placed: graft.typed.Rel[CustomerN, OrderN, graft.typed.Card.Many] =
    graft.typed.Rel("placed")
  val containsRel: graft.typed.Rel[OrderN, PartN, graft.typed.Card.Many] =
    graft.typed.Rel("contains")

  private val g08: Q = (s, dir) =>
    graft.typed.TypedGraph(tpchGraph(s, dir))
      .nodes[CustomerN]
      .filter(col("segment") === "BUILDING") // Column filter: pushes down
      .related(placed)
      .related(containsRel)
      .ds.groupBy(col("name"))
      .agg(count(lit(1)).as("times_ordered"))

  // ------------------------------------------------ triangle counting (g09)
  // Part co-purchase graph: parts are linked when some order contains both
  // (the one-mode projection of the bipartite order–part graph, canonical
  // distinct pairs). GraphAlgos.triangleCountEdges counts over it with a
  // DataFrame 2-join plan; the histogram (triangle count → how many parts)
  // is engine-independent, so the oracle replays the triangles with a
  // 3-way self-join in DuckDB. Scale shape: the projection's fan-out is
  // bounded by per-order line count (≤7 in TPC-H, C(7,2)=21 pairs max per
  // order), and the kernel works over the pair table, never the corpus.
  private val g09: Q = (s, dir) => {
    // The whole pipeline runs on LONG part keys: the co-purchase
    // projection is already long-keyed, so feed `triangleCountEdges` (the
    // long-keyed core) directly instead of wrapping a PropertyGraph whose
    // string node ids would be dictionary-encoded straight back to longs
    // (measured sf0.1: string-keyed join+distinct 11.8s → long-keyed ~4s;
    // the string round-trip — dict distinct + 2 encode joins + 3-way
    // string decode join — cost a further ~2s of pure overhead). The
    // string-id PropertyGraph wrapper `GraphAlgos.triangleCount` stays
    // spec'd in GraphSpec; the histogram here is identical by the
    // dictionary-invariance of triangle counts.
    // co-purchase pair-gen by equi-self-join, NOT groupBy+collect_set+
    // ascending_pairs: a clean same-window A/B at sf1 measured the
    // self-join form 4.4s faster end-to-end (g09 8.8s vs 13.2s) — the
    // collect_set aggregation buffers per-order arrays through both agg
    // phases, which costs more here than the second lineitem shuffle it
    // saves. The regimes flip with scale economics: on a cluster where
    // a fact-table exchange dominates (the 100 TB posture), the one-
    // shuffle ascending_pairs form (graft.functions.AscendingPairs,
    // spec-pinned) is the dispatch to prefer; at local[32] shuffle is
    // memory-speed and the join's codegen'd streaming beats agg buffers.
    val li = t(s, dir, "lineitem").select(
      col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
    val perNode = graft.graph.GraphAlgos.triangleCountEdges(pairs)
    // every part appears in the histogram (0-triangle bucket included);
    // min_part compares the STRING form — the oracle's min over 'p:k'
    t(s, dir, "part")
      .select(col("p_partkey").as("vid"),
        concat(lit("p:"), col("p_partkey")).as("node"))
      .join(perNode, Seq("vid"), "left")
      .select(coalesce(col("n"), lit(0L)).cast("int").as("triangles"),
        col("node"))
      .groupBy(col("triangles"))
      .agg(count(lit(1)).as("n_parts"), min(col("node")).as("min_part"))
  }

  private val g09Sql =
    """WITH li AS (SELECT l_orderkey AS o, 'p:' || l_partkey AS p FROM lineitem),
       co AS (SELECT DISTINCT a.p AS x, b.p AS y
              FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
       tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
               FROM co e1
               JOIN co e2 ON e2.x = e1.y
               JOIN co e3 ON e3.x = e1.x AND e3.y = e2.y),
       pernode AS (SELECT node, count(*) AS n FROM (
           SELECT a AS node FROM tri
           UNION ALL SELECT b AS node FROM tri
           UNION ALL SELECT c AS node FROM tri) u
         GROUP BY node),
       allp AS (SELECT 'p:' || p_partkey AS node FROM part)
       SELECT CAST(coalesce(pn.n, 0) AS INT) AS triangles,
              count(*) AS n_parts, min(allp.node) AS min_part
       FROM allp LEFT JOIN pernode pn ON pn.node = allp.node
       GROUP BY 1"""

  // ------------------------------------- typed grouped aggregation (g11)
  // The typed facade's aggregation surface: groupByField + field-macro
  // aggregates stay plain Catalyst Columns (partial+final HashAggregate,
  // no KeyValueGroupedDataset object boundary), proven by the same oracle
  // an untyped groupBy would use. Doubles rounded 2dp for oracle parity.
  private val g11: Q = (s, dir) => {
    import graft.typed.TypedAggs._
    graft.typed.TypedGraph(tpchGraph(s, dir))
      .nodes[OrderN]
      .groupByField(_.status)
      .agg(avgOf(_.totalprice), sumOf(_.totalprice),
        minOf(_.totalprice), maxOf(_.totalprice), countAll.as("n_orders"))
      .select(col("status"),
        round(col("avg_totalprice"), 2).as("avg_price"),
        round(col("sum_totalprice"), 2).as("sum_price"),
        round(col("min_totalprice"), 2).as("min_price"),
        round(col("max_totalprice"), 2).as("max_price"),
        col("n_orders"))
  }

  private val g11Sql =
    """SELECT o_orderstatus AS status,
              round(avg(o_totalprice), 2) AS avg_price,
              round(sum(o_totalprice), 2) AS sum_price,
              round(min(o_totalprice), 2) AS min_price,
              round(max(o_totalprice), 2) AS max_price,
              count(*) AS n_orders
       FROM orders GROUP BY o_orderstatus"""

  // ------------------------- bucketed persistence traversal (g12, round 13)
  // The O18 bucketing story oracle-covered end-to-end: the long-keyed
  // graph is persisted ONCE per sf dir as catalog-bucketed tables
  // (bucketBy(8, src|id) + sortBy — PropertyGraph.saveAsBucketedTables),
  // reloaded through loadFromTables (schema manifest rides along as
  // <prefix>_schema), and traversed. What the layout buys: the first
  // hop's edge⋈node join reads BOTH sides already hash-distributed on
  // the join key, so neither scan re-shuffles (GraphSpec pins the
  // exchange-free plan); at 100 TB the staging cost is paid at ingest
  // and every subsequent traversal of the stored graph skips the
  // edge-table exchange entirely. Staging is per-JVM-memoized — the
  // serve path is what the bench times (the t37 staged-index pattern).
  // The tables are managed ones in the session warehouse, outside any
  // Staged.dir, so each one's location is registered for deletion at JVM
  // exit, after a failed save too.
  private[graft] def bucketedGraph(s: SparkSession, dir: String): PropertyGraph = {
    val prefix = graft.Staged.once(("g12", dir)) {
      val p = s"graft_g12_${math.abs(dir.hashCode)}"
      try tpchGraph(s, dir).saveAsBucketedTables(p, buckets = 8)
      finally tableLocations(s, p).foreach(graft.Staged.deleteAtExit)
      p
    }
    PropertyGraph.loadFromTables(s, prefix)
  }

  /** Locations of the current database's catalog tables named `prefix_…`. */
  private[graft] def tableLocations(s: SparkSession, prefix: String)
      : Seq[java.nio.file.Path] = {
    val catalog = s.sessionState.catalog
    catalog.listTables(catalog.getCurrentDatabase, s"${prefix}_*")
      .map(id => java.nio.file.Paths.get(catalog.getTableMetadata(id).location))
  }

  private val g12: Q = (s, dir) => {
    val g = bucketedGraph(s, dir)
    g.from("Customer")
      .filter(col("segment") === "MACHINERY")
      .related("placed")
      .related("contains")
      .df.groupBy(col("brand"))
      .agg(count(lit(1)).as("n_paths"),
        countDistinct(col(GraphSchema.IdCol)).as("n_parts"))
  }

  private val g12Sql =
    """SELECT p_brand AS brand, count(*) AS n_paths,
       count(DISTINCT p_partkey) AS n_parts
       FROM customer
       JOIN orders ON o_custkey = c_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN part ON p_partkey = l_partkey
       WHERE c_mktsegment = 'MACHINERY'
       GROUP BY p_brand"""

  val queries: Map[String, Q] = Map(
    "g12_bucketed_traversal" -> g12,
    "g01_two_hop_traversal" -> g01,
    "g08_typed_traversal" -> g08,
    "g11_typed_agg" -> g11,
    "g02_inverse_traversal" -> g02,
    "g03_multiset_difference" -> g03,
    "g04_pregel_reachability" -> g04,
    "g05_connected_components" -> g05,
    "g06_pagerank_topk" -> g06,
    "g07_bfs_layers" -> g07,
    "g09_triangle_count" -> g09,
    "g10_weighted_sssp" -> g10)

  val oracles: Map[String, String] = Map(
    "g12_bucketed_traversal" -> g12Sql,
    "g01_two_hop_traversal" -> g01Sql,
    "g08_typed_traversal" -> g01Sql,
    "g11_typed_agg" -> g11Sql,
    "g02_inverse_traversal" -> g02Sql,
    "g03_multiset_difference" -> g03Sql,
    "g04_pregel_reachability" -> g04Sql,
    "g05_connected_components" -> g05Sql,
    "g06_pagerank_topk" -> g06Sql,
    "g07_bfs_layers" -> g07Sql,
    "g09_triangle_count" -> g09Sql,
    "g10_weighted_sssp" -> g10Sql)
}
