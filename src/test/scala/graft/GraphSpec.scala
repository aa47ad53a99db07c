package graft

import org.apache.spark.sql.functions._
import graft.graph.{DemoGraph, PropertyGraph}
import graft.schema._
import org.apache.spark.sql.types._

/** Golden demo-fixture tests (SURVEY.md §5.2.3) + operator semantics
  * (SURVEY.md §5.2.2 invariants). Expectations derived from the reference's
  * bigBang fixture (app/Main.hs:79-116).
  */
class GraphSpec extends SparkSpec {

  lazy val g: PropertyGraph = DemoGraph.bigBang(spark).checkpointed()

  private def names(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.getString(0)).toSeq.sorted

  test("schema validates clean") {
    assert(DemoGraph.schema.validate().isEmpty)
  }

  test("schema validation catches dangling targets and dup attrs") {
    val bad = GraphSchema(
      Seq(NodeDef("A", Seq(AttrDef("x", StringType), AttrDef("x", LongType)))),
      Seq(RelationDef("r", "rInv", "A", "Nope")))
    val errs = bad.validate()
    assert(errs.exists(_.contains("duplicate attribute")))
    assert(errs.exists(_.contains("unknown node type Nope")))
  }

  test("type extent scan returns all nodes of a label") {
    assert(g.nodes("Person").count() === 3)
    assert(g.nodes("Object").count() === 4)
  }

  test("missingTools(Bob) == [Poker Chips]  (flagship, Main.hs:148-157)") {
    assert(names(DemoGraph.missingTools(g, "Bob")) === Seq("Poker Chips"))
  }

  test("missingTools(Jose) == []") {
    assert(DemoGraph.missingTools(g, "Jose").count() === 0)
  }

  test("missingTools(Jane) == [Poker Chips] (Jane: poker needs cards+chips; owns cards)") {
    assert(names(DemoGraph.missingTools(g, "Jane")) === Seq("Poker Chips"))
  }

  test("inverse traversal is a projection, not a second table") {
    // enthusiast is hobby reversed: who has poker as hobby
    val enthusiasts = g.from("Activity")
      .filter(col("name") === "Poker").related("enthusiast").attr("name")
    assert(names(enthusiasts) === Seq("Bob", "Jane"))
  }

  test("symmetric relation reachable from both sides") {
    val bobSpouse = g.from("Person").filter(col("name") === "Bob")
      .related("spouse").attr("name")
    val janeSpouse = g.from("Person").filter(col("name") === "Jane")
      .related("spouse").attr("name")
    assert(names(bobSpouse) === Seq("Jane"))
    assert(names(janeSpouse) === Seq("Bob"))
  }

  test("isRelated semi-join semantics") {
    assert(g.isRelated("friend", "person:bob", "person:jane"))
    assert(!g.isRelated("friend", "person:jane", "person:bob")) // directed!
    assert(g.isRelated("friendOf", "person:jane", "person:bob"))
  }

  test("lookupBy errors on zero and on multiple matches (Main.hs:137-140)") {
    intercept[NoSuchElementException](g.lookupBy("Person", "name", "Nobody"))
    val g2 = g.addNode("Person", "person:bob2", Map("name" -> "Bob", "age" -> 44L))
    intercept[IllegalStateException](g2.lookupBy("Person", "name", "Bob"))
  }

  test("addRelated has bag semantics — duplicates legal (Operations.hs:333-334)") {
    val g2 = g.addRelated("possession", "person:bob", "object:map")
    val owned = g2.from("Person").filter(col("name") === "Bob")
      .related("possession").attr("name")
    assert(names(owned) === Seq("Trail Map", "Trail Map"))
  }

  test("removeRelated removes ALL occurrences (Operations.hs:336-349)") {
    val g2 = g.addRelated("possession", "person:bob", "object:map")
      .removeRelated("possession", "person:bob", "object:map")
    assert(g2.from("Person").filter(col("name") === "Bob")
      .related("possession").df.count() === 0)
  }

  test("removeRelated via inverse name patches the same stored edge") {
    val g2 = g.removeRelated("owner", "object:map", "person:bob")
    assert(!g2.isRelated("possession", "person:bob", "object:map"))
  }

  test("deleteNode cascades across every touching relation (Operations.hs:197-218)") {
    val g2 = g.deleteNode("Person", "person:jane")
    assert(g2.nodes("Person").count() === 2)
    // no dangling edges anywhere
    for (r <- g2.schema.relationDefs) {
      val e = g2.edgeTables(r.name)
      assert(e.where(col("src") === "person:jane" || col("dst") === "person:jane").count() === 0,
        s"dangling edge in ${r.name}")
    }
    // spouse symmetric edge gone from Bob's view too
    assert(g2.from("Person").filter(col("name") === "Bob").related("spouse").df.count() === 0)
    // unfriend-effect on missingTools: Bob loses access to Jane's cards BUT
    // deck of cards is needed once (poker) and available via nobody => missing grows
    assert(names(DemoGraph.missingTools(g2, "Bob")).contains("Deck of Cards"))
  }

  test("setAttribute copy-on-write point update (Operations.hs:246-271)") {
    val g2 = g.setAttribute("Person", "person:bob", "age", 33L)
    assert(g2.getAttribute("Person", "person:bob", "age") === 33L)
    assert(g2.getAttribute("Person", "person:jane", "age") === 21L)
    // original snapshot untouched
    assert(g.getAttribute("Person", "person:bob", "age") === 20L)
  }

  test("setRelated replaces the full target set (Operations.hs:303-319)") {
    val g2 = g.setRelated("hobby", "person:bob", Seq("activity:hiking"))
    val hobbies = g2.from("Person").filter(col("name") === "Bob")
      .related("hobby").attr("name")
    assert(names(hobbies) === Seq("Hiking"))
    // inverse view consistent structurally
    assert(names(g2.from("Activity").filter(col("name") === "Poker")
      .related("enthusiast").attr("name")) === Seq("Jane"))
  }

  test("setRelated enforces declared cardinality bound") {
    intercept[IllegalArgumentException] {
      g.setRelated("spouse", "person:bob", Seq("person:jane", "person:jose"))
    }
  }

  test("clearRelated drops all edges of one relation from a node (Operations.hs:351-365)") {
    val g2 = g.clearRelated("friend", "person:bob")
    assert(g2.from("Person").filter(col("name") === "Bob").related("friend").df.count() === 0)
    // but inbound friendships (jose→bob) survive: clear is directional
    assert(g2.isRelated("friend", "person:jose", "person:bob"))
  }

  test("optional attribute reads fall back to mempty default (Operations.hs:235-237)") {
    val sch = GraphSchema(
      Seq(NodeDef("Doc", Seq(
        AttrDef("title", StringType),
        AttrDef("tags", StringType, required = false)))),
      Seq.empty)
    val g2 = PropertyGraph.empty(spark, sch)
      .addNode("Doc", "d1", Map("title" -> "t1"))
      .addNode("Doc", "d2", Map("title" -> "t2", "tags" -> "x"))
    val rows = g2.nodes("Doc").orderBy("id").collect()
    assert(rows(0).getString(2) === "")   // defaulted, not null
    assert(rows(1).getString(2) === "x")
    assert(g2.getAttribute("Doc", "d1", "tags") === "")
  }

  test("cardinality violations surface as a validation query, not hidden coercion") {
    // spouse is Optional (<=1): give Bob two spouses via raw addRelated —
    // the reference permits the write and fails the read (Operations.hs:285-287);
    // we surface it via cardinalityViolations.
    val g2 = g.addRelated("spouse", "person:bob", "person:jose")
    val v = g2.cardinalityViolations().collect()
    assert(v.exists(r => r.getString(0) == "spouse" && r.getString(1) == "person:bob"))
    assert(g.cardinalityViolations().count() === 0)
  }

  test("orphanEdges flags bulk-ingested dangling endpoints (Node.hs:104-114 parity)") {
    import spark.implicits._
    // bulk ingest happily inserts edges naming absent nodes — the reference
    // cannot represent this (typed refs), so the validation query must
    val pairs = Seq(
      ("person:bob", "object:ghost"),     // dst names no Object node
      ("person:nobody", "object:cards"),  // src names no Person node
      ("person:jane", "object:cards")     // fully valid
    ).toDF("src", "dst")
    val g2 = g.addRelatedBulk("possession", pairs)
    val v = g2.orphanEdges().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(v.contains(("possession", "dst", "object:ghost")), s"got $v")
    assert(v.contains(("possession", "src", "person:nobody")), s"got $v")
    assert(v.size === 2, s"valid edges flagged too: $v")
    // the demo graph itself is referentially sound
    assert(g.orphanEdges().count() === 0)
  }

  test("addNode rejects missing required attribute") {
    intercept[IllegalArgumentException] {
      g.addNode("Person", "person:x", Map("name" -> "X")) // no age
    }
  }

  test("setAttribute rejects null for required attributes") {
    intercept[IllegalArgumentException] {
      g.setAttribute("Person", "person:bob", "name", null)
    }
  }

  test("areRelated bulk semi-join matches point probes") {
    import spark.implicits._
    val probes = Seq(
      ("person:bob", "object:map"),    // owns
      ("person:bob", "object:cards"),  // does not own
      ("person:jane", "object:cards")  // owns
    ).toDF("src", "dst")
    val related = g.areRelated("possession", probes)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(related === Set(("person:bob", "object:map"), ("person:jane", "object:cards")))
  }

  test("setRelated with many targets keeps plan depth constant (bulk union)") {
    val targets = Seq("object:map", "object:cards", "object:chips", "object:poles")
    val g2 = g.setRelated("possession", "person:bob", targets)
    val owned = g2.from("Person").filter(col("name") === "Bob")
      .related("possession").ids.collect().map(_.getString(0)).sorted
    assert(owned === targets.sorted.toArray)
    // single union node regardless of target count, not one per target
    val unions = "Union".r
      .findAllIn(g2.edges("possession").queryExecution.logical.toString).length
    assert(unions <= 2, s"expected bulk union, got $unions Union nodes")
  }

  test("exceptAll keeps bag semantics (duplicate needs survive single availability)") {
    // Bob also takes up a second hobby needing cards: now cards needed 2×,
    // available 1× (from Jane) => cards missing once.
    val g2 = g.addNode("Activity", "activity:magic", Map("name" -> "Magic"))
      .addRelated("hobby", "person:bob", "activity:magic")
      .addRelated("tool", "activity:magic", "object:cards")
    val missing = names(DemoGraph.missingTools(g2, "Bob"))
    assert(missing === Seq("Deck of Cards", "Poker Chips"))
  }

  test("triangleCount finds the friend triangle; relatedN walks multi-hop") {
    // bigBang's friend edges bob↔jose, bob→jane, jane→jose canonicalize to
    // the bob–jane–jose triangle
    val tri = graft.graph.GraphAlgos.triangleCount(g, Seq("friend"))
      .collect().map(r => r.getString(1) -> r.getInt(2)).toMap
    assert(tri("person:bob") === 1 && tri("person:jane") === 1 && tri("person:jose") === 1)
    // directed BFS from Jane: jose at 1 hop, bob only via jose at 2
    val two = graft.graph.GraphAlgos.relatedN(g, "friend", "person:jane", 2)
      .collect().map(r => r.getString(1) -> r.getInt(2)).toMap
    assert(two("person:jose") === 1)
    assert(two("person:bob") === 2)
  }

  test("triangle adjacency broadcast vs sort-merge regimes agree; default is measured") {
    import spark.implicits._
    // two shared triangles on an edge (1-2-3, 1-2-4), a pendant edge, a
    // self-loop, a duplicate and a reversed duplicate — the canonical-
    // ization surface
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 2L),
      (2L, 1L), (3L, 2L), (5L, 5L), (4L, 6L)).toDF("u", "v")
    def counts(): Map[Long, Long] =
      graft.graph.GraphAlgos.triangleCountEdges(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val measured = counts() // 8 canon edges ≤ bound → broadcast branch
    val bcast = measured
    val smj = Regime.atScale(counts())
    assert(bcast === Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
    assert(smj === bcast, "sort-merge regime must match broadcast regime")
    assert(measured === bcast, "measured dispatch must match forced regimes")
  }

  test("triangle_contribs closers equal array_intersect on the adjacency input shape") {
    // the triangle kernel's precondition: ascending, distinct, non-null
    // long arrays (what array_sort(collect_list) over a dedup'd edge set
    // emits) — including empty and disjoint edges
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{array_intersect, col, lit}
    import graft.functions.TriangleContribs.triangleContribs
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { _ =>
      def arr() = rnd.nextInt(12) match {
        case 0 => Array.empty[Long]
        case n => Array.fill(n)(rnd.nextInt(30).toLong).distinct.sorted
      }
      (arr(), arr())
    }
    import spark.implicits._
    val df = rows.toDF("a", "b")
    val got = df.select(triangleContribs(lit(-1L), lit(-2L), col("a"), col("b")))
      .collect().map(_.getSeq[Row](0))
    val want = df.select(array_intersect(col("a"), col("b")))
      .collect().map(_.getSeq[Long](0))
    got.zip(want).zip(rows).foreach { case ((g2, w), (a, b)) =>
      val closers = g2.drop(2).map(r => r.getLong(0) -> r.getLong(1))
      assert(closers === w.map(_ -> 1L), s"diverged on ${a.toSeq} ∩ ${b.toSeq}")
      val ends = if (w.isEmpty) Nil else Seq(-1L -> w.size.toLong, -2L -> w.size.toLong)
      assert(g2.take(2).map(r => r.getLong(0) -> r.getLong(1)) === ends)
    }
  }

  test("pageRankFixedPoint is bit-exact: cross-engine golden + layout independence") {
    // a→b, a→c, b→c at 5 iterations; expected Longs verified independently
    // in DuckDB with the same recursive integer recurrence (the g06 oracle
    // shape) — integer arithmetic means EXACT equality, not tolerance
    val s = GraphSchema(
      nodeDefs = Seq(NodeDef("N", Seq.empty)),
      relationDefs = Seq(RelationDef("e", "eInv", "N", "N")))
    var tiny = PropertyGraph.empty(spark, s)
    Seq("a", "b", "c").foreach(n => tiny = tiny.addNode("N", n, Map.empty))
    tiny = tiny.addRelated("e", "a", "b").addRelated("e", "a", "c")
      .addRelated("e", "b", "c")
    def run() = graft.graph.GraphAlgos.pageRankFixedPoint(tiny, iters = 5)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val ranks = run()
    assert(ranks === Map("a" -> 150000000L, "b" -> 213750000L,
      "c" -> 395437500L))
    // exact reproducibility across runs (fresh vertex numbering each time)
    assert(run() === ranks)
    // the local fast path ≡ the distributed loop, BIT-EXACT (integer
    // arithmetic, so the law is equality, not tolerance): Regime.atScale
    // forces the DataFrame loop the 100-TB fallback runs
    val distributed = Regime.atScale(
        graft.graph.GraphAlgos.pageRankFixedPoint(tiny, iters = 5))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(distributed === ranks,
      "distributed PageRank loop diverged from the local fast path")
  }

  test("pageRankFixedPointLong tolerates dangling edges: local ≡ distributed") {
    // an edge endpoint absent from verts used to LIVELOCK the driver in
    // the local fast path (LongIntMap.get probed empty slots forever)
    // while the distributed loop silently tolerated it — same input,
    // hang vs success depending on the size caps. Now the local path
    // detects the miss and bails to the distributed loop: both dispatch
    // regimes must terminate AND agree.
    import spark.implicits._
    val verts = Seq(1L, 2L, 3L).toDF("vid")
    // 99 (dst) and 98 (src) are dangling — not in verts
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 99L), (98L, 3L)).toDF("src", "dst")
    def ranksOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLocalDispatch = ranksOf(
      graft.graph.GraphAlgos.pageRankFixedPointLong(verts, edges, iters = 5))
    val viaDistributed = ranksOf(Regime.atScale(
      graft.graph.GraphAlgos.pageRankFixedPointLong(verts, edges, iters = 5)))
    assert(viaLocalDispatch === viaDistributed,
      "dangling-edge input diverged between dispatch regimes")
    assert(viaLocalDispatch.keySet === Set(1L, 2L, 3L))
    // and the clean-input local path still runs locally (sanity: same
    // graph minus the dangling edges ranks every vertex)
    val clean = ranksOf(graft.graph.GraphAlgos.pageRankFixedPointLong(
      verts, Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), iters = 5))
    assert(clean.keySet === Set(1L, 2L, 3L))
  }

  test("connectedComponents labels by min member id via the collision-free dictionary") {
    val cc = graft.graph.GraphAlgos.connectedComponents(g, Seq("friend", "spouse"))
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    // Bob–Jane (spouse), Jane–Jose (friend) ⇒ one person component labeled
    // by the lexicographic min member
    assert(cc("person:bob") === "person:bob")
    assert(cc("person:jane") === "person:bob")
    assert(cc("person:jose") === "person:bob")
    // nodes untouched by the selected relations are singleton components
    assert(cc("object:map") === "object:map")
  }

  test("min-cardinality (Some/One) violations flag zero-degree nodes (Operations.hs:285-287)") {
    // employment: every Employee works at ≥1 Company (Some). A node with no
    // edges never appears in the edge table, so the check must start from
    // the node extent — exactly the read-time error the reference raises.
    val s = GraphSchema(
      Seq(NodeDef("Employee", Seq(AttrDef("name", StringType))),
        NodeDef("Company", Seq(AttrDef("name", StringType)))),
      Seq(RelationDef("worksAt", "employs", "Employee", "Company",
        Cardinality.Some, Cardinality.Many)))
    val g0 = PropertyGraph.empty(spark, s)
      .addNode("Employee", "e:1", Map("name" -> "Ada"))
      .addNode("Employee", "e:2", Map("name" -> "Bo"))
      .addNode("Company", "c:1", Map("name" -> "Acme"))
      .addRelated("worksAt", "e:1", "c:1")
    val v = g0.cardinalityViolations().collect()
    assert(v.exists(r => r.getString(0) == "worksAt" && r.getString(1) == "e:2"
      && r.getLong(2) === 0L), s"expected zero-degree e:2 flagged, got ${v.toSeq}")
    assert(!v.exists(r => r.getString(1) == "e:1"))
    val fixed = g0.addRelated("worksAt", "e:2", "c:1")
    assert(!fixed.cardinalityViolations().collect()
      .exists(r => r.getString(0) == "worksAt"))
  }

  test("addNodesWithGeneratedIds assigns distinct stable uuids (Operations.hs:91-103)") {
    import spark.implicits._
    val rows = Seq(("X", 1L), ("Y", 2L), ("Z", 3L)).toDF("name", "age")
    val g2 = g.addNodesWithGeneratedIds("Person", rows)
    assert(g2.nodes("Person").count() === 6)
    val ids = g2.nodes("Person").select("id").collect().map(_.getString(0))
    assert(ids.distinct.length === 6, "generated ids must be unique")
    // stability: uuid() is non-deterministic per evaluation; the ids must
    // not re-roll between two actions on the same graph
    val again = g2.nodes("Person").select("id").collect().map(_.getString(0))
    assert(ids.sorted.toSeq === again.sorted.toSeq)
  }

  test("save is self-describing: load(spark, dir) reconstructs the schema") {
    // a schema exercising every manifest dimension: optional attr with a
    // typed default, attr-less label, symmetric + asymmetric relations
    // with non-Many cardinalities
    val s = GraphSchema(
      nodeDefs = Seq(
        NodeDef("Person", Seq(
          AttrDef("name", StringType),
          AttrDef("age", LongType, required = false, default = Some(7L)),
          AttrDef("score", DoubleType, required = false),
          AttrDef("joined", DateType, required = false,
            default = Some(java.sql.Date.valueOf("2020-06-01"))))),
        NodeDef("Tag")),
      relationDefs = Seq(
        RelationDef("knows", "knownBy", "Person", "Person",
          Cardinality.Many, Cardinality.Some),
        RelationDef("twin", "twin", "Person", "Person",
          Cardinality.Optional, Cardinality.Optional, symmetric = true),
        RelationDef("tagged", "tags", "Person", "Tag",
          Cardinality.One, Cardinality.Many)))
    var g2 = PropertyGraph.empty(spark, s)
    g2 = g2.addNode("Person", "p1", Map("name" -> "Ann"))
      .addNode("Person", "p2", Map("name" -> "Ben", "age" -> 30L))
      .addNode("Tag", "t1", Map.empty)
      .addRelated("knows", "p1", "p2")
      .addRelated("tagged", "p1", "t1")
      .addRelated("tagged", "p2", "t1")
    withTempDir("graft-selfdesc") { dir =>
      g2.save(dir)
      // NO schema object passed — it must come back from the manifest
      val back = PropertyGraph.load(spark, dir)
      assert(back.schema.nodeDefs.sortBy(_.label) === s.nodeDefs.sortBy(_.label),
        "node defs (attrs, types, requiredness, defaults) must roundtrip")
      assert(back.schema.relationDefs.sortBy(_.name) === s.relationDefs.sortBy(_.name),
        "relation defs (cardinalities, symmetry) must roundtrip")
      // data + default semantics survive: Ann's age reads the manifest default
      assert(back.getAttribute("Person", "p1", "age") === 7L)
      assert(back.from("Person").related("tagged").ids.count() === 2L)
      // the demo graph roundtrips end-to-end the same way
      withTempDir("graft-selfdesc-demo") { demoDir =>
        g.save(demoDir)
        assert(names(DemoGraph.missingTools(PropertyGraph.load(spark, demoDir), "Bob"))
          === Seq("Poker Chips"))
      }
    }
  }

  test("weightedDistance relaxes multi-edge paths and honors the superstep bound") {
    import spark.implicits._
    // a—b direct costs 10; the 2-edge detour a—c—b costs 3. One superstep
    // can only see the direct edge; two supersteps find the detour.
    val edges = Seq(("a", "b", 10.0), ("a", "c", 1.0), ("c", "b", 2.0))
      .toDF("src", "dst", "weight")
    def dists(iters: Int): Map[String, Double] =
      graft.graph.GraphAlgos.weightedDistance(edges, "a", iters)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dists(1) === Map("a" -> 0.0, "b" -> 10.0, "c" -> 1.0))
    assert(dists(2) === Map("a" -> 0.0, "b" -> 3.0, "c" -> 1.0))
    // undirected: messages flow against edge direction too
    assert(graft.graph.GraphAlgos.weightedDistance(edges, "b", 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      === Map("b" -> 0.0, "c" -> 2.0, "a" -> 3.0))
  }

  test("SSSP local fast path ≡ distributed loop at every threshold (invariance law)") {
    import spark.implicits._
    // multi-edge detour + a parallel edge (bag min) + an unreachable node
    // island {8,9} + an edge back INTO the start — every relaxation shape
    val edges = Seq(
      (0L, 1L, 10.0), (0L, 2L, 1.0), (2L, 1L, 2.0), (2L, 1L, 7.0),
      (1L, 3L, 1.0), (3L, 0L, 1.0), (8L, 9L, 1.0))
      .toDF("src", "dst", "weight")
    // the default dispatch (local while the probes fit), the distributed
    // loop (Regime.atScale), and the local kernel at a vertex cap or a
    // row cap of 1, which bails mid-run (None) and hands the call to the
    // distributed loop from scratch
    def dists(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def run(e: org.apache.spark.sql.DataFrame, directed: Boolean, iters: Int) =
      dists(graft.graph.GraphAlgos.weightedDistanceLong(e, start = 0L,
        maxIters = iters, directed = directed))
    def bailOr(e: org.apache.spark.sql.DataFrame, directed: Boolean,
        vCap: Int, rCap: Int, iters: Int, distributed: Map[Long, Double]) =
      graft.graph.GraphAlgos.localRelax(e, 0L, iters, directed, vCap, rCap)
        .map(_.toMap).getOrElse(distributed)
    for (iters <- 1 to 4) {
      val distributed = Regime.atScale(run(edges, directed = false, iters))
      assert(run(edges, directed = false, iters) === distributed,
        s"local path diverged at iters=$iters")
      assert(bailOr(edges, false, 1, 1000000, iters, distributed) === distributed,
        s"vertex-cap bail (frontier > 1 mid-run) diverged at iters=$iters")
      assert(bailOr(edges, false, 8192, 1, iters, distributed) === distributed,
        s"row-cap bail (slice > 1 row) diverged at iters=$iters")
    }
    // the vertex cap of 1 really bails mid-run: round 1's frontier is the
    // start alone, round 2's is {1, 2, 3}
    val ga = graft.graph.GraphAlgos
    assert(ga.localRelax(edges, 0L, 1, false, 1, 1000000).isDefined)
    assert(ga.localRelax(edges, 0L, 2, false, 1, 1000000).isEmpty)
    // the bounded-walk contract itself: 1 round sees only the direct
    // edge; 2 rounds find the cheapest detour — 0→3→1 at 2.0 (the 3→0
    // edge traversed backwards: undirected relaxation), beating the
    // 0→2→1 detour at 3.0
    assert(run(edges, directed = false, 1)(1L) === 10.0)
    assert(run(edges, directed = false, 2)(1L) === 2.0)
    // the relatedN shape: directed, unit weights — same law at scale,
    // at caps 1 and at the default
    val unit = edges.withColumn("weight", lit(1.0))
    for (iters <- 1 to 4) {
      val distributed = Regime.atScale(run(unit, directed = true, iters))
      assert(run(unit, directed = true, iters) === distributed,
        s"directed local path diverged at iters=$iters")
      assert(bailOr(unit, true, 1, 1000000, iters, distributed) === distributed,
        s"directed vertex-cap bail diverged at iters=$iters")
      assert(bailOr(unit, true, 8192, 1, iters, distributed) === distributed,
        s"directed row-cap bail diverged at iters=$iters")
    }
    // directed BFS layers: 3 is two hops out (0→1→3), and the 3→0 edge
    // is never walked backwards
    assert(run(unit, directed = true, 4) ===
      Map(0L -> 0.0, 1L -> 1.0, 2L -> 1.0, 3L -> 2.0))
  }

  test("save clusters edges by src; bucketed tables self-join without shuffle") {
    withTempDir("graft-bucketed") { dir =>
      g.save(dir, edgeBuckets = 2)
      val reloaded = PropertyGraph.load(spark, DemoGraph.schema, dir)
      assert(reloaded.edges("possession").count() === g.edges("possession").count())
      assert(names(DemoGraph.missingTools(reloaded, "Bob")) === Seq("Poker Chips"))

      g.saveAsBucketedTables("graftspec", buckets = 4)
      try {
        val e = spark.table("graftspec_edges_possession")
        assert(e.count() === g.edges("possession").count())
        // co-located join: both sides share the bucket layout on src, so the
        // equi-join plans with no shuffle exchange — the 100 TB traversal path
        val selfJoin = e.as("a").join(e.as("b"), "src")
        val plan = selfJoin.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed self-join should not shuffle:\n$plan")
        // the catalog round-trip preserves full graph semantics — loaded
        // SELF-DESCRIBINGLY from the <prefix>_schema manifest table
        val fromTables = PropertyGraph.loadFromTables(spark, "graftspec")
        assert(fromTables.schema.relationDefs.sortBy(_.name)
          === DemoGraph.schema.relationDefs.sortBy(_.name))
        assert(names(DemoGraph.missingTools(fromTables, "Bob")) === Seq("Poker Chips"))
        // the g12 gate-query shape: a traversal hop over the reloaded graph
        // joins edge.src (bucketed) to node.id (bucketed, same count) — the
        // STORED sides must not re-shuffle; only small post-join exchanges
        // (the aggregation) are allowed, so count exchanges strictly below
        // the unbucketed plan's rather than asserting zero
        val hop = fromTables.from("Person").related("possession").df
        val hopPlan = hop.queryExecution.executedPlan.toString
        val unbucketed = g.from("Person").related("possession").df
          .queryExecution.executedPlan.toString
        def exchanges(p: String) = "Exchange hashpartitioning".r.findAllIn(p).size
        assert(exchanges(hopPlan) < exchanges(unbucketed) ||
          (exchanges(hopPlan) == 0 && exchanges(unbucketed) == 0),
          s"bucketed traversal hop should drop stored-side exchanges:\n$hopPlan")
      } finally {
        DemoGraph.schema.nodeDefs.foreach(d => spark.sql(s"DROP TABLE IF EXISTS graftspec_nodes_${d.label}"))
        DemoGraph.schema.relationDefs.foreach(r => spark.sql(s"DROP TABLE IF EXISTS graftspec_edges_${r.name}"))
        spark.sql("DROP TABLE IF EXISTS graftspec_schema")
      }
    }
  }

  test("an indexed snapshot runs no Spark job per point read; a bulk mutation scans again") {
    import spark.implicits._
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none"))
    }
    // the jobs `body` starts, delimited by a fence job: listener events
    // arrive in posting order
    def jobsOf(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      body
      sc.setJobGroup(s"$group-fence", "fence")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(s"$group-fence") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains(s"$group-fence"), s"fence of $group never seen")
      groups.toArray.count(_ == group)
    }
    def friendsTools(g: PropertyGraph, id: String): Seq[String] =
      g.from("Person").filter(col(GraphSchema.IdCol) === id).related("friend")
        .related("possession").ids.collect().map(_.get(0).toString).toSeq.sorted
    sc.addSparkListener(listener)
    try {
      val base = DemoGraph.bigBang(spark).checkpointed()
      assert(jobsOf("indexed") {
        assert(base.isRelated("spouse", "person:jane", "person:bob"))
        assert(!base.isRelated("friend", "person:jane", "person:bob"))
        assert(base.getAttribute("Person", "person:jose", "age") === 22L)
        assert(base.lookupBy("Person", "name", "Jane") === "person:jane")
        assert(friendsTools(base, "person:bob") === Seq("object:cards", "object:poles"))
      } === 0)
      // answers over a walked bag: small aggregates fold on the driver,
      // and edgy's flagship query is driver-side list algebra throughout
      val walked = base.from("Person").filter(col(GraphSchema.IdCol) === "person:bob")
        .related("friend").related("possession")
      assert(jobsOf("aggregates") {
        assert(walked.ids.agg(count(lit(1))).collect().head.getLong(0) === 2L)
        assert(walked.ids.distinct().count() === 2L)
        assert(walked.ids.groupBy(col(GraphSchema.IdCol)).count().collect().length === 2)
        assert(names(walked.attr("name")) === Seq("Deck of Cards", "Trekking Poles"))
        assert(names(DemoGraph.missingTools(base, "Bob")) === Seq("Poker Chips"))
      } === 0)
      assert(jobsOf("pinned-aggregate")(base.nodes("Person").agg(count(lit(1))).collect()) >= 1)
      assert(jobsOf("past-the-cap")((0L to graft.LocalPlans.MaxRows).toDF("id")
        .agg(count(lit(1))).collect()) >= 1)
      val mutated = base
        .addNode("Person", "person:ann", Map("name" -> "Ann", "age" -> 30L))
        .addRelated("friendOf", "person:bob", "person:ann")
        .setAttribute("Person", "person:bob", "age", 25L)
        .removeRelated("friend", "person:bob", "person:jose")
        .deleteNode("Object", "object:cards")
        .setRelated("possession", "person:ann", Seq("object:chips"))
        .clearRelated("hobby", "person:bob")
      def mutatedReads(g: PropertyGraph): Unit = {
        assert(g.isRelated("friend", "person:ann", "person:bob"))
        assert(!g.isRelated("friend", "person:bob", "person:jose"))
        assert(!g.isRelated("hobby", "person:bob", "activity:poker"))
        assert(g.getAttribute("Person", "person:bob", "age") === 25L)
        assert(g.lookupBy("Person", "name", "Ann") === "person:ann")
        assert(friendsTools(g, "person:ann") === Seq("object:map"))
        assert(friendsTools(g, "person:jane") === Seq("object:poles"))
      }
      assert(jobsOf("mutated")(mutatedReads(mutated)) === 0)
      val folded = mutated.checkpointed()
      assert(jobsOf("folded")(mutatedReads(folded)) === 0)
      val bulk = folded.addRelatedBulk("friend",
        Seq(("person:jane", "person:bob")).toDF("src", "dst"))
      assert(jobsOf("bulk")(assert(bulk.isRelated("friend", "person:jane", "person:bob"))) >= 1)
      // a long-keyed graph from the constructor: its base is collected on
      // the first read, after which reads are job-free
      val longSchema = GraphSchema(
        Seq(NodeDef("N", Seq(AttrDef("name", StringType)))),
        Seq(RelationDef("e", "eOf", "N", "N")), idType = LongType)
      val lg = PropertyGraph(longSchema,
        Map("N" -> Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("id", "name")),
        Map("e" -> Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst"))).checkpointed()
      assert(jobsOf("long-build")(assert(lg.isRelated("e", "1", "2"))) >= 1)
      assert(jobsOf("long") {
        assert(lg.isRelated("eOf", "3", "2") && !lg.isRelated("e", "3", "2"))
        assert(lg.getAttribute("N", "3", "name") === "three")
        assert(lg.lookupBy("N", "name", "two") === "2")
        assert(lg.from("N").filter(col(GraphSchema.IdCol).isin(1L, 2L)).related("e")
          .ids.collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L, 3L))
      } === 0)
      Seq(base, folded, lg).foreach(_.release())
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }

  test("g12's bucketed tables in the session warehouse are deleted at JVM exit") {
    import graft.queries.GraphQueries
    assert(GraphQueries.bucketedGraph(spark, TestSpark.sf0001).edgeTables.nonEmpty)
    val locs = GraphQueries.tableLocations(spark, "graft_g12")
    assert(locs.nonEmpty, "g12 staged no catalog tables")
    locs.foreach { l =>
      assert(java.nio.file.Files.isDirectory(l), s"no table data at $l")
      assert(Staged.atExit.contains(l), s"$l is not registered for deletion at exit")
    }
  }
}
