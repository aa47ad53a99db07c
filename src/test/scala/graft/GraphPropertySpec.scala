package graft

import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.graph.PropertyGraph
import graft.schema._

/** SURVEY.md §5.2.2: property tests over random op sequences on random
  * small graphs, asserting the reference's structural invariants —
  * (a) inverse symmetry, (b) no dangling edges after cascade delete,
  * (c) cardinality violations exactly when the declared shape is violated,
  * (d) setRelated ≡ clear + add-fold, (e) optional attrs default to the
  * mempty image — and the index law: a snapshot's driver-side index
  * answers every point read and literal-start traversal exactly as the
  * scan path does. Graphs stay tiny (Spark plans per op); ScalaCheck
  * shrinks failures to minimal op sequences.
  */
class GraphPropertySpec extends SparkSpec {

  private val schema = GraphSchema(
    Seq(
      NodeDef("A", Seq(
        AttrDef("name", StringType),
        AttrDef("note", StringType, required = false, default = Some("")))),
      NodeDef("B", Seq(AttrDef("name", StringType)))),
    Seq(
      RelationDef("r", "rInv", "A", "B"),
      RelationDef("fav", "favOf", "A", "B",
        Cardinality.Optional, Cardinality.Many),
      RelationDef("peer", "peer", "A", "A", symmetric = true)))

  private val aIds = Seq("a:1", "a:2", "a:3")
  private val bIds = Seq("b:1", "b:2")

  private def base: PropertyGraph =
    aIds.foldLeft(
      bIds.foldLeft(PropertyGraph.empty(spark, schema)) { (g, id) =>
        g.addNode("B", id, Map("name" -> id))
      }) { (g, id) => g.addNode("A", id, Map("name" -> id)) }

  private sealed trait Op
  private case class Add(rel: String, src: String, dst: String) extends Op
  private case class Rem(rel: String, src: String, dst: String) extends Op
  private case class SetR(src: String, dsts: Seq[String]) extends Op
  private case class Clear(rel: String, src: String) extends Op
  private case class Del(id: String) extends Op
  private case class AddN(id: String) extends Op
  /** `name` to a new value, or optional `note` to null (its default). */
  private case class SetA(id: String, attr: String, value: String) extends Op
  private case class Bulk(src: String, dst: String) extends Op
  /** checkpointed(), after a point read that builds the index when `read`. */
  private case class Ckpt(read: Boolean) extends Op

  // ids an AddN may use: an existing one (a duplicate node row) or a new one
  private val addIds = aIds :+ "a:4"

  private val genOp: Gen[Op] = Gen.oneOf(
    for { s <- Gen.oneOf(aIds); d <- Gen.oneOf(bIds) } yield Add("r", s, d),
    for { s <- Gen.oneOf(aIds); d <- Gen.oneOf(bIds) } yield Rem("r", s, d),
    for { s <- Gen.oneOf(aIds); d <- Gen.oneOf(bIds) } yield Add("fav", s, d),
    for { s <- Gen.oneOf(aIds); ds <- Gen.someOf(bIds.take(1)) } yield SetR(s, ds.toSeq),
    for { s <- Gen.oneOf(aIds) } yield Clear("r", s),
    for { d <- Gen.oneOf(bIds) } yield Del(d),
    for { s <- Gen.oneOf(aIds); d <- Gen.oneOf(aIds) } yield Add("peer", s, d),
    for { s <- Gen.oneOf(aIds); d <- Gen.oneOf(aIds) } yield Rem("peer", s, d),
    for { id <- Gen.oneOf(addIds) } yield AddN(id),
    for {
      id <- Gen.oneOf(addIds)
      (attr, v) <- Gen.oneOf(("name", "x"), ("name", "a:1"), ("note", null))
    } yield SetA(id, attr, v),
    for { s <- Gen.oneOf(aIds); d <- Gen.oneOf(bIds) } yield Bulk(s, d),
    Gen.oneOf(true, false).map(Ckpt))

  private val genOps: Gen[List[Op]] = Gen.listOfN(5, genOp)

  private def deleted(ops: List[Op]): Set[String] =
    ops.collect { case Del(id) => id }.toSet

  private def apply(g: PropertyGraph, op: Op): PropertyGraph = op match {
    case Add(rel, s, d) => g.addRelated(rel, s, d)
    case Rem(rel, s, d) => g.removeRelated(rel, s, d)
    case SetR(s, ds) => g.setRelated("r", s, ds)
    case Clear(rel, s) => g.clearRelated(rel, s)
    case Del(id) => g.deleteNode("B", id)
    case AddN(id) => g.addNode("A", id, Map("name" -> id))
    case SetA(id, attr, v) => g.setAttribute("A", id, attr, v)
    case Bulk(s, d) =>
      import spark.implicits._
      g.addRelatedBulk("r", Seq((s, d)).toDF("src", "dst"))
    case Ckpt(read) =>
      if (read) g.isRelated("r", aIds.head, bIds.head)
      g.checkpointed()
  }

  // deleteNode makes later point-ops on that id semantically "node missing";
  // skip those ops (the reference would error the lookup) so sequences stay
  // valid while deletes still interleave with edge ops
  private def applyAll(ops: List[Op]): PropertyGraph =
    ops.foldLeft((base, Set.empty[String])) { case ((g, gone), op) =>
      val touchesGone = op match {
        case Add(_, _, d) => gone(d)
        case Rem(_, _, d) => gone(d)
        case SetR(_, ds) => ds.exists(gone)
        case Bulk(_, d) => gone(d)
        case _ => false
      }
      if (touchesGone) (g, gone)
      else (apply(g, op), op match { case Del(id) => gone + id; case _ => gone })
    }._1

  private def edgePairs(g: PropertyGraph, rel: String): Seq[(String, String)] =
    g.edges(rel).collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8).withWorkers(1), p)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("(a) inverse view is exactly the swapped edge multiset") {
    check(Prop.forAll(genOps) { ops =>
      val g = applyAll(ops)
      val fwd = edgePairs(g, "r")
      val inv = edgePairs(g, "rInv").map(_.swap).sorted
      fwd == inv
    })
  }

  test("(b) cascade delete leaves no dangling edges") {
    check(Prop.forAll(genOps) { ops =>
      val g = applyAll(ops)
      val as = g.nodes("A").collect().map(_.getString(0)).toSet
      val bs = g.nodes("B").collect().map(_.getString(0)).toSet
      Seq("r", "fav").forall { rel =>
        edgePairs(g, rel).forall { case (s, d) => as(s) && bs(d) }
      }
    })
  }

  test("(b2) orphanEdges is empty under any typed-API op sequence") {
    // the typed mutation surface (add/remove/set/clear/cascade-delete) can
    // never create a dangling endpoint — only raw bulk ingest can — so the
    // referential validation query must agree with invariant (b) verbatim
    check(Prop.forAll(genOps) { ops =>
      applyAll(ops).orphanEdges().count() == 0L
    })
  }

  test("(c) cardinality violations flag exactly the out-of-shape nodes") {
    check(Prop.forAll(genOps) { ops =>
      val g = applyAll(ops)
      val favCounts = edgePairs(g, "fav").groupBy(_._1).view.mapValues(_.size)
      val expected = favCounts.filter(_._2 > 1).keySet.toSet // Optional: <=1
      val got = g.cardinalityViolations().collect()
        .filter(_.getString(0) == "fav").map(_.getString(1)).toSet
      got == expected
    })
  }

  test("(d) setRelated is clear + add-fold") {
    check(Prop.forAll(Gen.oneOf(aIds), Gen.someOf(bIds)) { (src, dsts) =>
      val viaSet = base.setRelated("r", src, dsts.toSeq)
      val viaFold = dsts.foldLeft(base.clearRelated("r", src)) { (g, d) =>
        g.addRelated("r", src, d)
      }
      edgePairs(viaSet, "r") == edgePairs(viaFold, "r")
    })
  }

  /** Every point answer of `g`, an exception counting as its class and
    * message: isRelated in each direction, getAttribute (a missing node
    * included), lookupBy with 0, 1 and more hits, and the bags of two-hop
    * traversals from literal starts.
    */
  private def pointAnswers(g: PropertyGraph): Seq[Any] = {
    import org.apache.spark.sql.functions.col
    def ans(v: => Any): Any =
      try v catch { case e: Exception => (e.getClass.getName, e.getMessage) }
    def bag(t: graft.graph.Traversal): Any =
      ans(t.ids.collect().map(_.getString(0)).toSeq.sorted)
    val as = addIds :+ "a:9"
    val related = for {
      a <- as; b <- bIds ++ as
      (rel, s, d) <- Seq(("r", a, b), ("rInv", b, a), ("fav", a, b), ("favOf", b, a),
        ("peer", a, b))
    } yield ans(g.isRelated(rel, s, d))
    val attrs = for (a <- as; attr <- Seq("name", "note")) yield ans(g.getAttribute("A", a, attr))
    val lookups = Seq("a:1", "a:2", "x", "zzz").map(v => ans(g.lookupBy("A", "name", v))) :+
      ans(g.lookupBy("A", "note", "")) :+ ans(g.lookupBy("B", "name", "b:1"))
    def names(df: org.apache.spark.sql.DataFrame): Any =
      ans(df.collect().map(r => String.valueOf(r.get(0))).toSeq.sorted)
    val bags = as.flatMap { a =>
      val from = g.from("A").filter(col("id") === a)
      val viaR = from.related("r").related("rInv")
      val peers = from.related("peer")
      val unknown = g.from("A").filter(col("name") === a).related("peer")
      Seq(bag(viaR), bag(from.related("peer").related("fav")),
        bag(viaR.unionAll(peers)), bag(viaR.exceptAll(peers)), bag(peers.exceptAll(viaR)),
        bag(peers.unionAll(unknown)), bag(viaR.exceptAll(unknown)),
        names(viaR.unionAll(peers).attr("name")), names(peers.attr("note")),
        names(from.attr("note")),
        ans(viaR.unionAll(peers).ids.distinct().count()),
        names(viaR.exceptAll(peers).ids.groupBy("id").count().select(col("count"))))
    } ++ bIds.map { b =>
      bag(g.from("B").filter(col("id").isin(b, "a:1", b)).related("rInv").related("peer"))
    }
    related ++ attrs ++ lookups ++ bags
  }

  test("index law: indexed answers equal the scan path's under any op sequence") {
    check(Prop.forAll(Gen.listOfN(6, genOp)) { ops =>
      val g = applyAll(ops)
      val indexed = pointAnswers(g)
      val scanned = Regime.atScale(pointAnswers(g))
      if (indexed != scanned)
        println(s"index law: $ops\n  indexed $indexed\n  scanned $scanned")
      indexed == scanned
    })
  }

  test("(e) optional attribute reads default to the mempty image under any ops") {
    check(Prop.forAll(genOps, Gen.oneOf(aIds)) { (ops, id) =>
      val g = applyAll(ops)
      g.getAttribute("A", id, "note") == ""
    })
  }

  test("(g) block dedup conserves blocks: dup count == instances - distinct") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // tiny vocab forces collisions; the invariant is exact bookkeeping:
    // across the corpus, every block instance beyond its text's first
    // occurrence is charged to exactly one document
    val genDocs = Gen.nonEmptyListOf(Gen.listOfN(6, Gen.oneOf("a", "b"))
      .map(_.mkString(" ")))
    check(Prop.forAll(genDocs) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = graft.dedup.Dedup.blockDedup(docs, "doc_id", "text", blockTokens = 2)
        .collect()
      val totalBlocks = out.map(_.getAs[Long]("n_blocks")).sum
      val dupBlocks = out.map(_.getAs[Long]("n_dup_blocks")).sum
      val distinctBlocks = texts.flatMap(_.split(" ").grouped(2).map(_.mkString(" ")))
        .distinct.size
      totalBlocks - dupBlocks == distinctBlocks.toLong
    })
  }

  test("(f) chunking laws hold for random doc lengths and window shapes") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val gen = for {
      sizes <- Gen.nonEmptyListOf(Gen.choose(1, 40))
      chunk <- Gen.choose(1, 12)
      stride <- Gen.choose(1, chunk)
    } yield (sizes, chunk, stride)
    check(Prop.forAll(gen) { case (sizes, chunk, stride) =>
      val docs = sizes.zipWithIndex
        .map { case (n, i) => (i.toLong, Seq.fill(n)("w").mkString(" ")) }
        .toDF("doc_id", "text")
      val out = graft.operators.Chunking
        .chunk(docs, "doc_id", "text", chunk, stride)
        .collect()
        .groupBy(_.getAs[Long]("doc_id"))
        .view.mapValues(_.sortBy(_.getAs[Int]("chunk_idx"))).toMap
      sizes.zipWithIndex.forall { case (n, i) =>
        val rows = out(i.toLong)
        val expectChunks = if (n <= chunk) 1 else ((n - chunk + stride - 1) / stride) + 1
        rows.length == expectChunks &&
          // every chunk has the clipped-window length...
          rows.forall { r =>
            val start = r.getAs[Int]("chunk_idx") * stride
            r.getAs[Int]("n_chunk_tokens") == math.min(chunk, n - start)
          } &&
          // ...and re-concatenating non-overlap parts reconstructs the doc
          rows.map(r => math.min(
            if (r.getAs[Int]("chunk_idx") == 0) chunk else stride,
            math.max(n - r.getAs[Int]("chunk_idx") * stride, 0))).sum >= n
      }
    })
  }
}
