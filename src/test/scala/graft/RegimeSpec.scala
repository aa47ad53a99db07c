package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.dedup.Dedup
import graft.graph.{DemoGraph, GraphAlgos}
import graft.operators.{Retrieval, SaltedJoin, Sketch, TfIdf}
import graft.schema.GraphSchema
import graft.similarity.Ann

/** The one small-input-vs-scale policy ([[Regime]]): the test hook itself,
  * the regime law over every dual-regime site, and plan evidence that the
  * scale branches no other spec reached do run.
  */
class RegimeSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
  private def embs = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")

  // a multi-edge detour, a parallel edge, a triangle pair, and an island
  private def edges = Seq(
    (0L, 1L, 10.0), (0L, 2L, 1.0), (2L, 1L, 2.0), (2L, 1L, 7.0), (1L, 3L, 1.0),
    (3L, 0L, 1.0), (1L, 4L, 1.0), (4L, 3L, 1.0), (8L, 9L, 1.0))
    .toDF("src", "dst", "weight")
  private def pairs = edges.select(col("src"), col("dst"))
  private def verts = (0L to 9L).toDF("vid")

  /** The executed plans of every SQL execution `body` runs (eager
    * checkpoints included), read off a QueryExecutionListener. Listener
    * events arrive in posting order, so a fence query run after `body`
    * delimits them.
    */
  private def plansOf(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val fence = s"regime_fence_${System.nanoTime()}"
      spark.range(1).select(col("id").as(fence)).collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.asScala.exists(_.contains(fence)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.asScala.exists(_.contains(fence)), "the listener never saw the fence")
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("Regime.atScale forces every choice, reaches threads it starts, and ends with its scope") {
    assert(Regime.fits(5L, 5L) && !Regime.fits(6L, 5L))
    assert(Regime.broadcastable(BigInt(1)))
    Regime.atScale {
      assert(!Regime.fits(0L, 5L))
      assert(!Regime.broadcastable(BigInt(1)))
      @volatile var childFits = true
      val t = new Thread(() => childFits = Regime.fits(0L, 5L))
      t.start(); t.join()
      assert(!childFits, "a thread started inside the scope must take the scale branch")
    }
    assert(Regime.fits(0L, 5L), "the scope must end with its body")
    intercept[IllegalStateException](Regime.atScale(throw new IllegalStateException("x")))
    assert(Regime.fits(0L, 5L), "the scope must end when its body throws")
    // a negative threshold, Spark's documented off switch, never broadcasts
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(!Regime.broadcastable(BigInt(0)))
    }
  }

  test("regime law: every dual-regime site answers the same rows at scale") {
    // GraphAlgos
    regimeLaw("weightedDistanceLong: local relax, broadcast frontier")(
      GraphAlgos.weightedDistanceLong(edges, 0L, 4))
    regimeLaw("weightedDistanceLong directed")(
      GraphAlgos.weightedDistanceLong(edges, 0L, 4, directed = true))
    regimeLaw("connectedComponentsLong: union-find")(
      GraphAlgos.connectedComponentsLong(pairs))
    regimeLaw("pageRankFixedPointLong: local, broadcast contributions")(
      GraphAlgos.pageRankFixedPointLong(verts, pairs, iters = 5))
    regimeLaw("triangleCountEdges: broadcast adjacency")(
      GraphAlgos.triangleCountEdges(pairs.toDF("u", "v")))
    // Dedup
    regimeLaw("minhashPairs: banded broadcast")(
      Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5))
    regimeLaw("simhashPairs: banded broadcast")(
      Dedup.simhashPairs(docs, "doc_id", "text"))
    regimeLaw("ppjoinPairs: prefix and verification broadcasts")(
      Dedup.ppjoinPairs(docs, "doc_id", "text", threshold = 0.5))
    regimeLaw("contamination: broadcast eval postings")(
      Dedup.contamination(docs, docs.where(col("doc_id") % 50 === 0),
        "doc_id", "text"))
    // Ann: 100 cells make nSuper = 2 at scale, both probed by default, so
    // the hierarchical assignment is exact, not approximate
    val cent = Ann.seedCentroids(embs, "vec_id", "embedding", 100)
    regimeLaw("assignCells: flat dispatch, broadcast leaf cells")(
      Ann.assignCells(cent, embs, "vec_id", "embedding", "corpus", keep = 1,
        nCells = 100).select("corpus_id", "cluster_id"))
    regimeLaw("pruneToCells: IN-list literals")(
      Ann.pruneToCells(embs.select(col("vec_id"), (col("vec_id") % 16).as("cell")),
        "cell", embs.where(col("vec_id") % 7 === 0).select(col("vec_id") % 16)))
    // operators
    withTempDir("graft_regime_bm25_") { dir =>
      Retrieval.stageBm25Index(docs, "doc_id", "text").write(dir)
      regimeLaw("bm25TopKStaged: IN-list literals")(Retrieval.bm25TopKStaged(
        Retrieval.StagedBm25Index.read(spark, dir),
        docs.where(col("doc_id") % 100 === 0), "doc_id", "text", k = 5))
    }
    regimeLaw("topTerms: broadcast idf kernel")(
      TfIdf.topTerms(docs, "doc_id", "text", k = 3))
    val tokens = docs.select(explode(split(col("text"), " ")).as("term"))
    regimeLaw("heavyHitters: one-pass naive plan")(
      Sketch.heavyHitters(tokens, "term", 50L))
    regimeLaw("heavyHittersByShare: one-pass naive plan")(
      Sketch.heavyHittersByShare(tokens, "term", 0.005))
    val fact = (0 until 200).map(i => (i % 5, i)).toDF("k", "v")
    val dim = (0 until 5).map(i => (i, s"d$i")).toDF("k", "name")
    regimeLaw("SaltedJoin.join: broadcastable dim")(
      SaltedJoin.join(fact, dim, Seq("k")))
    // PropertyGraph: the snapshot index against the scan path
    val g = DemoGraph.bigBang(spark).checkpointed()
    regimeLaw("PropertyGraph.isRelated: snapshot index")(Seq(
      g.isRelated("friend", "person:bob", "person:jane"),
      g.isRelated("friendOf", "person:bob", "person:jane"),
      g.isRelated("spouse", "person:jane", "person:bob")).toDF("related"))
    regimeLaw("PropertyGraph.getAttribute: snapshot index")(Seq(
      g.getAttribute("Person", "person:jose", "age").toString,
      g.getAttribute("Object", "object:map", "name").toString).toDF("value"))
    regimeLaw("PropertyGraph.lookupBy: snapshot index")(
      Seq(g.lookupBy("Person", "name", "Jane")).toDF("id"))
    regimeLaw("Traversal.related: CSR walk from a literal start")(
      g.from("Person").filter(col(GraphSchema.IdCol) === "person:bob")
        .related("friend").related("possession").ids)
    regimeLaw("Traversal.exceptAll/attr: driver-side bag algebra")(
      DemoGraph.missingTools(g, "Bob"))
    regimeLaw("LocalPlans: aggregate folded over a local relation")(
      Seq((1, 10L), (1, 5L), (2, 7L), (3, 7L)).toDF("k", "v")
        .groupBy("k").agg(count(lit(1)), sum("v"), max("v")))
    g.release()
  }

  test("the scale branches no earlier spec reached run their scale plans") {
    // broadcast disabled for Catalyst and AQE alike: the only broadcasts
    // left are the kernels' own hints, so their absence shows the branch
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def shuffledOnly(plans: Seq[String], what: String): Unit = {
        assert(plans.exists(_.contains("SortMergeJoin")), s"$what ran no join")
        assert(!plans.exists(_.contains("BroadcastHashJoin")),
          s"$what broadcast at scale:\n${plans.mkString("\n")}")
      }
      // BroadcastFrontierMaxRows: each SSSP round joins its frontier by shuffle
      shuffledOnly(plansOf(Regime.atScale(
        GraphAlgos.weightedDistanceLong(edges, 0L, 3).collect())), "SSSP")
      // PageRankBroadcastMaxVerts: the contributions are not broadcast
      shuffledOnly(plansOf(Regime.atScale(
        GraphAlgos.pageRankFixedPointLong(verts, pairs, iters = 3).collect())),
        "PageRank")
      // BroadcastAdjacencyMaxEdges: the triangle joins shuffle, where the
      // default regime broadcasts the degrees and the adjacency
      val uv = pairs.toDF("u", "v")
      assert(plansOf(GraphAlgos.triangleCountEdges(uv).collect())
        .exists(_.contains("BroadcastHashJoin")), "triangles should broadcast by default")
      shuffledOnly(plansOf(Regime.atScale(GraphAlgos.triangleCountEdges(uv).collect())),
        "triangles")
    }
    // BroadcastCellsMax: the hierarchical leaf join salts at scale
    val cent = Ann.seedCentroids(embs, "vec_id", "embedding", 100)
    def leaf(): DataFrame = Ann.assignCellsHierarchical(cent, embs, "vec_id",
      "embedding", "corpus", keep = 1, nCells = 100)
    assert(!leaf().queryExecution.optimizedPlan.toString.contains("__salt"))
    val salted = Regime.atScale(leaf())
    assert(salted.queryExecution.optimizedPlan.toString.contains("__salt"),
      "the scale leaf join should be salted")
    assert(salted.select("corpus_id", "cluster_id").collect().toSet ===
      leaf().select("corpus_id", "cluster_id").collect().toSet)
  }
}
