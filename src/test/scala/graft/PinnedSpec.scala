package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.Pinned.PinSyntax
import graft.dedup.Dedup
import graft.graph.{DemoGraph, GraphAlgos, PropertyGraph}
import graft.operators.{GlobalOrder, Retrieval, Sketch}
import graft.schema.GraphSchema.{IdCol, SrcCol}
import graft.similarity.Ann

/** The one pin lifecycle ([[Pinned]]): the scope contract itself, the
  * residue law over every public pinning entry, and the source check that
  * keeps checkpoints and frees in one file.
  */
class PinnedSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
  private def embs = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")

  private def ids(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
  private def held(df: DataFrame): Boolean =
    ids(df).forall(spark.sparkContext.getPersistentRDDs.contains)

  test("a scope frees what its result cannot reach and hands the rest outward") {
    var scratch: DataFrame = null
    var inner: DataFrame = null
    var kept: DataFrame = null
    val out = Pinned.scope {
      kept = Pinned.scope {
        scratch = spark.range(4).toDF().pin(true)
        inner = spark.range(5).toDF().pin(true)
        inner.select(col("id") + 1)
      }
      assert(!held(scratch), "the scratch pin outlived its scope")
      assert(held(inner), "the result's pin was freed under it")
      kept.count()
    }
    assert(out === 5L)
    assert(!held(inner), "the enclosing scope must own the pin handed outward")
    // at top level the caller owns the pins the result reaches
    val top = Pinned.scope(spark.range(3).toDF().pin(false))
    assert(held(top) && top.count() === 3L)
    Pinned.free(top)
    assert(!held(top))
    // outside any scope a pin records nothing: it is the caller's
    val bare = spark.range(2).toDF().pin(true)
    Pinned.scope(spark.range(1).count())
    assert(held(bare))
    Pinned.free(bare)
  }

  test("a scope reaches through tuples, graphs and uncut lineage; a throw frees everything") {
    var lazyBase: DataFrame = null
    val (a, b) = Pinned.scope {
      val x = spark.range(3).toDF().pin(true)
      lazyBase = spark.range(6).toDF().pin(false)
      // a lazy pin over a lazy pin: the outer one still reads the inner
      (x, lazyBase.where(col("id") > 2).pin(false))
    }
    assert(held(a) && held(b) && held(lazyBase))
    assert(b.count() === 3L)
    Seq(a, b, lazyBase).foreach(Pinned.free)

    val g = DemoGraph.bigBang(spark)
    val pinned = Pinned.scope(g.checkpointed())
    assert((pinned.nodeTables.values ++ pinned.edgeTables.values).forall(held))
    pinned.release()

    var made: DataFrame = null
    intercept[IllegalStateException](Pinned.scope {
      made = spark.range(4).toDF().pin(true)
      throw new IllegalStateException("boom")
    })
    assert(!held(made), "a throwing body must free its pins")
  }

  test("pins made on a thread the scope started belong to it") {
    var child: DataFrame = null
    Pinned.scope {
      val t = new Thread(() => child = spark.range(4).toDF().pin(true))
      t.start(); t.join()
      assert(held(child))
    }
    assert(!held(child), "the child thread's pin outlived the scope")
  }

  test("residue detector calibration: a stray pin shows up") {
    // a pin the answer does not reach and nothing frees must fail the law
    var stray: DataFrame = null
    val blind = scala.util.Try(residueLaw("calibration") {
      stray = spark.range(8).toDF().pin(true)
      spark.range(1).toDF()
    })
    assert(blind.isFailure, "detector blind: a stray pin left no residue")
    Pinned.free(stray)
  }

  test("residue law: every public pinning entry, on its normal and throwing paths") {
    val g = DemoGraph.bigBang(spark)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (8L, 9L))
    val weighted = pairs.map { case (a, b) => (a, b, 1.0) }.toDF("src", "dst", "weight")
    val named = pairs.map { case (a, b) => (s"n$a", s"n$b", 1.0) }
      .toDF("src", "dst", "weight")
    val uv = weighted.select(col("src").as("u"), col("dst").as("v"))
    val verts = Seq(1L, 2L, 3L, 4L, 8L, 9L).toDF("vid")
    val boom = expr("raise_error('boom')")
    val failingEdges = PropertyGraph(g.schema, g.nodeTables,
      g.edgeTables.map { case (r, df) => r -> df.withColumn(SrcCol, boom.cast("string")) })
    val failingNodes = PropertyGraph(g.schema,
      g.nodeTables.map { case (l, df) => l -> df.withColumn(IdCol, boom.cast("string")) },
      g.edgeTables)
    val m = 8; val ksub = 16
    val codebook = Ann.pqSeedCodebook(embs, "vec_id", "embedding", m, ksub)
    val cent = Ann.seedCentroids(embs, "vec_id", "embedding", 8)
    val layout = Ann.withPqCodes(
      Ann.withIvfQuantizedLayout(embs, "vec_id", "embedding", nCentroids = 8),
      "embedding", codebook, m, ksub)
    val tokens = docs.select(explode(split(col("text"), " ")).as("term"))
    // a lazy operator's pins belong to its caller's scope: the query
    // that reads its answer
    def query(df: => DataFrame) = Pinned.scope(df.collect())
    val entries: Seq[(String, Boolean, () => Any)] = Seq(
      // kernels: a materialized answer, scratch freed by the entry's scope
      ("relatedN", false, () => GraphAlgos.relatedN(g, "friend", "person:jane", 2)),
      ("hopDistance", false, () => GraphAlgos.hopDistance(g, "person:jane", 2)),
      ("connectedComponents", false, () => GraphAlgos.connectedComponents(g, Seq("friend"))),
      ("weightedDistance", false, () => GraphAlgos.weightedDistance(named, "n1", 3)),
      ("weightedDistanceLong local", false, () =>
        GraphAlgos.weightedDistanceLong(weighted, 1L, 3)),
      ("weightedDistanceLong distributed", false, () =>
        Regime.atScale(GraphAlgos.weightedDistanceLong(weighted, 1L, 3))),
      ("connectedComponentsLong local", false, () =>
        GraphAlgos.connectedComponentsLong(weighted)),
      ("connectedComponentsLong distributed", false, () =>
        Regime.atScale(GraphAlgos.connectedComponentsLong(weighted))),
      ("pageRankFixedPoint local", false, () => GraphAlgos.pageRankFixedPoint(g, iters = 3)),
      ("pageRankFixedPoint distributed", false, () =>
        Regime.atScale(GraphAlgos.pageRankFixedPoint(g, iters = 3))),
      ("pageRankFixedPointLong", false, () =>
        GraphAlgos.pageRankFixedPointLong(verts, weighted, iters = 3)),
      ("triangleCount", false, () => GraphAlgos.triangleCount(g, Seq("friend"))),
      ("triangleCountEdges", false, () => GraphAlgos.triangleCountEdges(uv)),
      ("triangleCountEdges at scale", false, () =>
        Regime.atScale(GraphAlgos.triangleCountEdges(uv))),
      ("Dedup.clusters", false, () =>
        Dedup.clusters(weighted.select(col("src").as("doc_a"), col("dst").as("doc_b")))),
      ("Retrieval.bm25TopK", false, () => Retrieval.bm25TopK(docs,
        docs.where(col("doc_id") % 100 === 0), "doc_id", "text", k = 3)),
      ("Ann.pqTrainedCodebook", false, () =>
        Ann.pqTrainedCodebook(embs, "vec_id", "embedding", m, ksub, iters = 2)),
      // queries: rows, owning no pins
      ("g06", false, () =>
        SparkEntry.queries("g06_pagerank_topk")(spark, TestSpark.sf0001).collect()),
      // lazy operators, read by a query
      ("Dedup.minhashPairs", false, () =>
        query(Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5))),
      ("Dedup.simhashPairs", false, () => query(Dedup.simhashPairs(docs, "doc_id", "text"))),
      ("Dedup.ngramJaccardPairs", false, () => query(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5, maxDf = 100))),
      ("Dedup.ppjoinPairs", false, () =>
        query(Dedup.ppjoinPairs(docs, "doc_id", "text", threshold = 0.5))),
      ("Dedup.embeddingPairs", false, () =>
        query(Dedup.embeddingPairs(embs, "vec_id", "embedding", threshold = 0.9))),
      ("Ann.ivfCentroids", false, () =>
        query(Ann.ivfCentroids(embs, "vec_id", "embedding", 8, lloydIters = 2))),
      ("Ann.ivfPqTopK", false, () => query(Ann.ivfPqTopK(layout, cent,
        embs.where(col("vec_id") < 5), "vec_id", "embedding", "pq_codes", codebook,
        k = 5, m = m, ksub = ksub, nProbe = 2, nCandidates = 50))),
      ("Sketch.heavyHittersByShare naive", false, () =>
        query(Sketch.heavyHittersByShare(tokens, "term", 0.005))),
      ("Sketch.heavyHittersByShare probe", false, () => query(Sketch.heavyHittersByShare(
        tokens, "term", 0.005, expectedVocab = Some(Sketch.SmallVocabMax + 1)))),
      ("GlobalOrder.rank", false, () =>
        query(GlobalOrder.rank(docs.select("doc_id"), Seq(col("doc_id"))))),
      // throwing paths
      ("pageRankFixedPointLong, failing edges", true, () =>
        GraphAlgos.pageRankFixedPointLong(verts,
          weighted.withColumn("src", boom.cast("long")), iters = 3)),
      ("triangleCount, failing edge table", true, () =>
        GraphAlgos.triangleCount(failingEdges, Seq("friend"))),
      ("triangleCount, failing node table", true, () =>
        GraphAlgos.triangleCount(failingNodes, Seq("friend"))),
      ("weightedDistance, unknown start", true, () =>
        GraphAlgos.weightedDistance(named, "nowhere", 3)))
    entries.foreach { case (name, throws, run) => residueLaw(name, throws)(run()) }
  }

  test("localCheckpoint, unpersist, cache and persist in src/main only in Pinned.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no source tree at ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val hits = for {
      f <- files(root) if f.getName.endsWith(".scala") && f.getName != "Pinned.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      if Seq("localCheckpoint(", ".unpersist(", ".cache()", ".persist(").exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"pin or free outside Pinned:\n${hits.mkString("\n")}")
  }
}
