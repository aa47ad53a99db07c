package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** Round-18 same-session interleaved A/B experiments (the round-17 A/B
  * harness: hypervisor steal swings cross-run totals 1.5-2x within
  * minutes, so every A/B runs its variant pairs back-to-back x3 inside
  * ONE session and reports per-rep seconds).
  *
  *   E1  s15 seal: ownership-transfer seal (shipped, r18) vs the pre-r18
  *       seal cost emulated on top (eager edge-table localCheckpoint +
  *       immediate tick-pin free — exactly the work the old seal did
  *       that the new one skips)
  *   E2  staged BM25 serve construct: the pre-r18 two sequential driver
  *       jobs (pruned-df collect, then stats head) vs the shipped single
  *       tagged-union collect, on the t37 staged index
  *
  * Run: sbt -batch "Test/runMain graft.R18AbExperiment /root/testdata/sf0.1"
  */
object R18AbExperiment {

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def fmt(ts: Seq[(Double, Double)]): String =
      ts.map { case (a, b) => f"(old=$a%.3f, new=$b%.3f)" }.mkString(" ")
    def cleanup(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.streams.resetTerminated()
    }

    // ---- E1: the s15 gate end-to-end; OLD emulates the pre-r18 seal by
    // re-checkpointing the folded edge table eagerly and freeing the tick
    // pins right away (the exact extra work the ownership seal removes)
    def s15(oldSeal: Boolean): Unit = {
      val (base, tail) =
        graft.queries.GraphQueries.tpchPlacedSplit(spark, sf, 250)
      var folded = Streams.graphIngest(spark, base, "placed", tail,
        nInputFiles = 2)
      if (oldSeal) {
        val stored = folded.schema.relation("placed").rel.name
        val old = folded.edgeTables(stored)
        val sealedEdges = old.localCheckpoint(true)
        graft.Pinned.free(old)
        folded = folded.copy(
          edgeTables = folded.edgeTables.updated(stored, sealedEdges))
      }
      val out = folded
        .from("Customer").filter(col("segment") === "BUILDING")
        .related("placed")
        .df.groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("totalprice")), 2).as("total_spent"))
        .localCheckpoint(true)
      folded.release()
      graft.Pinned.free(out)
    }
    s15(true); s15(false) // warm
    val e1 = (1 to 3).map { _ =>
      val r = (timed(s15(oldSeal = true)), timed(s15(oldSeal = false)))
      cleanup(); r
    }
    println(s"[r18ab] E1 s15 seal old-vs-new: ${fmt(e1)}")

    // ---- E2: staged serve construct, old two-job vs shipped one-collect,
    // measured END TO END on the t37 serve (construct + scoring job)
    val docs = graft.queries.Tables.t(spark, sf, "documents")
    val queries = docs.where(col("doc_id") % 100 === 0)
    val idxDir = java.nio.file.Files.createTempDirectory("graft_r18ab_").toString
    graft.operators.Retrieval.stageBm25Index(docs, "doc_id", "text").write(idxDir)
    val index = graft.operators.Retrieval.StagedBm25Index.read(spark, idxDir)

    // both construct variants behind the SAME vocab collect: A = the two
    // sequential pre-r18 driver jobs (df collect, stats head); B = the
    // shipped single tagged-union collect — the delta is exactly the
    // construct change
    def withPrune(body: (org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) => Unit): Unit = {
      val qTerms = queries.select(col("doc_id").as("query_id"),
        explode(array_distinct(graft.functions.TextFunctions.tokens(
          col("text")))).as("term"))
      val vocab = qTerms.select(col("term")).distinct()
        .limit(1001).collect().map(_.getString(0))
      implicit val binary: Ordering[String] =
        Ordering.comparatorToOrdering(
          (a: String, b: String) =>
            org.apache.spark.unsafe.types.UTF8String.fromString(a)
              .compareTo(
                org.apache.spark.unsafe.types.UTF8String.fromString(b)))
      val (lo, hi) = (vocab.min(binary), vocab.max(binary))
      body(t => t.where(col("term").between(lo, hi) &&
        col("term").isin(vocab.toSeq: _*)))
    }
    def constructOld(): Unit = withPrune { prune =>
      val dfLocal = prune(index.termDf)
        .groupBy(col("term")).agg(sum(col("df")).as("df"))
        .collect()
      val st = index.stats
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
        .head()
      locally((dfLocal, st))
    }
    def constructNew(): Unit = withPrune { prune =>
      val rows = prune(index.termDf)
        .groupBy(col("term")).agg(sum(col("df")).as("a"))
        .select(col("term"), col("a"), lit(null).cast("long").as("b"))
        .unionAll(index.stats
          .agg(sum(col("n_docs")).as("a"), sum(col("sum_dl")).as("b"))
          .select(lit(null).cast("string").as("term"), col("a"), col("b")))
        .collect()
      locally(rows)
    }
    constructOld(); constructNew() // warm
    val e2 = (1 to 5).map { _ =>
      val r = (timed(constructOld()), timed(constructNew()))
      cleanup(); r
    }
    println(s"[r18ab] E2 serve construct 2-jobs-vs-1-union-collect: ${fmt(e2)}")
    // and the shipped end-to-end serve for context (not an A/B)
    def serveNew(): Unit = {
      val out = graft.operators.Retrieval.bm25TopKStaged(index, queries,
        "doc_id", "text", k = 10)
      out.write.format("noop").mode("overwrite").save()
    }
    serveNew()
    val serveT = (1 to 3).map(_ => timed(serveNew()))
    println(f"[r18ab] E2 shipped serve end-to-end: ${serveT.map(t => f"$t%.3f").mkString(" ")}")

    // ---- E3: concurrent per-tick sink writes (Streams.writeConcurrently)
    // vs the sequential path (-Dgraft.tickWrites.sequential=true), measured
    // END TO END on the s14 and s13 gates (staging cached per sf dir by
    // the gate, so each rep times drain + serve only)
    def gate(name: String): Unit = {
      graft.SparkEntry.queries(name)(spark, sf)
        .write.format("noop").mode("overwrite").save()
    }
    def withSeq[A](seqWrites: Boolean)(body: => A): A = {
      if (seqWrites) sys.props("graft.tickWrites.sequential") = "true"
      else sys.props.remove("graft.tickWrites.sequential")
      try body finally sys.props.remove("graft.tickWrites.sequential")
    }
    for (g <- Seq("s14_stream_bm25_ingest", "s13_stream_cdc_ingest")) {
      withSeq(true)(gate(g)); withSeq(false)(gate(g)) // warm + stage
      cleanup()
      val e3 = (1 to 3).map { _ =>
        val r = (timed(withSeq(true)(gate(g))), timed(withSeq(false)(gate(g))))
        cleanup(); r
      }
      println(s"[r18ab] E3 $g tick-writes sequential-vs-concurrent: ${fmt(e3)}")
    }

    spark.stop()
  }
}
