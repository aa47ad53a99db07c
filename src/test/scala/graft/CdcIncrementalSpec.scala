package graft

import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Laws for the incremental CDC substring dedup (t35) and its streaming
  * form (s13's operator core): staged ≡ whole-corpus equivalence, planted
  * cross-regime duplicates, and writer/reader parameter safety.
  */
class CdcIncrementalSpec extends SparkSpec {

  import spark.implicits._

  private def normalized(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq

  test("incremental CDC ≡ whole-corpus cdcDedup restricted to batch docs") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val split = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    withTempDir("graft_cdc_spec_") { store =>
      Dedup.stageCdcChunks(docs.where(col("doc_id") < split),
        "doc_id", "text", avgChunkTokens = 20).write(store)
      val staged = Dedup.StagedChunkStore.read(spark, store)
      val incremental = normalized(Dedup.cdcDedupIncremental(
        staged, docs.where(col("doc_id") >= split), "doc_id", "text"))
      val whole = normalized(Dedup.cdcDedup(docs, "doc_id", "text",
        avgChunkTokens = 20).where(col("doc_id") >= split))
      assert(incremental === whole,
        "incremental verdicts diverge from the whole-corpus run")
    }
  }

  test("corpus span behind a different preamble dedups; new shared span ranks by id") {
    // 150-token span planted in a corpus doc; batch doc 10 carries it
    // behind a 7-token preamble (no grid alignment — the CDC premise);
    // batch docs 11 < 12 share a NEW 150-token span: the lower id is the
    // first occurrence and must stay clean, the higher id must flag.
    val spanA = (0 until 150).map(i => s"a${i % 97}b$i").mkString(" ")
    val spanB = (0 until 150).map(i => s"c${i % 89}d$i").mkString(" ")
    def noise(seed: Int, n: Int) =
      (0 until n).map(j => s"u${seed}v$j").mkString(" ")
    val docs = Seq(
      (0L, spanA),
      (1L, noise(1, 160)),
      (10L, noise(10, 7) + " " + spanA),
      (11L, spanB),
      (12L, noise(12, 7) + " " + spanB),
      (13L, noise(13, 160))).toDF("doc_id", "text")
    val staged = Dedup.stageCdcChunks(docs.where(col("doc_id") < 10),
      "doc_id", "text", avgChunkTokens = 20)
    val out = Dedup.cdcDedupIncremental(
        staged, docs.where(col("doc_id") >= 10), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(10L) > 0, "corpus span behind a shifted preamble not flagged")
    assert(out(11L) === 0, "first occurrence of a new span wrongly flagged")
    assert(out(12L) > 0, "same-batch duplicate of a new span not flagged")
    assert(out(13L) === 0, "unique batch doc wrongly flagged")
  }

  test("compacted: compact(stage + fold ticks) ≡ stage(union corpus)") {
    // the t42 law replayed for the CDC LSM (t43): a corpus store plus one
    // writeTick fold delta, compacted, must serve verdicts row-identical
    // to a from-scratch store over corpus ∪ fold — and the compacted
    // hashes must be the distinct union, laid out in one generation
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (s1, s2) = (maxId - 199L, maxId - 99L)
    withTempDir("graft_cdc_compact_") { work =>
      Dedup.stageCdcChunks(docs.where(col("doc_id") < s1),
        "doc_id", "text", avgChunkTokens = 20).write(s"$work/src")
      val store = Dedup.StagedChunkStore.read(spark, s"$work/src")
      val newHashes = Dedup.cdcDedupIncrementalWithHashes(store.hashes,
        docs.where(col("doc_id") >= s1 && col("doc_id") < s2),
        "doc_id", "text", avgChunkTokens = 20)._2
      graft.streaming.Streams.writeTick(newHashes, s"$work/overlay", 0L)
      Dedup.compactChunkStore(spark, s"$work/src", s"$work/dst",
        Seq(s"$work/overlay"))

      val batch = docs.where(col("doc_id") >= s2)
      val served = normalized(Dedup.cdcDedupIncremental(
        Dedup.StagedChunkStore.read(spark, s"$work/dst"), batch,
        "doc_id", "text"))
      val restaged = Dedup.stageCdcChunks(docs.where(col("doc_id") < s2),
        "doc_id", "text", avgChunkTokens = 20)
      assert(served === normalized(Dedup.cdcDedupIncremental(
          restaged, batch, "doc_id", "text")),
        "compacted store diverged from a from-scratch union store")

      // structural: distinct hashes, count = distinct union's
      val compacted = spark.read.parquet(s"$work/dst/chunk_hashes")
      assert(compacted.count() === restaged.hashes.count())
      assert(compacted.distinct().count() === compacted.count(),
        "compacted store holds duplicate hashes")
      // meta travels verbatim
      val m = spark.read.parquet(s"$work/dst/meta").head()
      assert(m.getInt(0) === 20 && m.getInt(1) === Dedup.TokenizerVersion)
      // never in place — src or overlay as destination is refused
      intercept[IllegalArgumentException] {
        Dedup.compactChunkStore(spark, s"$work/src", s"$work/src/./")
      }
      intercept[IllegalArgumentException] {
        Dedup.compactChunkStore(spark, s"$work/src", s"$work/overlay",
          Seq(s"$work/overlay"))
      }
    }
  }

  test("a store written by a different tokenizer version is refused") {
    val docs = Seq((0L, "a b c"), (1L, "d e f")).toDF("doc_id", "text")
    val good = Dedup.stageCdcChunks(docs.where(col("doc_id") < 1),
      "doc_id", "text")
    val impostor = Dedup.StagedChunkStore(good.hashes,
      Seq((20, Dedup.TokenizerVersion + 1))
        .toDF("avg_chunk_tokens", "tokenizer_version"))
    val e = intercept[IllegalArgumentException] {
      Dedup.cdcDedupIncremental(impostor, docs.where(col("doc_id") >= 1),
        "doc_id", "text")
    }
    assert(e.getMessage.contains("tokenizer"),
      s"wrong rejection message: ${e.getMessage}")
  }

  test("store-side plan: no exchange or aggregation above the stored scan") {
    // the pruneToBatch contract on the chunk store: the stored side must
    // reach the broadcast semi join as a plain ranged scan — corpus-sized
    // work stays at ingest (the LlmOpsSpec staged-postings pin, replayed
    // for the chunk-hash key)
    val docs = (0 until 40)
      .map(i => (i.toLong, (0 until 30).map(j => s"w${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    withTempDir("graft_cdc_plan_") { store =>
      Dedup.stageCdcChunks(docs.where(col("doc_id") < 20),
        "doc_id", "text", avgChunkTokens = 5).write(store)
      val staged = Dedup.StagedChunkStore.read(spark, store)
      // the operator pins (localCheckpoint) the pruned `present` frame, so
      // the verdict plan only shows a Scan ExistingRDD — audit the prune
      // SUBTREE itself, which is the contract: stored scan → ranged filter
      // → broadcast LEFT SEMI, no exchange or aggregation on the way
      val batchHashes = Dedup.cdcChunkOccurrences(
          docs.where(col("doc_id") >= 20), "doc_id", "text", 5)
        .select(col("chunk_hash")).distinct()
      val pruned = Dedup.pruneToBatch(staged.hashes, batchHashes,
        keyCol = "chunk_hash")
      // found in the plan TREE, not its string: Spark truncates a long
      // file location in the string, cutting the table name off
      val plan = pruned.queryExecution.executedPlan
      def kids(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      // root → … → node, the first node `hit` picks in pre-order
      def pathTo(p: SparkPlan, hit: SparkPlan => Boolean): Option[List[SparkPlan]] =
        if (hit(p)) Some(List(p))
        else kids(p).iterator.map(pathTo(_, hit)).collectFirst { case Some(t) => p :: t }
      val root = new java.io.File(store).getCanonicalPath
      val semi = pathTo(plan, {
        case j: BaseJoinExec => j.joinType == LeftSemi
        case _ => false
      }).map(_.last).getOrElse(fail(s"no semi join in the prune plan:\n$plan"))
      val toScan = pathTo(semi, {
        case f: FileSourceScanExec => f.relation.location.rootPaths.forall(
          r => new java.io.File(r.toUri).getCanonicalPath.startsWith(root))
        case _ => false
      }).getOrElse(fail(s"stored scan not under the semi join:\n$plan"))
      val between = toScan.tail.init
      assert(!between.exists {
        case _: HashAggregateExec => true
        case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[HashPartitioning]
        case _ => false
      }, s"aggregation/exchange above the stored scan:\n$plan")
      // and the batch's hash range is pushed to the stored scan as a filter
      val scan = toScan.last.asInstanceOf[FileSourceScanExec]
      assert(between.exists(_.isInstanceOf[FilterExec]) ||
        scan.metadata.get("PushedFilters").exists(
          _.contains("GreaterThanOrEqual(chunk_hash")),
        s"batch hash range not pushed to the stored scan:\n$plan")
    }
  }
}
