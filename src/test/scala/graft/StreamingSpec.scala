package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.graph.DemoGraph
import graft.operators.Retrieval
import graft.queries.{EventQueries, StreamingQueries, Tables}
import graft.streaming.Streams

/** Streaming surface tests (SURVEY.md §5.2.5): batch-stream equivalence,
  * watermark late-data drop, and foreachBatch graph-snapshot updates.
  */
class StreamingSpec extends SparkSpec {

  private val dir = TestSpark.sf0001

  test("streaming tumbling agg == batch tumbling agg (equivalence oracle)") {
    val streamed = StreamingQueries.queries("s01_stream_tumbling_window")(spark, dir)
      .orderBy("hour_start", "event_type").collect()
    val batch = Tables.t(spark, dir, "events")
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .orderBy("hour_start", "event_type").collect()
    assert(streamed.sameElements(batch))
  }

  test("chained stateful aggs emit each hour exactly once as the watermark closes it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L - (1700000000000L % 3600000L) // hour-aligned
    def ev(id: Long, sec: Long, user: Long) =
      Streams.EventRow(id, new Timestamp(base + sec * 1000), user, "x", 1.0)
    val input = MemoryStream[Streams.EventRow]
    val out = Streams.hourlyActiveUsers(input.toDF(), watermark = "0 seconds")
    val name = "chained_out"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    // hour 0: users 1+2 (one event each); the first hour-1 event advances
    // the watermark past hour 0's end, closing it in the NEXT batch
    input.addData(ev(1, 0, 1), ev(2, 100, 2), ev(3, 3610, 1))
    q.processAllAvailable()
    input.addData(ev(4, 7300, 3)) // hour 2 opens, closes hour 1
    q.processAllAvailable()
    input.addData(ev(5, 10800, 1), ev(6, 10805, 3)) // hour 3 opens, closes hour 2
    q.processAllAvailable()
    val rows = spark.table(name).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    q.stop()
    assert(rows.size === rows.distinct.size, s"re-emitted hour rows: $rows")
    // format in UTC explicitly: Spark renders hour_start in the session
    // timezone (pinned UTC), while SimpleDateFormat defaults to the JVM
    // zone — on a non-UTC machine the two would disagree
    def hour(h: Int) = {
      val f = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
      f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      f.format(new java.util.Date(base + h * 3600000L))
    }
    // hour 3 is still open at the final watermark and is withheld
    assert(rows.toSet === Set(
      (hour(0), 2L, 2L), (hour(1), 1L, 1L), (hour(2), 1L, 1L)), s"got $rows")
  }

  test("stateful sessionization == batch sessions closed at the final watermark") {
    // independent batch recomputation of the watermark-confirmed contract:
    // lag/cumsum sessions, filtered to those whose end (last event + 30 min
    // gap) precedes the final watermark (global max ts - 10 min delay)
    val ev = Tables.t(spark, dir, "events")
    val maxTs = ev.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
          .otherwise(0))
      .withColumn("session_idx", sum(col("new_session")).over(
        byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .as("duration_sec"),
        round(sum(col("value")), 2).as("session_value"),
        unix_timestamp(max(col("ts"))).as("last_ts"))
      .where(col("last_ts") + 1800 < lit(maxTs) - 600)
      .drop("last_ts")
      .orderBy("user_id", "session_idx").collect()
    val streamed = StreamingQueries.queries("s02_stream_sessionization")(spark, dir)
      .orderBy("user_id", "session_idx").collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) === b.getLong(0))                       // user_id
      assert(s.getLong(1) === b.getAs[Number]("session_idx").longValue())
      assert(s.getLong(2) === b.getAs[Number]("n_events").longValue())
      assert(s.getLong(3) === b.getAs[Number]("duration_sec").longValue())
      assert(math.abs(s.getDouble(4) - b.getAs[Double]("session_value")) < 1e-9)
    }
  }

  test("sessionize: multi-batch stream emits each session once, state only for open tails") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    def ev(id: Long, sec: Long, user: Long, v: Double) =
      Streams.EventRow(id, new Timestamp(base + sec * 1000), user, "x", v)
    val input = MemoryStream[Streams.EventRow]
    val sessions = Streams.sessionize(
      input.toDS().withWatermark("ts", "0 seconds"), gapSec = 60)
    val name = "sess_bounded_out"
    val q = sessions.toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    // four micro-batches; watermark (delay 0) trails each batch's max ts
    input.addData(ev(1, 0, 1, 1.0), ev(2, 10, 1, 2.0), ev(3, 5, 2, 3.0),
      ev(4, 0, 3, 4.0))
    q.processAllAvailable()
    input.addData(ev(5, 200, 1, 1.0), ev(6, 210, 2, 1.0))
    q.processAllAvailable()
    input.addData(ev(7, 500, 1, 1.0), ev(8, 505, 2, 1.0))
    q.processAllAvailable()
    input.addData(ev(9, 1000, 1, 1.0), ev(10, 1000, 2, 1.0))
    q.processAllAvailable()
    val rows = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    // exactly once: no session row ever re-emitted across the 4 batches
    assert(rows.size === rows.distinct.size, s"duplicate session rows: $rows")
    // all sessions closed by the final watermark (ts=1000), in index order;
    // the t=1000 open tails of users 1 and 2 are withheld (watermark
    // contract — same as the builtin session_window)
    val expected = Set(
      (1L, 1L, 2L, 10L, 3.0), (1L, 2L, 1L, 0L, 1.0), (1L, 3L, 1L, 0L, 1.0),
      (2L, 1L, 1L, 0L, 3.0), (2L, 2L, 1L, 0L, 1.0), (2L, 3L, 1L, 0L, 1.0),
      (3L, 1L, 1L, 0L, 4.0))
    assert(rows.toSet === expected, s"got ${rows.sorted}")
    // bounded state: every user keeps at most a constant-size row (user 3
    // holds only the session counter — the event buffer is evicted; users
    // 1 and 2 hold their single open-tail session). The counter must
    // survive full confirmation or a later session would re-emit idx 1.
    val stateRows = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty).get.stateOperators(0).numRowsTotal
    q.stop()
    assert(stateRows === 3L,
      s"expected 3 constant-size state rows (2 open tails + 1 counter), got $stateRows")
  }

  test("custom sessionize and builtin session_window run multi-batch under RocksDB") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    def ev(id: Long, sec: Long, user: Long) =
      Streams.EventRow(id, new Timestamp(base + sec * 1000), user, "x", 1.0)
    def usedRocksDB(q: org.apache.spark.sql.streaming.StreamingQuery): Boolean =
      q.recentProgress.exists(_.stateOperators.exists(
        _.customMetrics.keySet().asScala.exists(_.toLowerCase.contains("rocksdb"))))

    Streams.withRocksDBStateStore(spark) {
      // the s02 operator: custom-state sessionize, three micro-batches
      val input = MemoryStream[Streams.EventRow]
      val q = Streams.sessionize(
        input.toDS().withWatermark("ts", "0 seconds"), gapSec = 60)
        .toDF().writeStream.format("memory").queryName("rocks_sess")
        .outputMode("append").start()
      input.addData(ev(1, 0, 1), ev(2, 10, 1)); q.processAllAvailable()
      input.addData(ev(3, 200, 1)); q.processAllAvailable()
      input.addData(ev(4, 1000, 1)); q.processAllAvailable()
      val rocks = usedRocksDB(q)
      q.stop()
      val rows = spark.table("rocks_sess").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // sessions [0,70) and [200,260) close under the final watermark
      // (ts=1000); the t=1000 open tail is withheld
      assert(rows === Set((1L, 1L, 2L), (1L, 2L, 1L)), s"got $rows")
      assert(rocks, "sessionize state operator must report RocksDB metrics")

      // the s05 operator: builtin session_window, same batch sequence
      val input2 = MemoryStream[Streams.EventRow]
      val sw = input2.toDF().withWatermark("ts", "0 seconds")
        .groupBy(col("user_id"), session_window(col("ts"), "60 seconds"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("n"))
      val q2 = sw.writeStream.format("memory").queryName("rocks_sw")
        .outputMode("append").start()
      input2.addData(ev(1, 0, 1), ev(2, 10, 1)); q2.processAllAvailable()
      input2.addData(ev(3, 200, 1)); q2.processAllAvailable()
      input2.addData(ev(4, 1000, 1)); q2.processAllAvailable()
      val rocks2 = usedRocksDB(q2)
      q2.stop()
      val rows2 = spark.table("rocks_sw").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows2 === Set((1L, 2L), (1L, 1L)), s"got $rows2")
      assert(rocks2, "session_window state operator must report RocksDB metrics")
    }

    // provider precedence: per-query > session-pinned > Spark default
    assert(Streams.resolveProvider(None, None) === None)
    assert(Streams.resolveProvider(None, Streams.RocksDB)
      === Some(Streams.RocksDBProviderClass))
    assert(Streams.resolveProvider(Some("sessionChoice"), None) === Some("sessionChoice"))
    assert(Streams.resolveProvider(Some("sessionChoice"), Some("queryChoice"))
      === Some("queryChoice"))
  }

  test("sessionize emits a later session with the continued index after full confirmation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    def ev(id: Long, sec: Long, v: Double) =
      Streams.EventRow(id, new Timestamp(base + sec * 1000), 1L, "x", v)
    val input = MemoryStream[Streams.EventRow]
    val sessions = Streams.sessionize(
      input.toDS().withWatermark("ts", "0 seconds"), gapSec = 60)
    val name = "sess_idx_out"
    val q = sessions.toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    // session 1 at t=0; t=1000 confirms-and-evicts it (end 60 < wm 1000 on
    // the next batch), leaving only the counter in state
    input.addData(ev(1, 0, 1.0)); q.processAllAvailable()
    input.addData(ev(2, 1000, 1.0)); q.processAllAvailable()
    // now the t=1000 session confirms too; buffer drains to counter-only
    input.addData(ev(3, 3000, 1.0)); q.processAllAvailable()
    // and the t=3000 session must come out as idx 3, NOT restart at 1
    input.addData(ev(4, 9000, 1.0)); q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows === Seq((1L, 1L), (1L, 2L), (1L, 3L)),
      s"expected cumulative session indices 1..3, got $rows")
  }

  test("watermark drops data later than the threshold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val agg = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "HH:mm").as("w"), col("k"), col("n"))
    val name = "wm_test_out"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    def ts(min: Int) = new Timestamp(1700000000000L / 3600000 * 3600000 + min * 60000L)
    // batch 1: two rows in hour-0, one row deep into hour 2 (advances watermark)
    input.addData((ts(5), "a"), (ts(10), "a"), (ts(170), "a"))
    q.processAllAvailable()
    // batch 2: a LATE row for hour-0, beyond watermark (170-10=160min cutoff)
    input.addData((ts(15), "a"))
    q.processAllAvailable()
    // batch 3: push watermark far forward so every window finalizes
    input.addData((ts(400), "a"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // hour-0 window finalized with the 2 on-time rows; late row was dropped
    assert(rows.exists { case (w, _, n) => n == 2 },
      s"expected a finalized 2-row window, got $rows")
    assert(!rows.exists { case (_, _, n) => n == 3 },
      s"late row leaked into a finalized window: $rows")
  }

  test("streaming dedup removes duplicate keys within watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val deduped = input.toDF().toDF("ts", "event_id")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
    val name = "dedup_test_out"
    val q = deduped.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val t0 = new Timestamp(1700000000000L)
    input.addData((t0, 1L), (t0, 1L), (t0, 2L))
    q.processAllAvailable()
    input.addData((new Timestamp(1700000060000L), 1L)) // dup across batches
    q.processAllAvailable()
    q.stop()
    val ids = spark.table(name).collect().map(_.getLong(1)).sorted
    assert(ids.toSeq === Seq(1L, 2L))
  }

  test("transformWithState running totals accumulate across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Streams.withRocksDBStateStore(spark) {
      def ev(id: Long, user: Long, v: Double) =
        Streams.EventRow(id, new Timestamp(1700000000000L + id * 1000), user, "x", v)
      val input = MemoryStream[Streams.EventRow]
      val q = Streams.runningTotals(input.toDS()).toDF()
        .writeStream.format("memory").queryName("tws_totals_out")
        .outputMode("update").start()
      input.addData(ev(1, 1, 2.0), ev(2, 1, 3.0), ev(3, 2, 1.0))
      q.processAllAvailable()
      input.addData(ev(4, 1, 5.0))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("tws_totals_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // batch 1 emits cumulative (1, 2, 5.0) and (2, 1, 1.0); batch 2's
      // user-1 row continues from state: (1, 3, 10.0)
      assert(rows === Set((1L, 2L, 5.0), (2L, 1L, 1.0), (1L, 3L, 10.0)),
        s"got $rows")
    }
  }

  test("transformWithState timers fire one inactivity alert per quiet period") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Streams.withRocksDBStateStore(spark) {
      val base = 1700000000000L
      def ev(id: Long, sec: Long, user: Long) =
        Streams.EventRow(id, new Timestamp(base + sec * 1000), user, "x", 1.0)
      val input = MemoryStream[Streams.EventRow]
      val q = Streams.inactiveUsers(
        input.toDS().withWatermark("ts", "0 seconds"), gapSec = 60).toDF()
        .writeStream.format("memory").queryName("inactive_out")
        .outputMode("append").start()
      input.addData(ev(1, 0, 1)); q.processAllAvailable()
      // wm -> 500: user 1's timer (60) fires, alert for last_seen t=0
      input.addData(ev(2, 500, 2)); q.processAllAvailable()
      // user 1 returns: fresh state, timer re-armed at 660
      input.addData(ev(3, 600, 1)); q.processAllAvailable()
      // wm -> 2000: user 1 fires AGAIN (second quiet period), user 2 fires
      input.addData(ev(4, 2000, 3)); q.processAllAvailable()
      q.stop()
      val rows = spark.table("inactive_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(rows.size === rows.distinct.size, s"duplicate alerts: $rows")
      val byUser = rows.groupBy(_._1).view.mapValues(_.size).toMap
      assert(byUser === Map(1L -> 2, 2L -> 1),
        s"expected two quiet periods for user 1, one for user 2, none for 3: $rows")
    }
  }

  test("foreachBatch folds edge micro-batches into graph snapshots") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val g0 = DemoGraph.bigBang(spark)
    val updater = new Streams.GraphUpdater(g0, "possession")
    val input = MemoryStream[(String, String)]
    input.addData(("person:bob", "object:cards"), ("person:jane", "object:chips"))
    val q = updater.attach(input.toDF().toDF("src", "dst"))
    q.awaitTermination()
    val g1 = updater.current()
    assert(g1.isRelated("possession", "person:bob", "object:cards"))
    assert(g1.isRelated("owner", "object:chips", "person:jane"))
    // snapshot semantics: the original graph is untouched
    assert(!g0.isRelated("possession", "person:bob", "object:cards"))
    // Bob now has cards: missingTools loses Deck of Cards... it never had it;
    // but Poker Chips is now owned by Jane (Bob's friend) => nothing missing
    val missing = DemoGraph.missingTools(g1, "Bob").collect().map(_.getString(0))
    assert(missing.isEmpty, s"got ${missing.toSeq}")
  }

  test("GraphUpdater replayed batch is idempotent (no duplicate edges)") {
    import spark.implicits._
    val g0 = DemoGraph.bigBang(spark)
    val before = g0.edges("possession").count()
    val updater = new Streams.GraphUpdater(g0, "possession")
    val batch = Seq(("person:bob", "object:cards")).toDF("src", "dst")
    updater.applyBatch(batch, 0L)
    updater.applyBatch(batch, 0L) // failure-recovery re-delivery of batch 0
    val n = updater.current().edges("possession")
      .where(col("src") === "person:bob" && col("dst") === "object:cards").count()
    assert(n === 1L, s"replayed batch duplicated the edge: $n copies")
    assert(updater.current().edges("possession").count() === before + 1)
  }

  test("GraphUpdater recovers durable snapshot + WAL tail across restart") {
    import spark.implicits._
    withTempDir("graft_updater") { dir =>
      val g0 = DemoGraph.bigBang(spark)
      val u1 = new Streams.GraphUpdater(g0, "possession",
        durableDir = Some(dir), saveEvery = 2)
      (0 until 5).foreach { b =>
        val edges = (0 until 10)
          .map(i => ("person:bob", s"object:d_${b}_$i")).toDF("src", "dst")
        u1.applyBatch(edges, b.toLong)
      }
      // snapshots committed at batches 1 and 3; batch 4 lives only in the WAL
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "snapshot_batch")))
      // "crash": rebuild purely from disk (initial supplies schema/fallback)
      val u2 = Streams.GraphUpdater.recover(g0, "possession", dir, saveEvery = 2)
      def edgeSet(u: Streams.GraphUpdater) = u.current().edges("possession")
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(edgeSet(u2) === edgeSet(u1), "recovered graph must equal pre-crash graph")
      // a re-delivered in-flight batch after recovery is still absorbed
      val redelivered = (0 until 10)
        .map(i => ("person:bob", s"object:d_4_$i")).toDF("src", "dst")
      u2.applyBatch(redelivered, 4L)
      assert(edgeSet(u2) === edgeSet(u1), "re-delivered batch must not duplicate edges")
      // new batches keep applying, INCLUDING across a post-recovery snapshot
      // save (saveEvery=2 fires within these applies): the versioned
      // snapshot dirs mean the save never overwrites the parquet files the
      // recovered graph's lazy plan is still reading
      u2.applyBatch(Seq(("person:bob", "object:d_5_0")).toDF("src", "dst"), 5L)
      u2.applyBatch(Seq(("person:bob", "object:d_6_0")).toDF("src", "dst"), 6L)
      assert(u2.current().edges("possession").count() === edgeSet(u1).size + 2)
      // and a second recovery from the post-save state sees everything
      val u3 = Streams.GraphUpdater.recover(g0, "possession", dir)
      assert(edgeSet(u3) === edgeSet(u2), "second recovery must equal live graph")
    }
  }

  test("GraphUpdater streams 1000+ edges with bounded plan depth") {
    import spark.implicits._
    val g0 = DemoGraph.bigBang(spark)
    val updater = new Streams.GraphUpdater(g0, "possession", checkpointEvery = 8)
    val perBatch = 50
    (0 until 24).foreach { b => // 1200 edges over 24 micro-batches
      val edges = (0 until perBatch)
        .map(i => (s"person:bob", s"object:stream_${b}_$i")).toDF("src", "dst")
      updater.applyBatch(edges, b.toLong)
    }
    val g = updater.current()
    val planNodes = g.edgeTables("possession")
      .queryExecution.optimizedPlan.collect { case p => p }.size
    // 24 batches with checkpointEvery=8: depth is bounded by the interval,
    // not by the number of batches ever applied
    assert(planNodes < 3 * 8 + 8, s"plan depth grew unbounded: $planNodes nodes")
    assert(g.edges("possession").count() ===
      g0.edges("possession").count() + 24L * perBatch)
  }

  test("concurrent drains serialize the provider swap and restore the conf") {
    // the provider, state-partition and no-data-batch confs are
    // session-global; runToMemory holds one lock across set/drain/restore,
    // so concurrent drains with MIXED settings must all complete correctly
    // and leave the conf unchanged (unsynchronized, one drain could start
    // under the other's provider or a restore could clobber a newer
    // setting) — also when a drain throws inside the scope
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val keys = Seq("spark.sql.streaming.stateStore.providerClass",
      "spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    val before = keys.map(spark.conf.getOption)
    val t0 = new Timestamp(1700000000000L)
    def counts(i: Int) = {
      val input = MemoryStream[(Timestamp, Long)]
      input.addData((0 until 20).map(j => (t0, (i * 100 + j % 10).toLong)): _*)
      input.toDF().toDF("ts", "k").groupBy(col("k")).count()
    }
    val futures = (0 until 6).map { i =>
      Future {
        val provider = if (i % 2 == 0) Streams.RocksDB else None
        Streams.runToMemory(spark, counts(i), s"conc_drain_$i", "complete",
          provider, statePartitions = Option.when(i % 3 == 0)(3),
          noDataBatches = i % 2 == 1).count()
      }
    }
    val failing = (0 until 2).map { i =>
      Future {
        intercept[IllegalArgumentException] {
          Streams.runToMemory(spark, counts(i), s"conc_drain_bad_$i", "complete",
            Streams.RocksDB, statePartitions = Some(5),
            resultSink = Some("unknown"), noDataBatches = false)
        }
      }
    }
    val results = Await.result(Future.sequence(futures), 180.seconds)
    Await.result(Future.sequence(failing), 180.seconds)
    assert(results.forall(_ === 10L), s"wrong drain results: $results")
    assert(keys.map(spark.conf.getOption) === before,
      "drain conf not restored after concurrent and failing drains")
  }

  test("streaming semantic-dedup ingest ≡ batch v13, invariant to batching") {
    // the continuous-ingest law: draining the batch docs through s11 in
    // id-ordered micro-batches yields EXACTLY the batch v13 verdicts —
    // a doc's dup sources are corpus ∪ lower-id new docs whether the
    // lower-id doc came in an earlier tick (via the accumulated
    // reference set) or the same one (operator-internal pairing)
    def normalized(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getBoolean(3)))
        .toSeq
    val batch = normalized(
      graft.queries.VectorQueries.queries("v13_incremental_semantic_dedup")(spark, dir))
    val streamed = normalized(
      StreamingQueries.queries("s11_stream_semantic_dedup")(spark, dir))
    assert(streamed == batch, "streamed verdicts differ from batch v13")
    // batching invariance: one giant tick produces the same verdicts as 4
    val stagedDir = graft.queries.VectorQueries.stagedV13Dir(spark, dir)
    val emb = Tables.t(spark, dir, "embeddings")
    val split = graft.queries.VectorQueries.v13Split(emb)
    val oneTick = normalized(Streams.semanticDedupIngest(spark,
      spark.read.parquet(s"$stagedDir/layout"),
      spark.read.parquet(s"$stagedDir/centroids"),
      emb.where(col("vec_id") >= split),
      "vec_id", "embedding", threshold = 0.4, roundDp = 5, nInputFiles = 1))
    assert(oneTick == batch, "single-tick ingest differs from batch v13")
  }

  test("streaming jaccard ingest ≡ batch staged operator, invariant to batching") {
    import spark.implicits._
    // planted near-dups across all three source regimes the fold must
    // cover: corpus→batch, earlier-tick→later-tick, same-tick. With 20
    // batch docs in 4 ntile files the ticks are ids 30-34/35-39/40-44/45-49.
    val baseA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val baseB = "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val baseC = "phi chi psi omega aleph beth gimel daleth he waw"
    def unique(i: Int) =
      (0 until 10).map(j => s"w${i}x$j").mkString(" ")
    val docs = (0 until 50).map { i =>
      val text = i match {
        case 5  => baseA
        case 33 => baseA + " extra"   // dup of corpus doc 5
        case 31 => baseB
        case 47 => baseB + " extra"   // dup of EARLIER-tick doc 31
        case 41 => baseC
        case 42 => baseC + " extra"   // dup of SAME-tick doc 41
        case _  => unique(i)
      }
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val corpus = docs.where(col("doc_id") < 30)
    val batch = docs.where(col("doc_id") >= 30)
    withTempDir("graft_s12_spec_") { store =>
      graft.dedup.Dedup.stageJaccardPostings(corpus, "doc_id", "text",
        shingleN = 3, maxDf = 0).write(store)
      val staged = graft.dedup.Dedup.StagedPostings.read(spark, store)
      def normalized(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getBoolean(3)))
          .toSeq
      val expected = normalized(graft.dedup.Dedup.incrementalJaccardStaged(
        staged, batch, "doc_id", "text", threshold = 0.3))
      // the batch operator itself sees what was planted (else the
      // streaming equality below would prove nothing)
      val dupRows = expected.filter(_._4)
      assert(dupRows.map(t => (t._1, t._3)) ===
        Seq((33L, Some(5L)), (42L, Some(41L)), (47L, Some(31L))),
        s"planted dups not recovered by the batch operator: $dupRows")
      val streamed = normalized(Streams.jaccardIngest(spark, staged, batch,
        "doc_id", "text", threshold = 0.3, nInputFiles = 4))
      assert(streamed === expected, "4-tick ingest differs from batch t28")
      val oneTick = normalized(Streams.jaccardIngest(spark, staged, batch,
        "doc_id", "text", threshold = 0.3, nInputFiles = 1))
      assert(oneTick === expected, "single-tick ingest differs from batch t28")
    }
  }

  test("streaming CDC ingest ≡ batch incremental operator, invariant to batching") {
    import spark.implicits._
    // planted chunk-level dups across the three source regimes the fold
    // must cover: corpus→batch, earlier-tick→later-tick, same-tick. With
    // 20 batch docs (ids 30-49) in 4 id-range files the ticks are
    // 30-34/35-39/40-44/45-49.
    val spanA = (0 until 60).map(i => s"a${i % 37}b$i").mkString(" ")
    val spanB = (0 until 60).map(i => s"c${i % 41}d$i").mkString(" ")
    val spanC = (0 until 60).map(i => s"e${i % 43}f$i").mkString(" ")
    def unique(i: Int) = (0 until 60).map(j => s"w${i}x$j").mkString(" ")
    val docs = (0 until 50).map { i =>
      val text = i match {
        case 5  => spanA
        case 33 => "p q r " + spanA    // dup of corpus doc 5, shifted
        case 31 => spanB
        case 47 => "s t u " + spanB    // dup of EARLIER-tick doc 31
        case 41 => spanC
        case 42 => "v y z " + spanC    // dup of SAME-tick doc 41
        case _  => unique(i)
      }
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val corpus = docs.where(col("doc_id") < 30)
    val batch = docs.where(col("doc_id") >= 30)
    withTempDir("graft_s13_spec_") { store =>
      graft.dedup.Dedup.stageCdcChunks(corpus, "doc_id", "text",
        avgChunkTokens = 5).write(store)
      val staged = graft.dedup.Dedup.StagedChunkStore.read(spark, store)
      def normalized(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .toSeq
      val expected = normalized(graft.dedup.Dedup.cdcDedupIncremental(
        staged, batch, "doc_id", "text"))
      // the batch operator itself sees every planted regime (else the
      // streaming equality below would prove nothing)
      val dupIds = expected.filter(_._3 > 0).map(_._1)
      assert(dupIds === Seq(33L, 42L, 47L),
        s"planted chunk dups not recovered by the batch operator: $expected")
      val streamed = normalized(Streams.cdcIngest(spark, staged, batch,
        "doc_id", "text", nInputFiles = 4))
      assert(streamed === expected, "4-tick CDC ingest differs from batch t35")
      val oneTick = normalized(Streams.cdcIngest(spark, staged, batch,
        "doc_id", "text", nInputFiles = 1))
      assert(oneTick === expected, "single-tick CDC ingest differs from batch t35")
    }
  }

  test("streaming BM25 ingest ≡ batch re-stage, invariant to batching; base stays read-only") {
    import spark.implicits._
    // shared vocabulary across corpus and batch so folding genuinely moves
    // the ranking: 'rare' lives in one corpus doc and two batch docs (its
    // df — and so every rare-scored query — depends on the fold), filler
    // terms vary doc length for the length-normalization component
    val docs = (0 until 50).map { i =>
      val words = Seq(s"u$i", "common") ++
        (if (i % 7 == 0) Seq("rare") else Nil) ++
        (0 until i % 5).map(j => s"pad$j")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val corpus = docs.where(col("doc_id") < 30)
    val batch = docs.where(col("doc_id") >= 30)
    val queries = docs.where(col("doc_id") % 10 === 0)
    withTempDir("graft_s14_spec_") { base =>
      Retrieval.stageBm25Index(corpus, "doc_id", "text").write(base)
      val basePostings = spark.read.parquet(s"$base/postings").count()
      def normalized(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      // ground truth twice over: the inline operator on the union corpus,
      // and a from-scratch re-stage of the union
      val expected = normalized(Retrieval.bm25TopK(docs, queries,
        "doc_id", "text", k = 5))
      withTempDir("graft_s14_re_") { restage =>
        Retrieval.stageBm25Index(docs, "doc_id", "text").write(restage)
        assert(normalized(Retrieval.bm25TopKStaged(
          Retrieval.StagedBm25Index.read(spark, restage), queries,
          "doc_id", "text", k = 5)) === expected)
      }
      val streamed = normalized(Streams.bm25Ingest(spark, base, batch,
        queries, "doc_id", "text", k = 5, nInputFiles = 4))
      assert(streamed === expected, "4-tick BM25 ingest differs from batch")
      val oneTick = normalized(Streams.bm25Ingest(spark, base, batch,
        queries, "doc_id", "text", k = 5, nInputFiles = 1))
      assert(oneTick === expected, "single-tick BM25 ingest differs from batch")
      // the shared base index must not absorb fold generations: repeated
      // calls above would otherwise have compounded
      assert(spark.read.parquet(s"$base/postings").count() === basePostings,
        "ingest mutated the read-only base index")
    }
  }

  test("jaccardIngest rejects a capped staged store loudly") {
    import spark.implicits._
    val docs = (0 until 20).map(i => (i.toLong, s"tok$i a b c d e f")).toDF("doc_id", "text")
    withTempDir("graft_s12_cap_") { store =>
      graft.dedup.Dedup.stageJaccardPostings(docs.where(col("doc_id") < 10),
        "doc_id", "text", shingleN = 3, maxDf = 100).write(store)
      val staged = graft.dedup.Dedup.StagedPostings.read(spark, store)
      val e = intercept[IllegalArgumentException] {
        Streams.jaccardIngest(spark, staged, docs.where(col("doc_id") >= 10),
          "doc_id", "text", threshold = 0.3)
      }
      assert(e.getMessage.contains("UNCAPPED"),
        s"wrong rejection message: ${e.getMessage}")
    }
  }

  // -------------------- replay-idempotence laws (round 12): a failed
  // tick re-delivered against the same checkpoint must not double-append
  // and must not see its own previous (possibly partial) write

  test("writeTick replayed with the same batchId does not double-append") {
    import spark.implicits._
    withTempDir("graft_tick_") { dir =>
      val t0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      Streams.writeTick(t0, dir, 0L)
      Streams.writeTick(t0, dir, 0L) // the at-least-once re-delivery
      assert(Streams.readTicks(spark, dir).collect().map(_.toSeq).toSet ===
        t0.collect().map(_.toSeq).toSet, "replayed tick double-appended")
      // a replay that produced a SMALLER write (partial first attempt
      // reversed: here the fuller second attempt) fully replaces the
      // partition — nothing from the first attempt leaks through
      val t0Partial = Seq((1L, "a")).toDF("id", "v")
      Streams.writeTick(t0Partial, dir, 0L)
      assert(Streams.readTicks(spark, dir).count() === 1L)
      Streams.writeTick(t0, dir, 0L)
      // and other ticks are untouched by an overwrite of tick 0
      val t1 = Seq((3L, "c")).toDF("id", "v")
      Streams.writeTick(t1, dir, 1L)
      Streams.writeTick(t0, dir, 0L)
      assert(Streams.readTicks(spark, dir).count() === 3L)
    }
  }

  test("ticksSoFar serves strictly earlier ticks — a replayed tick never sees itself") {
    import spark.implicits._
    withTempDir("graft_tick_") { dir =>
      assert(Streams.ticksSoFar(spark, dir, 0L).isEmpty, "empty dir must be None")
      Streams.writeTick(Seq((1L, "a")).toDF("id", "v"), dir, 0L)
      Streams.writeTick(Seq((2L, "b")).toDF("id", "v"), dir, 1L)
      // tick 1 replay: its own batch=1 partition exists on disk but the
      // reference must be tick 0 only
      val ref = Streams.ticksSoFar(spark, dir, 1L).get.collect()
      assert(ref.map(_.getLong(0)).toSet === Set(1L),
        s"replayed tick saw wrong reference: ${ref.mkString(",")}")
      assert(Streams.ticksSoFar(spark, dir, 0L).get.count() === 0L,
        "tick 0's replay must see an empty reference")
    }
  }

  test("drain machinery is source-agnostic: rate source ≡ file source (s09 gate)") {
    // the offline stand-in for the Kafka ask: rate-micro-batch is a real
    // offset-based MicroBatchStream (latestOffset/commit/AvailableNow —
    // the same source contract a Kafka reader implements), while every
    // s-gate drains the file source. Run the s09 transform over BOTH
    // sources carrying IDENTICAL rows and the results must match — the
    // drain machinery (runToMemory, state stores, watermark closure)
    // never sees which source produced the offsets. Rows are derived
    // deterministically from the rate source's `value` column (ts =
    // epoch + value minutes over 100 values → two watermark-closed
    // hourly windows), never from wall clock.
    def shape(src: org.apache.spark.sql.DataFrame) = src.select(
      col("value").as("event_id"),
      (col("value") * 60).cast("timestamp").as("ts"),
      (col("value") % 7).as("user_id"),
      lit("x").as("event_type"),
      (col("value") * 0.5).as("value"))
    val rate = shape(spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 100).option("numPartitions", 2)
      .option("startTimestamp", 0).option("advanceMillisPerBatch", 60000)
      .load().drop("timestamp"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).toSeq.sorted
    val viaRate = rows(Streams.runToMemory(spark,
      Streams.hourlyActiveUsers(rate), "src_agnostic_rate", mode = "append",
      statePartitions = Some(4)))
    // the same 100 rows through the file source (batch range == the rate
    // source's deterministic value sequence)
    val viaFile = withTempDir("graft_src_agnostic_") { fileDir =>
      shape(spark.range(100).toDF("value")).write.parquet(s"$fileDir/events")
      val fileSrc = spark.readStream
        .schema(rate.schema).parquet(s"$fileDir/events")
      rows(Streams.runToMemory(spark,
        Streams.hourlyActiveUsers(fileSrc), "src_agnostic_file", mode = "append",
        statePartitions = Some(4)))
    }
    assert(viaRate.nonEmpty, "fixture must close at least one hourly window")
    assert(viaRate === viaFile,
      "the same rows through rate vs file sources diverged")
  }

  test("file-sink drain ≡ memory-sink drain (resultSink dispatch law)") {
    // the parquet result sink is the large-source arm of
    // resultSinkForSource — same emitted rows, distributed landing
    // instead of a driver collect (the zero-emit read-back is the next
    // test's job)
    def sessions(sink: Option[String]): Seq[String] = {
      val sw = Streams.eventsStream(spark, dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          col("n_events"))
      Streams.runToMemory(spark, sw,
          s"sink_law_${System.identityHashCode(sink)}_${sink.isDefined}",
          mode = "append", resultSink = sink)
        .collect().map(_.mkString("|")).toSeq.sorted
    }
    val viaMemory = sessions(None)
    val viaParquet = sessions(Some("parquet"))
    assert(viaMemory.nonEmpty, "fixture must close at least one session")
    assert(viaParquet === viaMemory)
  }

  test("parquet-sink drain of a zero-emit query is an empty frame with the query's schema") {
    // a watermark delay past the fixture's whole time range withholds
    // every session in append mode: the drain emits nothing, leaves no
    // parquet footers, and the read-back must come from the explicit
    // df.schema instead of failing schema inference
    val sw = Streams.eventsStream(spark, dir)
      .withWatermark("ts", "36500 days")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"))
    val out = Streams.runToMemory(spark, sw, "sink_law_empty",
      mode = "append", resultSink = Some("parquet"))
    assert(out.schema === sw.schema)
    assert(out.count() === 0L, "a withheld-everything drain must emit no rows")
  }

  test("graphIngest: folded graph ≡ batch graph, invariant to tick partitioning") {
    // the s15 law: streaming the withheld placed edges through
    // GraphUpdater in 1 tick or 3 yields exactly the batch-built graph's
    // traversal (bag append + exactly-once delivery)
    def rollup(g: graft.graph.PropertyGraph): Set[(String, Long)] =
      g.from("Customer")
        .filter(col("segment") === "BUILDING")
        .related("placed")
        .df.groupBy(col("status")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val whole = rollup(graft.queries.GraphQueries.tpchGraph(spark, dir))
    Seq(1, 3).foreach { n =>
      val (base, tail) = graft.queries.GraphQueries.tpchPlacedSplit(spark, dir, 50)
      val folded = Streams.graphIngest(spark, base, "placed", tail,
        nInputFiles = n)
      assert(rollup(folded) === whole, s"fold with $n input files diverged")
    }
  }

  test("graphIngest seal: tick pins transfer to the snapshot and release() frees them") {
    // round-18 seal: no edge-table re-checkpoint — the folded graph READS
    // the tick pins (they are its LogicalRDD leaves), so they must
    // survive the seal, stay consumable after the ingest work dir is
    // gone, and be freed by the caller's PropertyGraph.release()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (base, tail) = graft.queries.GraphQueries.tpchPlacedSplit(spark, dir, 50)
    val folded = Streams.graphIngest(spark, base, "placed", tail,
      nInputFiles = 3)
    val owned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(owned.nonEmpty, "the sealed snapshot should own the tick-pin blocks")
    // consume the snapshot AFTER seal + work-dir delete (the safety the
    // old re-checkpoint provided; now the eager per-tick pins provide it)
    val n = folded.from("Customer").related("placed").df.count()
    assert(n > 0L)
    folded.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"release() must free the seal-transferred tick pins, leaked: $leaked")
  }

  test("GraphUpdater seal frees pins a periodic checkpoint superseded") {
    // 3 ticks with checkpointEvery=2: the boundary checkpoint absorbs
    // ticks 1-2 (their pins become unreachable and must free at seal);
    // tick 3 lands after it and its pin must survive as part of the
    // sealed graph
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (base, tail) = graft.queries.GraphQueries.tpchPlacedSplit(spark, dir, 60)
    val ids = tail.orderBy(graft.schema.GraphSchema.DstCol).collect()
    val updater = new Streams.GraphUpdater(base, "placed", checkpointEvery = 2)
    ids.grouped(math.max(1, ids.length / 3)).zipWithIndex.foreach {
      case (chunk, i) =>
        updater.applyBatch(
          spark.createDataFrame(java.util.Arrays.asList(chunk: _*), tail.schema), i.toLong)
    }
    val sealedG = updater.sealAndRelease()
    val whole = graft.queries.GraphQueries.tpchGraph(spark, dir)
      .from("Customer").filter(col("segment") === "BUILDING")
      .related("placed").df.groupBy(col("status"))
      .agg(count(lit(1)).as("n")).collect().map(_.toSeq).toSet
    val got = sealedG
      .from("Customer").filter(col("segment") === "BUILDING")
      .related("placed").df.groupBy(col("status"))
      .agg(count(lit(1)).as("n")).collect().map(_.toSeq).toSet
    assert(got === whole, "sealed fold diverged from the batch graph")
    sealedG.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"seal + release must free every pin this ingest created, leaked: $leaked")
  }

  test("runToMemory rejects an unknown result sink loudly") {
    val sw = Streams.eventsStream(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val e = intercept[IllegalArgumentException] {
      Streams.runToMemory(spark, sw, "sink_law_bad", resultSink = Some("Parquet"))
    }
    assert(e.getMessage.contains("unsupported result sink"),
      s"wrong message: ${e.getMessage}")
  }

  test("writeConcurrently runs every write, and rethrows only after ALL quiesce") {
    import java.util.concurrent.atomic.AtomicInteger
    withTempDir("graft_wc_") { work =>
      val df = spark.range(10).toDF("id")
      // happy path: all three sinks land
      Streams.writeConcurrently(spark)(
        () => Streams.writeTick(df, s"$work/a", 0L),
        () => Streams.writeTick(df, s"$work/b", 0L),
        () => Streams.writeTick(df, s"$work/c", 0L))
      for (d <- Seq("a", "b", "c"))
        assert(spark.read.parquet(s"$work/$d").count() === 10L,
          s"sink $d missing rows")
      // failure path: the failure is rethrown, but ONLY after the other
      // writes completed (the replay-race quiesce guarantee) — the slow
      // successful write must have finished its side effect by the time
      // the exception reaches the caller
      val finished = new AtomicInteger(0)
      val boom = intercept[RuntimeException] {
        Streams.writeConcurrently(spark)(
          () => { throw new RuntimeException("tick write failed") },
          () => {
            Thread.sleep(200) // forces the failure to wait on this write
            Streams.writeTick(df, s"$work/slow", 1L)
            finished.incrementAndGet()
          })
      }
      assert(boom.getMessage === "tick write failed")
      assert(finished.get() === 1,
        "failure was rethrown before the concurrent write quiesced")
    }
  }

  test("writeConcurrently rethrows a fatal write error instead of hanging") {
    // a LinkageError is not NonFatal: a write path that only captures
    // NonFatal leaves its future uncompleted and the await hangs forever.
    // The call runs on its own daemon thread so this test bounds its wait
    withTempDir("graft_wc_fatal_") { work =>
      val df = spark.range(10).toDF("id")
      val (caller, outcome) = onThread(Streams.writeConcurrently(spark)(
        () => throw new LinkageError("fatal tick write"),
        () => Streams.writeTick(df, s"$work/ok", 0L)))
      caller.join(60000)
      assert(!caller.isAlive, "a fatal write error hung the await")
      assert(outcome.get.isInstanceOf[LinkageError] &&
        outcome.get.getMessage == "fatal tick write",
        s"wrong outcome: ${outcome.get}")
      assert(spark.read.parquet(s"$work/ok").count() === 10L,
        "the healthy write did not complete")
    }
  }

  test("writeConcurrently runs every write under its caller's job group") {
    // a call under group A, then one under group B: every job the B call
    // starts must carry B. Listener events arrive in posting order, so a
    // fence job after each call delimits the B call's jobs
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("none"))
    }
    withTempDir("graft_wc_groups_") { work =>
      val df = spark.range(10).toDF("id")
      def writesUnder(group: String): Unit = {
        sc.setJobGroup(group, group)
        Streams.writeConcurrently(spark)((1 to 4).map(i =>
          () => Streams.writeTick(df, s"$work/$group$i", 0L)): _*)
      }
      def fence(group: String): Unit = {
        sc.setJobGroup(group, group)
        spark.range(1).count()
        assert(within(30)(groups.contains(group)), s"fence $group never seen")
      }
      sc.addSparkListener(listener)
      try {
        writesUnder("wc-A")
        fence("wc-fence-1")
        writesUnder("wc-B")
        fence("wc-fence-2")
        val seen = groups.asScala.toSeq
        val bJobs = seen.drop(seen.lastIndexOf("wc-fence-1") + 1)
          .takeWhile(_ != "wc-fence-2")
        assert(bJobs.nonEmpty, "the B call started no jobs")
        assert(bJobs.forall(_ == "wc-B"),
          s"jobs of the B call ran under other groups: $bJobs")
      } finally {
        sc.removeSparkListener(listener)
        sc.clearJobGroup()
      }
    }
  }

  test("writeConcurrently cancels and awaits its writes when the caller is interrupted") {
    withTempDir("graft_wc_interrupt_") { work =>
      TaskGate.reset()
      val gate = udf(TaskGate.pass _)
      val (caller, outcome) = onThread(Streams.writeConcurrently(spark)(
        () => Streams.writeTick(spark.range(4).toDF("id")
          .select(gate(col("id")).as("id")), s"$work/blocked", 0L),
        () => Streams.writeTick(spark.range(4).toDF("id"), s"$work/free", 0L)))
      try {
        assert(TaskGate.entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
          "the blocking write never started")
        caller.interrupt()
        caller.join(60000)
        assert(!caller.isAlive, "the interrupted call did not return")
        assert(outcome.get.isInstanceOf[InterruptedException],
          s"wrong outcome: ${outcome.get}")
        assert(within(30)(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty),
          "a write job outlived its interrupted call: " +
            spark.sparkContext.statusTracker.getActiveJobIds.mkString(","))
      } finally {
        TaskGate.release.countDown()
      }
    }
  }

  test("a failed ingest tick rethrows its own error, stops its query and removes its work dir") {
    import spark.implicits._
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def workDirs: Set[String] =
      tmp.list().filter(_.matches("graft_s1\\d_.*")).toSet
    val docs = (0 until 20).map(i => (i.toLong, s"w$i a b c d e f g h"))
      .toDF("doc_id", "text")
    withTempDir("graft_failpath_store_") { store =>
      graft.dedup.Dedup.stageCdcChunks(docs.where(col("doc_id") < 10),
        "doc_id", "text", avgChunkTokens = 5).write(store)
      val staged = graft.dedup.Dedup.StagedChunkStore.read(spark, store)
      val dirsBefore = workDirs
      val queriesBefore = spark.streams.active.map(_.id).toSet
      // every tick reads a text column the batch lacks, so the first
      // tick throws inside the drain
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Streams.cdcIngest(spark, staged, docs.where(col("doc_id") >= 10),
          "doc_id", "no_such_text", nInputFiles = 2)
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(t => String.valueOf(t.getMessage).contains("no_such_text")),
        s"the tick's own error was replaced: ${chain.mkString(" <- ")}")
      assert(spark.streams.active.map(_.id).toSet === queriesBefore,
        "the failed drain left its query active")
      assert((workDirs -- dirsBefore).isEmpty,
        s"work dir left behind: ${workDirs -- dirsBefore}")
    }
  }

  test("an interrupted drain stops its query before returning") {
    // the drain's caller is interrupted while a micro-batch is blocked:
    // the drain must not hand control back (and let its caller delete
    // input and checkpoint dirs) while the query still runs
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    TaskGate.reset()
    val gate = udf(TaskGate.pass _)
    val input = MemoryStream[Long]
    input.addData(1L, 2L, 3L)
    val name = "interrupted_drain"
    val (caller, outcome) = onThread(Streams.runToMemory(spark,
      input.toDF().select(gate(col("value")).as("v")), name, mode = "append"))
    try {
      assert(TaskGate.entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the micro-batch never started")
      caller.interrupt()
      caller.join(60000)
      assert(!caller.isAlive, "the interrupted drain did not return")
      assert(outcome.get.isInstanceOf[InterruptedException],
        s"wrong outcome: ${outcome.get}")
      assert(within(30)(!spark.streams.active.exists(_.name == name)),
        "the query kept running after its drain returned")
    } finally {
      TaskGate.release.countDown()
      spark.streams.active.filter(_.name == name).foreach(_.stop())
      spark.catalog.dropTempView(name)
    }
  }

  /** Run `body` on a new daemon thread (a hung body cannot keep the JVM
    * alive); the reference receives whatever it throws.
    */
  private def onThread(body: => Unit)
      : (Thread, java.util.concurrent.atomic.AtomicReference[Throwable]) = {
    val outcome = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val t = new Thread(() =>
      try body catch { case e: Throwable => outcome.set(e) })
    t.setDaemon(true)
    t.start()
    (t, outcome)
  }

  /** Poll `cond` for up to `seconds`; its final value. */
  private def within(seconds: Int)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
    cond
  }
}

/** Latches a Spark task can block on. A top-level object, so task
  * closures reach it without capturing the suite; the task's wait is
  * bounded, so a failing test cannot strand an executor thread.
  */
object TaskGate {
  import java.util.concurrent.{CountDownLatch, TimeUnit}
  @volatile var entered = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
  def reset(): Unit = {
    entered = new CountDownLatch(1)
    release = new CountDownLatch(1)
  }
  def pass(x: Long): Long = {
    entered.countDown()
    release.await(120, TimeUnit.SECONDS)
    x
  }
}
