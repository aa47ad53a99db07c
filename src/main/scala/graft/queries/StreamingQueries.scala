package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pinned
import graft.Pinned.PinSyntax
import graft.streaming.Streams

/** Structured Streaming entries run synchronously against the events
  * parquet replayed as a file stream (an AvailableNow drain into the
  * memory sink, `Streams.runToMemory`). The DuckDB oracle is the
  * equivalent batch SQL — the batch-stream equivalence check of SURVEY.md
  * §5.2.5, wired straight into the driver's correctness gate.
  */
object StreamingQueries {

  type Q = (SparkSession, String) => DataFrame

  private val runId = new AtomicInteger(0)

  // ------------------------------------------- streaming tumbling window
  private val s01: Q = (s, dir) => {
    val out = Streams.runToMemory(s,
      Streams.tumblingAgg(Streams.eventsStream(s, dir)),
      s"s01_out_${runId.incrementAndGet()}", mode = "complete",
      statePartitions = // store count by keyed-state volume (s05 law)
        Some(Streams.storesForSource(s, s"$dir/events.parquet")),
      noDataBatches = false) // complete mode: the final no-data batch
        // only re-emits the identical result (Streams.runToMemory)
    out.select(col("hour_start"), col("event_type"), col("n_events"), col("total_value"))
  }

  private val s01Sql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
       FROM events GROUP BY 1, 2"""

  // ------------------------------------- stateful streaming sessionization
  // Custom-state gap sessions under the watermark-confirmed contract (the
  // same one the builtin s05 obeys): a session emits exactly once when the
  // watermark passes its end, so the drained output is the batch e04
  // result minus sessions still open at the final watermark.
  private val s02: Q = (s, dir) => {
    import s.implicits._
    val events = Streams.eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Streams.EventRow]
    Streams.runToMemory(s, Streams.sessionize(events).toDF(),
      s"s02_out_${runId.incrementAndGet()}", mode = "append",
      stateStoreProvider = // state = users; backend by keyed-state volume
        Streams.backendForSource(s, s"$dir/events.parquet"),
      statePartitions = // store count by keyed-state volume (s05 law)
        Some(Streams.storesForSource(s, s"$dir/events.parquet")),
      resultSink = // sessions are source-sized: don't collect them
        Streams.resultSinkForSource(s, s"$dir/events.parquet"))
  }

  // e04's per-(user, session_idx) aggregation (EventQueries owns the single
  // source of truth) filtered to sessions closed STRICTLY before the final
  // watermark: the operator's confirm rule and Spark's event-time timeout
  // are both strict (an event at ts == wm is still admissible and could
  // extend a session ending exactly there), so the emitted set is exactly
  // {sessions with end < max ts - delay}
  private val s02Sql =
    s"""${EventQueries.sessionAggSql}
       HAVING max(ts) + INTERVAL 30 MINUTE
              < (SELECT max(ts) FROM events) - INTERVAL 10 MINUTE"""

  // ------------------------------------------------ streaming exact dedup
  private val s03: Q = (s, dir) => {
    val deduped = Streams.streamingDedup(Streams.eventsStream(s, dir))
      .select(col("event_id"), col("user_id"), col("event_type"))
    Streams.runToMemory(s, deduped,
      s"s03_out_${runId.incrementAndGet()}", mode = "append",
      stateStoreProvider = // state = event ids; backend by keyed-state volume
        Streams.backendForSource(s, s"$dir/events.parquet"),
      statePartitions = // store count by keyed-state volume (s05 law)
        Some(Streams.storesForSource(s, s"$dir/events.parquet")),
      resultSink = // survivors are source-sized: don't collect them
        Streams.resultSinkForSource(s, s"$dir/events.parquet"))
  }

  private val s03Sql =
    """SELECT DISTINCT event_id, user_id, event_type FROM events"""

  // ---------------------------------------- streaming sliding window (3h/1h)
  private val s04: Q = (s, dir) => {
    val out = Streams.runToMemory(s,
      Streams.slidingAgg(Streams.eventsStream(s, dir)),
      s"s04_out_${runId.incrementAndGet()}", mode = "complete",
      statePartitions = // store count by keyed-state volume (s05 law)
        Some(Streams.storesForSource(s, s"$dir/events.parquet")),
      noDataBatches = false) // the s01 complete-mode rationale
    out.select(col("window_start"), col("event_type"), col("n_events"))
  }

  // Batch equivalent: window(ts, '3 hours', '1 hour') puts each event in the
  // 3 hourly-aligned windows whose start ∈ [trunc(ts,'hour')-2h, trunc(ts,'hour')].
  private val s04Sql =
    """SELECT strftime(date_trunc('hour', ts) - to_hours(CAST(k AS BIGINT)),
                      '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events
       FROM events, generate_series(0, 2) AS g(k)
       GROUP BY 1, 2"""

  // ---------------------------------- streaming builtin session_window (s05)
  // The builtin session operator under append mode: sessions emit only once
  // the event-time watermark passes their end, so the drained output is the
  // batch e07 result MINUS sessions still open at the final watermark
  // (max ts − 10 min). Verified empirically: exactly those sessions are
  // withheld, no boundary ties in the fixture.
  private val s05: Q = (s, dir) => {
    val sw = Streams.eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("session_value"))
    Streams.runToMemory(s, sw, s"s05_out_${runId.incrementAndGet()}",
      mode = "append",
      // backend and store count both follow keyed-state volume (laws in
      // Streams.backendForSource / storesForSource): in-memory store +
      // few instances while state fits heap (RocksDB's per-commit flush
      // measured 8.4s vs 6.3s at sf1), RocksDB + cluster-width beyond
      stateStoreProvider = Streams.backendForSource(s, s"$dir/events.parquet"),
      statePartitions = Some(Streams.storesForSource(s, s"$dir/events.parquet")),
      resultSink = // sessions are source-sized: don't collect them
        Streams.resultSinkForSource(s, s"$dir/events.parquet"))
  }

  // e07's lag/cumsum sessionization re-keyed to the builtin's (start, end)
  // interval, filtered to sessions closed at the final watermark.
  // e07's interval-keyed sessions filtered to those closed at the final
  // watermark (shared session convention lives in EventQueries)
  private val s05Sql =
    s"""${EventQueries.sessionIntervalSql}
       HAVING max(ts) + INTERVAL 30 MINUTE
              <= (SELECT max(ts) FROM events) - INTERVAL 10 MINUTE"""

  // ----------------------------------------- stream-stream interval join (s06)
  // Purchases joined to same-user signups within the preceding hour — BOTH
  // sides are streams, so the join keeps keyed state for each and the
  // watermark + time-range condition bound how long a row waits for its
  // match (the state-cleanup contract of stream-stream joins). Inner join:
  // every match emits exactly once, so the bounded drain equals the batch
  // interval join.
  private val s06: Q = (s, dir) => {
    val p = Streams.eventsStream(s, dir)
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val sg = Streams.eventsStream(s, dir)
      .where(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user_id"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val joined = p.join(sg,
      col("user_id") === col("s_user_id") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("signup_id"), col("user_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("s_ts")))
          .as("sec_after_signup"))
    Streams.runToMemory(s, joined, s"s06_out_${runId.incrementAndGet()}",
      mode = "append",
      stateStoreProvider = // state = both sides' in-flight rows
        Streams.backendForSource(s, s"$dir/events.parquet"),
      statePartitions = // store count by keyed-state volume (s05 law)
        Some(Streams.storesForSource(s, s"$dir/events.parquet")),
      resultSink = // matches are purchase-sized: don't collect them
        Streams.resultSinkForSource(s, s"$dir/events.parquet"))
  }

  private val s06Sql =
    """SELECT p.event_id AS purchase_id, s.event_id AS signup_id, p.user_id,
       CAST(floor(epoch(p.ts)) - floor(epoch(s.ts)) AS BIGINT) AS sec_after_signup
       FROM events p JOIN events s
         ON p.user_id = s.user_id
        AND p.event_type = 'purchase' AND s.event_type = 'signup'
        AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR"""

  // ------------------------- transformWithState running totals (s07)
  // Spark 4's arbitrary-state successor API (typed ValueState + RocksDB
  // provider, which the operator requires — set for the drain and
  // restored after). Update-mode emissions are cumulative, so the final
  // row per user (highest count) equals the batch aggregate.
  private val s07: Q = (s, dir) => Streams.withRocksDBStateStore(s) {
    import s.implicits._
    val events = Streams.eventsStream(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Streams.EventRow]
    val out = Streams.runToMemory(s, Streams.runningTotals(events).toDF(),
      s"s07_out_${runId.incrementAndGet()}", mode = "update",
      statePartitions = // store count by keyed-state volume (s05 law)
        Some(Streams.storesForSource(s, s"$dir/events.parquet")))
    out.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_events").desc)))
      .where(col("rn") === 1)
      .select(col("user_id"), col("n_events"),
        round(col("total_value"), 2).as("total_value"))
  }

  private val s07Sql =
    """SELECT user_id, count(*) AS n_events,
       round(sum(value), 2) AS total_value
       FROM events GROUP BY user_id"""

  // ----------------------- transformWithState event-time timers (s08)
  // The timer half of the TWS API: per-user inactivity alerts fired by
  // the watermark passing (last event + 1 hour). Single-drain contract:
  // emitted = users whose last event + gap lies STRICTLY before the final
  // watermark (timers, like all event-time machinery, fire on
  // timeout < wm).
  private val s08: Q = (s, dir) => Streams.withRocksDBStateStore(s) {
    import s.implicits._
    val events = Streams.eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Streams.EventRow]
    Streams.runToMemory(s, Streams.inactiveUsers(events, gapSec = 3600).toDF(),
      s"s08_out_${runId.incrementAndGet()}", mode = "append",
      statePartitions = // store count by keyed-state volume (s05 law)
        Some(Streams.storesForSource(s, s"$dir/events.parquet")),
      resultSink = // ONE alert per user: dispatch on measured user
        // cardinality, not source bytes (15k rows ≈ 1 MB at sf1)
        Streams.resultSinkForKeyedOutput(s, s"$dir/events.parquet", "user_id"))
  }

  private val s08Sql =
    """SELECT user_id, strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
       FROM events GROUP BY user_id
       HAVING max(ts) + INTERVAL 1 HOUR
              < (SELECT max(ts) FROM events) - INTERVAL 10 MINUTE"""

  // --------------------- chained stateful aggregations (s09)
  // Two windowed aggregations in one streaming query (hourly per-user
  // counts → hourly active-user roll-up; Streams.hourlyActiveUsers).
  // Append mode: an hour emits once its window end passes the watermark,
  // so the drained set is the batch roll-up restricted to closed hours.
  private val s09: Q = (s, dir) => {
    Streams.runToMemory(s,
      Streams.hourlyActiveUsers(Streams.eventsStream(s, dir)),
      s"s09_out_${runId.incrementAndGet()}", mode = "append",
      // state = hours × users in stage 1, hours in stage 2 — both
      // source-bounded, so backend AND store count follow keyed-state
      // volume (the s05 law: per-instance open+commit dominates when
      // state per store is small)
      stateStoreProvider = Streams.backendForSource(s, s"$dir/events.parquet"),
      statePartitions = Some(Streams.storesForSource(s, s"$dir/events.parquet")))
  }

  private val s09Sql =
    """WITH hourly AS (SELECT date_trunc('hour', ts) AS h, user_id FROM events)
       SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start,
              count(DISTINCT user_id) AS n_active_users,
              count(*) AS n_events
       FROM hourly GROUP BY h
       HAVING h + INTERVAL 1 HOUR
              <= (SELECT max(ts) FROM events) - INTERVAL 10 MINUTE"""

  // ----------------------- stream-static dimension enrichment (s10)
  // The remaining join shape: a STREAM joined to a STATIC dimension
  // (events → customer segment), then windowed per segment. The static
  // side broadcasts per micro-batch — no state store for the join (only
  // the downstream window agg keeps state), the canonical enrich-then-
  // aggregate ingestion topology.
  private val s10: Q = (s, dir) => {
    val dim = Tables.t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val enriched = Streams.eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window(col("ts"), "1 hour"), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")) + 1e-9, 2).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("segment"), col("n_events"), col("total_value"))
    Streams.runToMemory(s, enriched,
      s"s10_out_${runId.incrementAndGet()}", mode = "complete",
      statePartitions = // store count by keyed-state volume (s05 law)
        Some(Streams.storesForSource(s, s"$dir/events.parquet")),
      noDataBatches = false) // the s01 complete-mode rationale
  }

  private val s10Sql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
              c_mktsegment AS segment, count(*) AS n_events,
              round(sum(value) + 1e-9, 2) AS total_value
       FROM events JOIN customer ON c_custkey = user_id
       GROUP BY 1, 2"""

  // ---------------- continuous-ingest semantic dedup (s11, round 10)
  // v13's incremental semantic dedup run as a STREAM: the batch docs
  // arrive in id-ordered micro-batches (maxFilesPerTrigger=1; the gates
  // run 2 ticks — verdicts are tick-count-INVARIANT by the StreamingSpec
  // law, which pins the multi-batching equivalence separately, so the
  // gate buys the multi-tick fold capability at half the per-tick
  // micro-batch fixed cost of the old 4),
  // each deduped against the persisted IVF layout plus every
  // previously-streamed doc, then folded into the reference set. The
  // semantics equal v13's exactly (a doc's sources = corpus ∪ lower-id
  // new docs), so the oracle IS v13's SQL — and the verdicts are
  // invariant to how the stream is batched (StreamingSpec law).
  private val s11: Q = (s, dir) => {
    val emb = Tables.t(s, dir, "embeddings")
    val split = VectorQueries.v13Split(emb)
    val stagedDir = VectorQueries.stagedV13Dir(s, dir)
    Streams.semanticDedupIngest(s,
      s.read.parquet(s"$stagedDir/layout"),
      s.read.parquet(s"$stagedDir/centroids"),
      emb.where(col("vec_id") >= split),
      "vec_id", "embedding", threshold = 0.4, roundDp = 5,
      nInputFiles = 2)
  }

  private val s11Sql = VectorQueries.v13Sql

  // ---------------- continuous-ingest text near-dup (s12, round 10)
  // t28's staged incremental Jaccard run as a STREAM — the text twin of
  // s11: the last 250 doc_ids arrive in id-ordered micro-batches, each
  // flagged against the persisted corpus postings plus every
  // previously-streamed doc, then folded in. The staged store is
  // UNCAPPED (maxDf=0 — cap hotness is not monotone under stream
  // prefixes; Streams.jaccardIngest enforces this loudly), so the oracle
  // is the uncapped t27 pair-CTE chain restricted to batch docs.
  private val s12: Q = (s, dir) => {
    val docs = Tables.t(s, dir, "documents")
    val split = docs.agg(max(col("doc_id"))).head().getLong(0) - 249L
    val stagedDir = graft.Staged.once(("s12", dir)) {
      val out = graft.Staged.dir("graft_s12_store_")
      graft.dedup.Dedup.stageJaccardPostings(
        docs.where(col("doc_id") < split), "doc_id", "text",
        shingleN = 3, maxDf = 0).write(out)
      out
    }
    Streams.jaccardIngest(s,
      graft.dedup.Dedup.StagedPostings.read(s, stagedDir),
      docs.where(col("doc_id") >= split),
      "doc_id", "text", threshold = 0.1, nInputFiles = 2)
  }

  private val s12Sql =
    """WITH sets AS (
         SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> array_to_string(toks[i:i+2], ' '))) AS sh
         FROM (SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS toks
               FROM documents)),
       posts AS (SELECT doc_id, unnest(sh) AS shingle FROM sets),
       sizes AS (SELECT doc_id, count(*) AS sz FROM posts GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                 FROM posts a JOIN posts b ON a.shingle = b.shingle
                 WHERE a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id),
       split AS (SELECT max(doc_id) - 249 AS s FROM documents),
       pairs AS (
         SELECT doc_a, doc_b FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE c*1.0 / (sa.sz + sb.sz - c) >= 0.1
           AND doc_b >= (SELECT s FROM split))
       SELECT b.doc_id,
              count(p.doc_a) AS n_dup_sources,
              min(p.doc_a) AS dup_of,
              count(p.doc_a) > 0 AS is_dup
       FROM (SELECT doc_id FROM documents
             WHERE doc_id >= (SELECT s FROM split)) b
       LEFT JOIN pairs p ON p.doc_b = b.doc_id
       GROUP BY b.doc_id"""

  // ---------------- continuous-ingest CDC substring dedup (s13, round 11)
  // t35's incremental chunk dedup run as a STREAM — the substring-
  // granularity sibling of s12: the last 250 doc_ids arrive in id-ordered
  // micro-batches, each chunk-flagged against the persisted corpus
  // chunk-hash store plus every previously-streamed doc, then the tick's
  // novel hashes fold in. Verdicts equal the whole-corpus t32 restricted
  // to batch docs (tick-invariant, StreamingSpec law), so the oracle is
  // t35's SQL verbatim.
  private val s13: Q = (s, dir) => {
    val docs = Tables.t(s, dir, "documents")
    val split = docs.agg(max(col("doc_id"))).head().getLong(0) - 249L
    val stagedDir = graft.Staged.once(("s13", dir)) {
      val out = graft.Staged.dir("graft_s13_store_")
      graft.dedup.Dedup.stageCdcChunks(
        docs.where(col("doc_id") < split), "doc_id", "text",
        avgChunkTokens = 20).write(out)
      out
    }
    Streams.cdcIngest(s,
      graft.dedup.Dedup.StagedChunkStore.read(s, stagedDir),
      docs.where(col("doc_id") >= split), "doc_id", "text",
      nInputFiles = 2)
  }

  private val s13Sql = TextQueries.oracles("t35_incremental_cdc_dedup")

  // ---------------- continuous-ingest BM25 indexing (s14, round 11)
  // t38's index fold run as a STREAM: the last 250 doc_ids arrive in
  // id-ordered micro-batches; each tick appends an index generation to a
  // per-call overlay (the base corpus index stays read-only and is staged
  // once per sf dir); after the drain the serving query runs over the
  // layered index. Readers sum across generations, so the ranking equals
  // the whole-corpus t36 — its replay is the oracle — and is
  // tick-partition-invariant (StreamingSpec law).
  private val s14: Q = (s, dir) => {
    val docs = Tables.t(s, dir, "documents")
    val split = docs.agg(max(col("doc_id"))).head().getLong(0) - 249L
    val stagedDir = graft.Staged.once(("s14", dir)) {
      val out = graft.Staged.dir("graft_s14_base_")
      graft.operators.Retrieval.stageBm25Index(
        docs.where(col("doc_id") < split), "doc_id", "text").write(out)
      out
    }
    Streams.bm25Ingest(s, stagedDir,
      docs.where(col("doc_id") >= split),
      docs.where(col("doc_id") % 100 === 0), "doc_id", "text", k = 10,
      nInputFiles = 2)
  }

  private val s14Sql = TextQueries.oracles("t36_bm25_retrieval")

  // ---------------- continuous graph ingest (s15, round 14): the D6
  // GraphUpdater surface at bench scale. The TPC-H graph is built with
  // the last 250 orders' `placed` edges withheld; those edges arrive as
  // an id-ordered stream and fold tick-by-tick into new immutable
  // snapshots (Streams.graphIngest). The post-ingest traversal
  // (BUILDING customers → placed orders, per-status rollup) covers base
  // AND streamed edges, so a dropped or double-folded tick changes the
  // counts — the oracle is the plain join SQL over the full tables.
  private val s15: Q = (s, dir) => Pinned.scope {
    val (base, tail) = GraphQueries.tpchPlacedSplit(s, dir, 250)
    val folded = Streams.graphIngest(s, base, "placed", tail, nInputFiles = 2)
    // materialize the (few-row) rollup, so the scope frees the graph's
    // blocks: left pinned, every bench rep would hold a graph-sized block
    // set for the JVM lifetime
    folded
      .from("Customer")
      .filter(col("segment") === "BUILDING")
      .related("placed")
      .df.groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("totalprice")), 2).as("total_spent"))
      .pin(true)
  }

  private val s15Sql =
    """SELECT o_orderstatus AS status, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_spent
       FROM customer JOIN orders ON o_custkey = c_custkey
       WHERE c_mktsegment = 'BUILDING'
       GROUP BY 1"""

  val queries: Map[String, Q] = Map(
    "s15_stream_graph_ingest" -> s15,
    "s11_stream_semantic_dedup" -> s11,
    "s12_stream_jaccard_ingest" -> s12,
    "s13_stream_cdc_ingest" -> s13,
    "s14_stream_bm25_ingest" -> s14,
    "s01_stream_tumbling_window" -> s01,
    "s02_stream_sessionization" -> s02,
    "s03_stream_dedup" -> s03,
    "s04_stream_sliding_window" -> s04,
    "s05_stream_session_window" -> s05,
    "s06_stream_stream_join" -> s06,
    "s07_stream_running_totals" -> s07,
    "s08_stream_inactivity" -> s08,
    "s09_stream_chained_agg" -> s09,
    "s10_stream_static_join" -> s10)

  val oracles: Map[String, String] = Map(
    "s15_stream_graph_ingest" -> s15Sql,
    "s11_stream_semantic_dedup" -> s11Sql,
    "s12_stream_jaccard_ingest" -> s12Sql,
    "s13_stream_cdc_ingest" -> s13Sql,
    "s14_stream_bm25_ingest" -> s14Sql,
    "s01_stream_tumbling_window" -> s01Sql,
    "s02_stream_sessionization" -> s02Sql,
    "s03_stream_dedup" -> s03Sql,
    "s04_stream_sliding_window" -> s04Sql,
    "s05_stream_session_window" -> s05Sql,
    "s06_stream_stream_join" -> s06Sql,
    "s07_stream_running_totals" -> s07Sql,
    "s08_stream_inactivity" -> s08Sql,
    "s09_stream_chained_agg" -> s09Sql,
    "s10_stream_static_join" -> s10Sql)
}
