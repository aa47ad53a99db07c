package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.queries.Tables
import graft.streaming.Streams

/** The adaptive events.ts loader (round-9 postmortem): the driver fixture's
  * physical ts encoding changed generation-over-generation (TIMESTAMP(NANOS)
  * → timestamp[us]); a hard-coded decode killed 12 batch queries at analysis
  * and SILENTLY collapsed streaming time into 1970. These tests pin the
  * dtype dispatch over every encoding we understand, the loud failure for
  * ones we don't, and the era tripwire that converts future silent
  * corruption into an immediate error.
  */
class EventTsLoaderSpec extends SparkSpec {

  // 2024-01-15 12:00:00 UTC, the fixtures' era
  private val eraMicros = 1705320000000000L

  test("LongType ts (legacy nanos fixture) gets the div-1000 shim") {
    import spark.implicits._
    withTempDir("graft-tsenc") { dir =>
      // nanos-as-long is what the legacy TIMESTAMP(NANOS) fixture becomes
      // under spark.sql.legacy.parquet.nanosAsLong — a plain int64 column
      // reproduces that loaded shape exactly
      Seq((1L, eraMicros * 1000L + 999L, 7L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val out = Tables.t(spark, dir, "events")
      assert(out.schema("ts").dataType === TimestampType)
      val ts = out.select("ts").head().getTimestamp(0)
      // truncation to micros, matching DuckDB's ns→us read
      assert(ts === Timestamp.valueOf(LocalDateTime.of(2024, 1, 15, 12, 0, 0)))
    }
  }

  test("TIMESTAMP_NTZ ts (current timestamp[us] fixture) casts straight through") {
    import spark.implicits._
    withTempDir("graft-tsenc") { dir =>
      val ntz = LocalDateTime.of(2024, 1, 15, 12, 0, 0)
      Seq((1L, ntz, 7L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      // written as parquet timestamp[us] isAdjustedToUTC=false → loads NTZ
      assert(spark.read.parquet(s"$dir/events.parquet")
        .schema("ts").dataType.typeName === "timestamp_ntz")
      val out = Tables.t(spark, dir, "events")
      assert(out.schema("ts").dataType === TimestampType)
      // session tz is pinned UTC, so the wall clock is preserved exactly
      assert(out.select("ts").head().getTimestamp(0) === Timestamp.valueOf(ntz))
    }
  }

  test("TimestampType ts passes through untouched") {
    import spark.implicits._
    val df = Seq((1L, new Timestamp(eraMicros / 1000L)))
      .toDF("event_id", "ts")
    assert(Tables.normalizeEventTs(df).select("ts").head().getTimestamp(0)
      === new Timestamp(eraMicros / 1000L))
  }

  test("an unknown ts encoding fails loudly at load, naming the known forms") {
    import spark.implicits._
    val df = Seq((1L, "2024-01-15")).toDF("event_id", "ts")
    val e = intercept[IllegalStateException](Tables.normalizeEventTs(df))
    assert(e.getMessage.contains("unsupported type"))
    assert(e.getMessage.contains("TIMESTAMP_NTZ"))
  }

  test("era tripwire: 1970-collapsed timestamps are rejected, not shipped") {
    import spark.implicits._
    // what the round-9 bug produced: micros read as-if-nanos, /1000 →
    // everything lands in January 1970
    val collapsed = Seq((1L, new Timestamp(eraMicros / 1000000L)))
      .toDF("event_id", "ts")
    val e = intercept[IllegalStateException](Tables.assertEventEra(collapsed))
    assert(e.getMessage.contains("outside the plausible era"))
    // and the genuine era passes
    Tables.assertEventEra(
      Seq((1L, new Timestamp(eraMicros / 1000L))).toDF("event_id", "ts"))
    // empty input: nothing to probe, nothing to reject
    Tables.assertEventEra(
      Seq.empty[(Long, Timestamp)].toDF("event_id", "ts"))
  }

  test("real fixture loads as TimestampType in the fixtures' era, batch and stream") {
    val batch = Tables.t(spark, TestSpark.sf0001, "events")
    assert(batch.schema("ts").dataType === TimestampType)
    val yr = batch.select(year(col("ts"))).head().getInt(0)
    assert(yr >= 2020 && yr < 2100, s"decoded year $yr")
    val stream = Streams.eventsStream(spark, TestSpark.sf0001)
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType === TimestampType)
  }
}
