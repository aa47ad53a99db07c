package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Central loader for the driver-generated parquet tables.
  *
  * The only quirk is `events.ts`, whose PHYSICAL encoding has changed across
  * driver fixture generations — a lesson the reference bakes into its design
  * (its node serialization is self-describing, edgy src/Edgy/Node.hs:147-192):
  * never hard-code one on-disk encoding. We dispatch on the dtype Spark
  * actually loaded:
  *
  *   - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it
  *     outright ([PARQUET_TYPE_ILLEGAL]) unless
  *     `spark.sql.legacy.parquet.nanosAsLong` is set, in which case the
  *     column arrives as LongType nanos. We rebuild a TimestampType column
  *     by truncating to micros — exactly what DuckDB does reading ns into
  *     its us-precision TIMESTAMP, so both engines agree on derived values.
  *   - parquet timestamp[us] with isAdjustedToUTC=false (the current
  *     fixture): loads natively as TIMESTAMP_NTZ. We cast to the session
  *     TimestampType — wall-clock preserving because every entrypoint pins
  *     `spark.sql.session.timeZone=UTC` — so all downstream window/interval
  *     code sees the one type it always has.
  *   - timestamp[us/ms] adjusted to UTC: loads as TimestampType, used as-is.
  *   - anything else: fail loudly, naming the forms we understand. An
  *     analysis error beats the silent 1970-collapse a wrong-unit shim
  *     produces.
  *
  * `assertEventEra` is the second line of defense for the SILENT failure
  * mode: a one-row probe asserting decoded timestamps land in a plausible
  * era (the fixtures are 2024; wrong-unit arithmetic lands in 1970 or
  * >period 30828). One row is sufficient because unit errors are
  * multiplicative — they displace every row by ~1000x.
  */
object Tables {

  /** Era bounds for the decoded events.ts — generous so fixture
    * regeneration never trips it, but any /1000 or x1000 unit error (1970
    * or five-digit years) lands far outside.
    */
  private val eraMin = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
  private val eraMax = java.sql.Timestamp.valueOf("2100-01-01 00:00:00")

  /** Normalize the `ts` column of a raw events frame (batch or streaming)
    * to TimestampType, dispatching on the dtype the reader produced.
    */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => // legacy fixture: TIMESTAMP(NANOS) read under nanosAsLong
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // current fixture: timestamp[us], not UTC-adjusted
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType =>
        raw
      case other =>
        throw new IllegalStateException(
          s"events.ts loaded as unsupported type $other; expected LongType " +
            "(legacy TIMESTAMP(NANOS) under nanosAsLong), TIMESTAMP_NTZ " +
            "(timestamp[us]), or TIMESTAMP. Extend Tables.normalizeEventTs " +
            "for the new fixture encoding instead of shimming blindly.")
    }

  /** One-row sanity probe: the decoded era must be plausible. Catches a
    * wrong-unit shim (the failure mode that silently corrupted every
    * stateful streaming query in round 9) at load time, loudly.
    */
  def assertEventEra(normalized: DataFrame): Unit = {
    val probe = normalized.select(col("ts")).limit(1).collect()
    probe.headOption.map(_.getTimestamp(0)).foreach { ts =>
      if (ts.before(eraMin) || !ts.before(eraMax))
        throw new IllegalStateException(
          s"events.ts decoded to $ts — outside the plausible era " +
            s"[$eraMin, $eraMax). The fixture's physical encoding likely " +
            "changed; fix Tables.normalizeEventTs rather than shipping " +
            "collapsed timestamps.")
    }
  }

  /** [[assertEventEra]], once per (dir) per JVM. The probe is a real
    * (tiny) Spark job; the fixture under a dir cannot change mid-JVM, so
    * every events load after the first paying ~0.1s of probe job was
    * pure per-call overhead — across ~15 streaming gates × bench reps it
    * added seconds of fixed cost. The guard itself is intact: the first
    * load of any dir still era-checks it.
    */
  def assertEventEraOnce(dir: String, normalized: => DataFrame): Unit =
    graft.Staged.once(("eventEra", dir))(assertEventEra(normalized))

  def t(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      // harmless for non-nanos fixtures; required to load legacy nanos ones
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val events = normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      assertEventEraOnce(dir, events)
      events
    case _ =>
      spark.read.parquet(s"$dir/$name.parquet")
  }
}
