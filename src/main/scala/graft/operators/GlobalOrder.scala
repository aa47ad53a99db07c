package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.Pinned.PinSyntax

/** Exact global rank over an ARBITRARY sort order without a single-task
  * window — the value-ordered sibling of [[CorpusShuffle]] (whose two-level
  * scheme needs the shard key to be a PREFIX of the sort key, which only a
  * string hash order provides).
  *
  * `row_number() OVER (ORDER BY ...)` funnels the entire input through one
  * task; this computes the SAME numbers with the distributed total-order
  * shape:
  *
  *   1. range-repartition on the sort key — Spark's sort shuffle: contiguous,
  *      ordered value ranges across `n` partitions;
  *   2. rank within each physical range partition (parallel per-partition
  *      window keyed on `spark_partition_id()`);
  *   3. add each partition's cumulative predecessor count ([[offsets]]:
  *      an `n`-row count table, prefix-summed on the driver, broadcast) to
  *      make ranks global.
  *
  * The published ranks are INDEPENDENT of where the sampled range bounds
  * fall: the sort key must be a total order (callers append a unique id
  * column as the final tie-break), so every row's rank is determined by the
  * order alone — range bounds only move rows between adjacent partitions,
  * which the offsets absorb. Equality with the naive global window is
  * asserted in DsirSpec across partition counts.
  *
  * Cost: the range exchange plus one hash exchange on the partition id
  * (Catalyst cannot know `spark_partition_id()` is already clustered), both
  * full-data but fully parallel — vs the naive window's one exchange into
  * ONE task. The range-partitioned frame is PINNED (`localCheckpoint`, the
  * t33 pattern) before fanning out to the ranked branch and the offsets
  * aggregate: with two lazily-shared consumers, divergent column pruning
  * makes the two range exchanges non-identical, AQE's stage cache misses,
  * and the whole upstream pipeline (scan + scoring) runs TWICE — measured
  * on t34's initial plan (4 FileScans, 0 reuse). Callers should project
  * away wide columns (text, vectors) before calling: the pinned payload is
  * whatever they pass in.
  */
object GlobalOrder {

  /** All input columns plus `rankName` (1-based global rank in `sortCols`
    * order). `sortCols` must be a total order of the rows (append a unique
    * id as the last sort column); column names starting with `__go_` are
    * reserved.
    */
  def rank(df: DataFrame, sortCols: Seq[Column], rankName: String = "rank",
      partitions: Int = 0): DataFrame = {
    require(sortCols.nonEmpty, "GlobalOrder.rank: sortCols must be non-empty")
    val n =
      if (partitions > 0) partitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val rp = df.repartitionByRange(n, sortCols: _*)
      .withColumn("__go_pid", spark_partition_id())
      .pin(true)
    val w = Window.partitionBy(col("__go_pid")).orderBy(sortCols: _*)
    val ranked = rp.withColumn("__go_r", row_number().over(w))
    ranked.join(broadcast(offsets(rp, "__go_pid", "__go_off")), "__go_pid")
      .withColumn(rankName, (col("__go_off") + col("__go_r")).cast("long"))
      .select(df.columns.map(col) :+ col(rankName): _*)
  }

  /** `(key, off)`: for each value of the int column `key` in `df`, the
    * number of rows whose key sorts before it (nulls first, as an
    * ascending window orders them). The per-key counts — one row per key,
    * a handful of partitions or shards — are collected and prefix-summed
    * on the driver: a window over them has no partition key, so Spark
    * would run it in one task and log a "No Partition Defined for Window
    * operation" warning on every call.
    */
  private[operators] def offsets(df: DataFrame, key: String, off: String): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1))).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Int]), r.getLong(1)))
      .sortBy(_._1)
    val rows = counts.scanLeft(0L)(_ + _._2).zip(counts)
      .map { case (before, (k, _)) => Row(k.orNull, before) }
    df.sparkSession.createDataFrame(rows.toSeq.asJava, StructType(Seq(
      StructField(key, IntegerType), StructField(off, LongType, nullable = false))))
  }
}
