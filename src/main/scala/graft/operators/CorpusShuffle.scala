package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global deterministic corpus shuffle — the "randomize the training order"
  * step, as a total permutation position every engine replays: position =
  * rank in (md5(id), id) order. The naive formulation is a single global
  * window (`row_number() OVER (ORDER BY md5(id))`) which funnels the whole
  * corpus through one task; this operator computes the SAME ranks with a
  * two-level scheme that never materializes a global order:
  *
  *   1. shard on the first md5 hex char — an order-preserving prefix of the
  *      md5 order, so shards partition the global order into 16 contiguous
  *      runs;
  *   2. rank within each shard (parallel per-shard sort);
  *   3. add each shard's cumulative predecessor count (a 16-row count
  *      table prefix-summed on the driver by `GlobalOrder.offsets`,
  *      broadcast) to make ranks global.
  *
  * Equal BY CONSTRUCTION to the global window — asserted in LlmOpsSpec and
  * replayed by the t20 oracle. For more parallelism use a longer prefix
  * (2 chars = 256 shards); contiguity of the prefix order is what makes the
  * offsets correct, so the shard key must stay a PREFIX of the sort key.
  */
object CorpusShuffle {

  /** All input columns plus `pos` (1-based global permutation position). */
  def permutation(df: DataFrame, idCol: String): DataFrame = {
    // the shard is the first md5 hex digit as an int: lowercase hex sorts
    // as its value, so the shard order stays a prefix of the md5 order
    val keyed = df
      .withColumn("__hkey", md5(col(idCol).cast("string")))
      .withColumn("__shard", conv(substring(col("__hkey"), 1, 1), 16, 10).cast("int"))
    val w = Window.partitionBy(col("__shard")).orderBy(col("__hkey"), col(idCol))
    val ranked = keyed.withColumn("__r", row_number().over(w))
    ranked.join(broadcast(GlobalOrder.offsets(keyed, "__shard", "__off")), "__shard")
      .withColumn("pos", (col("__off") + col("__r")).cast("long"))
      .select(df.columns.map(col) :+ col("pos"): _*)
  }
}
