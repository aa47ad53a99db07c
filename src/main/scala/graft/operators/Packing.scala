package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Concat-and-chop sequence packing — the step that turns a curated corpus
  * into fixed-length training sequences: within a shard, documents are laid
  * end-to-end in a deterministic order and the token stream is chopped every
  * `budget` tokens, so a document occupies sequences `first_seq..last_seq`
  * (it straddles a boundary whenever its span crosses a multiple of the
  * budget). This is the standard LLM pretraining packing scheme (concat +
  * chop, no padding); the output is the doc → sequence placement map a
  * downstream tokenizer/writer consumes.
  *
  * Scale shape: ONE shuffle on the shard key, then a per-shard running sum
  * (window). The shard count bounds the parallelism AND the packing domain —
  * sequences never cross shards, so shards are independently writable by
  * 1000 executors; pick shards ≈ output-file count. A global (unsharded)
  * running sum would funnel 100 TB through one task — the shard column is
  * mandatory, not cosmetic.
  *
  * Determinism: placement is a pure function of (shard, order-within-shard,
  * token counts), so any hash shard + total order on the id replays
  * bit-identically across engines — t18's oracle re-derives it in DuckDB.
  */
object Packing {

  /** Doc-level placement: (id, shard, n_tokens, start_off, first_seq,
    * last_seq, n_seqs). `tokenCount` is evaluated per row (no pre-agg
    * needed); `shard` must be deterministic in the row (hash of the id, a
    * date bucket, ...). Offsets/sequence numbers are shard-local.
    */
  def pack(docs: DataFrame, idCol: String, tokenCount: Column, budget: Int,
      shard: Column): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
    docs
      .withColumn("shard", shard)
      .withColumn("n_tokens", tokenCount)
      .withColumn("end_off", sum(col("n_tokens")).over(w))
      .select(
        col(idCol), col("shard"), col("n_tokens"),
        (col("end_off") - col("n_tokens")).as("start_off"),
        floor((col("end_off") - col("n_tokens")) / budget).as("first_seq"),
        floor((col("end_off") - 1) / budget).as("last_seq"))
      .withColumn("n_seqs", (col("last_seq") - col("first_seq") + 1).cast("long"))
  }

  /** Production shard choice: uniform hash of the id, the `shard` a
    * training-data pipeline passes [[pack]] to spread documents evenly
    * over packing shards. Not DuckDB-replayable (xxhash64), so oracle-gated
    * callers (t-queries) pass an md5-derived shard instead.
    */
  def hashShard(id: Column, shards: Int): Column =
    pmod(xxhash64(id), lit(shards.toLong)).cast("int")
}
