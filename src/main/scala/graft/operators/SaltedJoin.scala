package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Equi-join hardened against heavy key skew WITHOUT relying on AQE's
  * runtime skew split: the skewed (large, hot-keyed) side is salted into
  * `salts` sub-keys, the other side is replicated across every salt value,
  * and the join runs on (keys :+ salt) — so one hot key's rows spread
  * across `salts` tasks instead of funneling into one straggler.
  *
  * Correctness: the result multiset is IDENTICAL to the plain join — each
  * skewed-side row carries exactly one salt, and the other side matches it
  * on that salt because it was replicated across all of them (asserted
  * row-for-row in SaltedJoinSpec; the q45 gate query replays the whole
  * pipeline against a plain-join DuckDB oracle).
  *
  * Two salting modes, trading spread against replay determinism:
  *
  *   - `positionSalt = true` (default): salt = hash(keys, row position via
  *     `monotonically_increasing_id`). Byte-identical duplicate rows of a
  *     hot key STILL spread across salts (the degenerate skew shape a
  *     content hash funnels into one task). The assignment is
  *     position-dependent, i.e. NOT stable if the salted side's partitions
  *     are recomputed with a different layout: Spark marks stages built on
  *     nondeterministic expressions for rollback-and-retry rather than
  *     partial reuse, but if strict replay determinism matters (e.g. the
  *     salted side sits directly on a lineage that a fetch-failure retry
  *     will regenerate), either pre-pin the input (`localCheckpoint`) or
  *     use the content mode.
  *   - `positionSalt = false`: salt = hash(ALL columns of the row) — a
  *     pure function of row content, bit-stable under any recompute, with
  *     the documented limitation that fully-identical duplicate rows all
  *     land on one salt and a duplicates-only hot key does not spread.
  *
  * Cost model: replicates the non-skewed side `salts`× through the
  * shuffle — worth it when that side is modest and the skewed side has
  * hot keys AQE can't split well (e.g. a skewed aggregation feeding the
  * join, or a sort-merge join whose hot partition spills). Prefer plain
  * join + AQE when keys are uniform; prefer broadcast when the small side
  * fits in memory (salting a broadcastable join is pure overhead) —
  * [[join]] enforces this itself: when `other`'s optimizer size estimate
  * is under `spark.sql.autoBroadcastJoinThreshold` it dispatches to a
  * plain broadcast join (no salt column, no replication — a broadcast
  * join has no shuffle for skew to unbalance). Pass `forceSalt = true`
  * to pin the salted plan regardless (specs; known-stale stats).
  */
object SaltedJoin {

  def join(skewed: DataFrame, other: DataFrame, keys: Seq[String],
      salts: Int = 8, positionSalt: Boolean = true,
      forceSalt: Boolean = false): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    require(!skewed.columns.contains("__salt") && !other.columns.contains("__salt"),
      "SaltedJoin: inputs must not already carry a __salt column")
    if (!forceSalt && broadcastable(other)) skewed.join(broadcast(other), keys)
    else {
      val l = salted(skewed, keys, salts, positionSalt)
      val r = other.withColumn("__salt",
        explode(array((0 until salts).map(s => lit(s.toLong)): _*)))
      l.join(r, keys :+ "__salt").drop("__salt")
    }
  }

  /** True when `df`'s optimized-plan size estimate fits the session's
    * broadcast threshold — the same signal Catalyst's join strategy uses,
    * so the dispatch agrees with what a plain `join` would have planned.
    */
  private[graft] def broadcastable(df: DataFrame): Boolean =
    graft.Regime.broadcastable(df.queryExecution.optimizedPlan.stats.sizeInBytes)

  /** The skewed side with its `__salt` column attached — package-visible so
    * the spec can assert the spread property (identical duplicate rows land
    * on many salts) directly on the salt assignment.
    */
  private[graft] def salted(skewed: DataFrame, keys: Seq[String], salts: Int,
      positionSalt: Boolean = true): DataFrame = {
    val basis =
      if (positionSalt) keys.map(col) :+ monotonically_increasing_id()
      else skewed.columns.toSeq.map(col)
    skewed.withColumn("__salt", pmod(xxhash64(basis: _*), lit(salts.toLong)))
  }
}
