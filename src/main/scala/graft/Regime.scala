package graft

import scala.util.DynamicVariable

import org.apache.spark.sql.internal.SQLConf

/** The one small-input-vs-scale policy. Every heavy operator has two
  * plans for one answer: a driver-local or broadcast plan while its input
  * is small, and a distributed plan for scale. Each operator measures its
  * input against a cap kept, with its measured rationale, next to its
  * kernel; this object makes the choice, so every site decides alike and
  * one test hook reaches every scale branch.
  */
private[graft] object Regime {

  private val forced = new DynamicVariable[Boolean](false)

  /** Most literals a pruning IN-list carries before the plan switches to
    * a broadcast semi-join — an unbounded list is a driver-memory and
    * plan-size hazard. A comfort bound, not a measured one, shared by
    * Ann's probed-cell prune and the staged BM25 query-term prune.
    */
  val MaxInListLiterals = 1000

  /** True when `size` fits the small-input regime bounded by `cap`. */
  def fits(size: Long, cap: Long): Boolean = !forced.value && size <= cap

  /** True when a plan estimated at `sizeInBytes` fits the session's
    * `spark.sql.autoBroadcastJoinThreshold` (Spark's own parse, so the
    * choice agrees with Catalyst's join planning; negative = off).
    */
  def broadcastable(sizeInBytes: BigInt): Boolean = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    !forced.value && threshold > 0 && sizeInBytes <= threshold
  }

  /** Test hook: runs `body` with every choice above taking the scale
    * branch, on this thread and on every thread it starts meanwhile.
    */
  def atScale[T](body: => T): T = forced.withValue(true)(body)
}
