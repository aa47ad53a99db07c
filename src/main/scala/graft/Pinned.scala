package graft

import scala.collection.mutable
import scala.runtime.NonLocalReturnControl
import scala.util.DynamicVariable

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftinternal.Bridge

/** The one pin lifecycle. A pin is a `localCheckpoint`'d frame: its blocks
  * stay in the block manager until something drops them, and the
  * ContextCleaner does so only when a driver GC happens to collect the
  * RDD — unreliable under load. `ds.pin(eager)` ([[PinSyntax]]) is the
  * engine's only checkpoint and [[free]] its only release (the blocks hang
  * off the internal RDD of a LogicalRDD leaf, hence the leaf walk).
  *
  * Scope contract: [[scope]] owns every pin made while its body runs, on
  * this thread and on threads started inside it (the [[Regime]]
  * DynamicVariable model). On exit it frees every pin its result cannot
  * reach — the LogicalRDD leaves and their uncut lineage of a frame, or of
  * any product or collection of frames (a tuple, a PropertyGraph). Pins the
  * result reaches pass to the enclosing scope, or at top level to the
  * caller, who frees them with [[free]] or PropertyGraph.release(). A body
  * that throws frees every pin it made. Outside any scope a pin records
  * nothing. [[free]] inside a scope is an early release, to bound the
  * in-call peak.
  */
private[graft] object Pinned {

  private val current = new DynamicVariable[Option[Arena]](None)

  /** An owner of pins. [[scope]] opens one per call; a holder whose pins
    * outlive one call (Streams.GraphUpdater) keeps its own, makes its pins
    * [[within]] it and closes it once. A pin made after the close is the
    * caller's.
    */
  final class Arena private[Pinned] (parent: Option[Arena]) {
    private val owned = mutable.LinkedHashMap.empty[Int, SparkContext]
    private var open = true

    private[Pinned] def register(sc: SparkContext, id: Int): Unit =
      synchronized { if (open) owned(id) = sc }

    /** Runs `body` with this arena owning the pins made meanwhile. */
    def within[T](body: => T): T = current.withValue(Some(this))(body)

    /** Frees every owned pin `result` cannot reach and passes the others
      * to the enclosing arena.
      */
    def close(result: Any): Unit = {
      val pins = synchronized { open = false; val p = owned.toSeq; owned.clear(); p }
      if (pins.nonEmpty) {
        val live = reach(result)
        pins.foreach { case (id, sc) =>
          if (live(id)) parent.foreach(_.register(sc, id)) else drop(sc, id)
        }
      }
    }
  }

  /** A new arena inside the current scope. */
  def arena(): Arena = new Arena(current.value)

  /** Runs `body` in a new arena and closes it against the result, or
    * against nothing when `body` throws. A `return` inside `body` unwinds
    * as a throw; the arena closes against the value it returns.
    */
  def scope[T](body: => T): T = {
    val a = arena()
    val out = try a.within(body) catch {
      case r: NonLocalReturnControl[_] => a.close(r.value); throw r
      case t: Throwable => a.close(()); throw t
    }
    a.close(out)
    out
  }

  implicit final class PinSyntax[T](private val ds: Dataset[T]) extends AnyVal {
    /** `ds.localCheckpoint(eager)`, owned by the current scope. */
    def pin(eager: Boolean): Dataset[T] = {
      val out = ds.localCheckpoint(eager)
      current.value.foreach(a => leaves(out).foreach(r => a.register(r.sparkContext, r.id)))
      out
    }
  }

  /** Releases the blocks behind a pinned frame (a no-op on other frames).
    * The frame must not be consumed again: its lineage was truncated.
    */
  def free(ds: Dataset[_]): Unit = leaves(ds).foreach(r => drop(r.sparkContext, r.id))

  /** Drops every persisted RDD in the lineage of `roots` — for a library
    * that caches on its own (GraphX persists each graph it builds).
    */
  def freeLineage(roots: Seq[RDD[_]]): Unit =
    lineage(roots).filter(_.getStorageLevel.isValid).foreach(r => drop(r.sparkContext, r.id))

  /** Drops every block the session persists, blocking until they are gone. */
  def sweep(sc: SparkContext): Unit =
    sc.getPersistentRDDs.keys.foreach(Bridge.unpersistRDD(sc, _, blocking = true))

  private def drop(sc: SparkContext, id: Int): Unit =
    Bridge.unpersistRDD(sc, id, blocking = false)

  private def leaves(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collectWithSubqueries { case lr: LogicalRDD => lr.rdd }

  private def lineage(roots: Seq[RDD[_]]): Iterable[RDD[_]] = {
    val seen = mutable.LinkedHashMap.empty[Int, RDD[_]]
    var todo = roots.toList
    while (todo.nonEmpty) {
      val r = todo.head
      todo = todo.tail
      if (!seen.contains(r.id)) {
        seen(r.id) = r
        todo = r.dependencies.map(_.rdd).toList ::: todo
      }
    }
    seen.values
  }

  /** The RDD ids `result` can read (collections before products: a List
    * cell is both, and its product walk would recurse once per element).
    */
  private def reach(result: Any): Set[Int] = result match {
    case ds: Dataset[_] => lineage(leaves(ds)).map(_.id).toSet
    case xs: Iterable[_] => xs.iterator.flatMap(reach).toSet
    case p: Product => p.productIterator.flatMap(reach).toSet
    case _ => Set.empty
  }
}
