package graft

import java.nio.file.{Files, Path}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one lifecycle for staged artifacts: stores built once per JVM (a
  * staged BM25 index, a chunk store, an IVF layout, a bucketed graph, a
  * probed scalar) and the temp dirs they live in, deleted at JVM exit.
  * Staging is ingest-time work; every later query in the JVM reuses it.
  */
private[graft] object Staged {

  private final class Cell { var value: Option[Any] = None }

  private val memo = TrieMap.empty[Any, Cell]

  /** `build`'s result for `key`, built by the first caller in this JVM.
    * Atomic per key: concurrent callers of one key wait for the one build,
    * while builds of other keys run on; a build may call `once` on another
    * key (staging chains form a DAG). A `build` that throws keeps nothing,
    * so the next call builds again.
    */
  def once[T](key: Any)(build: => T): T = {
    val cell = memo.getOrElseUpdate(key, new Cell)
    cell.synchronized {
      cell.value.getOrElse {
        val v = build
        cell.value = Some(v)
        v
      }.asInstanceOf[T]
    }
  }

  private var exitDirs = List.empty[Path]

  /** Every path registered for deletion at JVM exit, newest first. */
  def atExit: List[Path] = synchronized(exitDirs)

  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(
      () => atExit.foreach(deleteTree), "graft-staged-cleanup"))

  /** Registers `p`, contents included, for deletion at JVM exit: for a
    * staged store that lives outside a [[dir]], such as a managed table in
    * the session warehouse.
    */
  def deleteAtExit(p: Path): Unit = {
    exitHook
    synchronized { exitDirs ::= p }
  }

  /** A new temp dir named `prefix…`, deleted at JVM exit. It is registered
    * as it is created, so a build that fails after writing to it leaks
    * nothing either. For scratch a caller can drop sooner, [[deleteTree]]
    * it in a `finally`.
    */
  def dir(prefix: String): String = {
    exitHook
    val d = Files.createTempDirectory(prefix)
    deleteAtExit(d)
    d.toString
  }

  /** Deletes `root` and everything under it, deepest first. Per-file
    * errors are swallowed and the walk goes on: a file that appears or
    * vanishes mid-walk (a concurrent Spark teardown) must neither stop the
    * rest of the delete nor replace the caller's result or exception.
    * NonFatal, not IOException: `Files.walk` reports mid-walk failures as
    * UncheckedIOException.
    */
  def deleteTree(root: Path): Unit =
    try {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => try Files.deleteIfExists(p) catch { case NonFatal(_) => () })
      finally walk.close()
    } catch { case NonFatal(_) => () }
}
