package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** The one lifecycle for staged artifacts ([[Staged]]): the per-key memo
  * under contention, failure and nesting, the delete, and the source check
  * that keeps memos, exit hooks and staging temp dirs in one file.
  */
class StagedSpec extends AnyFunSuite {

  /** Runs `n` bodies on `n` threads released together by one latch. */
  private def race[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val go = new CountDownLatch(1)
      val runs = (0 until n).map(i => Future { go.await(); body(i) })
      go.countDown()
      Await.result(Future.sequence(runs), 60.seconds)
    } finally { pool.shutdownNow(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }

  test("concurrent callers of one key build once and share the value") {
    val key = ("StagedSpec.race", System.nanoTime())
    val builds = new AtomicInteger
    val got = race(8) { _ =>
      Staged.once(key) {
        builds.incrementAndGet()
        Thread.sleep(200) // hold the build open while the others arrive
        new Object
      }
    }
    assert(builds.get === 1)
    assert(got.forall(_ eq got.head), "callers got different values")
  }

  test("a throwing build propagates, keeps nothing, and its dir is already registered") {
    val key = ("StagedSpec.throw", System.nanoTime())
    var made: Option[Path] = None
    val e = intercept[IllegalStateException] {
      Staged.once(key) {
        val d = Staged.dir("graft-staged-spec-")
        made = Some(java.nio.file.Paths.get(d))
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage === "build failed")
    val dir = made.get
    assert(Staged.atExit.contains(dir), s"$dir is not registered for deletion")
    Staged.deleteTree(dir)
    assert(!Files.exists(dir))
    val builds = new AtomicInteger
    assert(Staged.once(key) { builds.incrementAndGet(); "built" } === "built")
    assert(Staged.once(key) { builds.incrementAndGet(); "again" } === "built")
    assert(builds.get === 1, "the failed build was memoized")
  }

  test("nested once on different keys builds each key once, without deadlock") {
    val outer = ("StagedSpec.outer", System.nanoTime())
    val inner = ("StagedSpec.inner", System.nanoTime())
    val outerBuilds, innerBuilds = new AtomicInteger
    def innerValue(): String = Staged.once(inner) {
      innerBuilds.incrementAndGet(); Thread.sleep(100); "inner"
    }
    def outerValue(): String = Staged.once(outer) {
      outerBuilds.incrementAndGet(); innerValue() + "+outer"
    }
    // half the callers enter through the outer key, half straight at the
    // inner one, so each lock is contended while the other is held
    val got = race(8)(i => if (i % 2 == 0) outerValue() else innerValue())
    assert(got.toSet === Set("inner+outer", "inner"))
    assert(outerBuilds.get === 1)
    assert(innerBuilds.get === 1)
  }

  test("deleteTree removes a nested tree and ignores a missing root") {
    val root = Files.createTempDirectory("graft-staged-spec-")
    Files.createDirectories(root.resolve("a/b"))
    Files.writeString(root.resolve("a/b/f.txt"), "x")
    Files.writeString(root.resolve("g.txt"), "y")
    Staged.deleteTree(root)
    assert(!Files.exists(root))
    Staged.deleteTree(root) // already gone: a no-op, not a throw
  }

  test("memos, exit hooks and staging temp dirs appear in src/main only inside Staged.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no source tree at ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val queries = new java.io.File(root, "graft/queries").getPath
    val hits = for {
      f <- files(root) if f.getName.endsWith(".scala") && f.getName != "Staged.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      if line.contains("TrieMap") || line.contains("addShutdownHook") ||
        (f.getPath.startsWith(queries) && line.contains("createTempDirectory"))
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"staging outside Staged:\n${hits.mkString("\n")}")
  }
}
