package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // graft's optimizer rule from the start, so no suite's plans depend
    // on whether an earlier suite's traversal installed it
    GraftExtensions.installRules(s)
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Runs `body` on a fresh temp dir named `prefix…` and deletes the dir,
    * contents included, on every exit path.
    */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally Staged.deleteTree(dir)
  }

  /** Runs `body` with the confs set, restoring the previous values after. */
  def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** `body`'s result in each expression evaluation mode, by mode name:
    * whole-stage codegen; expression codegen without whole-stage; and
    * interpreted eval. Codegen fallback is off in all three, so generated
    * code that does not compile fails instead of quietly running
    * interpreted.
    */
  def inEvalModes[T](body: => T): Seq[(String, T)] = {
    def mode(wholeStage: Boolean, factory: String) = Seq(
      "spark.sql.codegen.wholeStage" -> wholeStage.toString,
      "spark.sql.codegen.factoryMode" -> factory,
      "spark.sql.codegen.fallback" -> "false")
    Seq(
      "whole-stage" -> mode(wholeStage = true, "CODEGEN_ONLY"),
      "codegen" -> mode(wholeStage = false, "CODEGEN_ONLY"),
      "interpreted" -> mode(wholeStage = false, "NO_CODEGEN"))
      .map { case (name, confs) => name -> withConfs(confs: _*)(body) }
  }

  /** The residue law: nothing `op` pins outlives its answer. `op` runs and
    * its answer is read. A frame answer is a kernel's contract — its own
    * pins pass to the caller, who frees them with [[Pinned.free]] once
    * read; anything else (rows, a codebook) is what a query hands its
    * caller and owns no pins. Then the set of RDDs holding blocks must be
    * back to what it was. With `throws`, `op` must fail, and must leave
    * nothing behind either. Frees do not block, so the check polls for
    * up to 3 s.
    */
  def residueLaw(name: String, throws: Boolean = false)(op: => Any): Unit = {
    def cached(): Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    def read(): Unit = op match {
      case out: org.apache.spark.sql.Dataset[_] => out.collect(); Pinned.free(out)
      case _ => ()
    }
    val before = cached()
    if (throws) assert(scala.util.Try(read()).isFailure, s"$name: expected a throw")
    else read()
    val deadline = System.nanoTime() + 3000000000L
    var left = cached() -- before
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50)
      left = cached() -- before
    }
    assert(left.isEmpty, s"$name left cached RDDs $left behind")
  }

  /** The regime law: `op` answers the same multiset of rows whichever plan
    * [[Regime]] picks — its default choice on the fixture, and the scale
    * plan under [[Regime.atScale]]. Rows are collected inside the scope,
    * so decisions taken at execution time are forced too. An empty answer
    * fails the law: it would show nothing.
    */
  def regimeLaw(name: String)(op: => DataFrame): Unit = {
    def rows(): Map[Seq[Any], Int] = op.collect().toSeq.map(_.toSeq)
      .groupBy(identity).map { case (r, n) => r -> n.size }
    val small = rows()
    val atScale = Regime.atScale(rows())
    assert(small.nonEmpty, s"$name: the fixture answers no rows")
    assert(atScale === small, s"$name: the scale plan answers other rows")
  }
}
