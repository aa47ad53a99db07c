package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** A result's identity: a digest of its rows, sorted, in a fixed text
  * form. Two runs of a deterministic job agree on it exactly. */
object Digest {
  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.map(cell).mkString("\u0001")).sorted
      .foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  // floating-point cells compare to 1e-9, the oracle check's tolerance,
  // so summation order across partitions cannot flip a digest
  private def cell(v: Any): String = v match {
    case d: Double => f"$d%.9f"
    case f: Float  => f"${f.toDouble}%.9f"
    case other     => String.valueOf(other)
  }
}

/** batch_analytics: whole-table graph, dedup and retrieval jobs, each
  * called through the engine's public query entry and collected, one
  * client, back to back. The seed orders the jobs within each pass. */
final class Batch(spark: SparkSession, dir: String, outDir: String, order: Seq[String],
    trace: Trace) extends Workload {
  import Batch._

  private var reference = Map.empty[String, String]

  /** The jobs keep no state between calls: set-up resolves the input
    * tables (reads each one's schema). */
  def setup(): Unit =
    Seq("region", "nation", "customer", "orders", "lineitem", "part", "documents",
      "embeddings").foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)

  /** One pass: the first (slowest) call of every job. Its output is
    * written out for the oracle check and kept, as a digest, for every
    * measured call to reproduce. */
  def warmup(): Unit = {
    reference = order.map { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val rows = df.collect()
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      name -> Digest.of(rows)
    }.toMap
  }

  /** Whole passes over the job list until the deadline (relative ns),
    * and at least two: a pass that has started runs to its end, and the
    * sample mix does not change with how many passes fit the window. */
  def run(deadline: Long): Int = {
    var passes = 0
    while (passes < 2 || trace.now() < deadline) {
      order.foreach { name =>
        trace.op(s"batch.${family(name)}", name) {
          trace.span(layerSpan(name)) {
            val df = SparkEntry.queries(name)(spark, dir)
            val rows = df.collect()
            if (trace.traced) trace.note("fallback_exprs", Plans.fallbackExprs(df).toDouble)
            rows
          }
        } { rows =>
          val d = Digest.of(rows)
          if (d == reference(name)) None else Some(s"digest $d, reference ${reference(name)}")
        }
      }
      passes += 1
    }
    passes
  }

  def release(): Unit = ()

  def oracles: Map[String, String] = order.map(n => n -> SparkEntry.oracleSql(n)).toMap
}

object Batch {
  /** job → (family, the layer span its call is recorded under). Two
    * jobs per family keep a cold pass within the run's time budget. */
  val jobs: Seq[(String, String, String)] = Seq(
    ("g05_connected_components", "graph", "algos.cc"),
    ("g06_pagerank_topk", "graph", "algos.pagerank"),
    ("t08_minhash_lsh_dedup", "dedup", "dedup.minhash"),
    ("t32_cdc_dedup", "dedup", "dedup.cdc"),
    ("t34_dsir_selection", "retrieval", "operators.dsir"),
    ("v15_pq_topk", "retrieval", "ann.pq"))
  val family: Map[String, String] = jobs.map(j => j._1 -> j._2).toMap
  val layerSpan: Map[String, String] = jobs.map(j => j._1 -> j._3).toMap
}
