package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.graph.PropertyGraph
import graft.operators.Retrieval
import graft.streaming.Streams

/** stream_ingest: backlog drains through the public streaming ingest
  * functions. A drain stages the withheld tail as `Files(kind)` input
  * files (one micro-batch per file, AvailableNow) and is followed by a
  * read of the folded result. The tails are withheld in set-up: the
  * `placed` edges of the seed-chosen orders in `tail_orders.parquet` for
  * the graph, the last `TailDocs` documents for the BM25 index. */
final class Ingest(spark: SparkSession, dir: String, outDir: String, trace: Trace)
    extends Workload {
  import Ingest._

  private val docs = spark.read.parquet(s"$dir/documents.parquet")
  private val split = docs.agg(max(col("doc_id"))).head().getLong(0) - (TailDocs - 1)
  private val tail = docs.where(col("doc_id") >= split)
  private val bm25Dir = s"$outDir/stores/bm25"
  private var base: PropertyGraph = _
  private var edges: DataFrame = _
  // each kind's read-back from the first round: the oracle checks it, and
  // every later drain of that kind must reproduce it (a fold does not
  // depend on how the tail is split into micro-batches)
  private val firstRound = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
  private val reference = scala.collection.mutable.HashMap.empty[String, String]
  private var drains = 0

  /** Withhold the tails: build the base graph without the tail edges and
    * stage the BM25 index from the documents before the tail. */
  def setup(): Unit = {
    Retrieval.stageBm25Index(docs.where(col("doc_id") < split), "doc_id", "text")
      .write(bm25Dir)
    val (g, t) = TpchGraph.build(spark, dir,
      Some(spark.read.parquet(s"$dir/tail_orders.parquet")))
    base = g
    edges = t
  }

  /** None: the first drain of each kind is measured as the first call
    * of its kind in the session, as a freshly started ingest job runs. */
  def warmup(): Unit = ()

  /** Writes each kind's first read-back for the oracle check. */
  def release(): Unit = firstRound.foreach { case (kind, df) =>
    df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$kind")
  }

  private def ingest(kind: String, nFiles: Int): Either[PropertyGraph, DataFrame] = kind match {
    case "graph" => Left(Streams.graphIngest(spark, base, "placed", edges, nInputFiles = nFiles))
    case "bm25" => Right(Streams.bm25Ingest(spark, bm25Dir, tail,
      docs.where(col("doc_id") % 100 === 0), "doc_id", "text", k = 10,
      nInputFiles = nFiles))
  }

  /** The folded result as a user reads it: the s15 traversal rollup for
    * the graph (whose blocks are then released), the top-k for BM25. */
  private def readBack(folded: Either[PropertyGraph, DataFrame]): (Array[Row], StructType) =
    folded match {
      case Left(g) =>
        try {
          val df = g.from("Customer").filter(col("segment") === "BUILDING").related("placed")
            .df.groupBy(col("status"))
            .agg(count(lit(1)).as("n_orders"), round(sum(col("totalprice")), 2).as("total_spent"))
          (df.collect(), df.schema)
        } finally g.release()
      case Right(df) => (df.collect(), df.schema)
    }

  /** Whole rounds (one drain of every kind, in `Order`) until the
    * deadline (relative ns), and at least two: a round that has started
    * runs to its end, and every run measures one cold and one warm round. */
  def run(deadline: Long): Int = {
    var rounds = 0
    while (rounds < 2 || trace.now() < deadline) {
      Order.foreach { kind =>
        drains += 1
        val label = s"$kind#$drains"
        trace.streamLabel = label
        trace.op("drain", label) {
          val folded = trace.span(s"streams.${kind}_ingest")(ingest(kind, Files(kind)))
          val (rows, schema) = trace.span("readback")(readBack(folded))
          if (!firstRound.contains(kind))
            firstRound(kind) = spark.createDataFrame(rows.toSeq.asJava, schema)
          rows
        } { rows =>
          val d = Digest.of(rows)
          reference.get(kind) match {
            case None => reference(kind) = d; None
            case Some(r) => if (d == r) None else Some(s"digest $d, first round $r")
          }
        }
      }
      rounds += 1
    }
    rounds
  }

  def oracles: Map[String, String] = Map(
    "graph" -> SparkEntry.oracleSql("s15_stream_graph_ingest"),
    "bm25" -> SparkEntry.oracleSql("s14_stream_bm25_ingest"))
}

object Ingest {
  /** Withheld document suffix for the BM25 drain. */
  val TailDocs = 200
  /** Input files (= micro-batches) per drain. Unequal, so that the median
    * micro-batch sits inside one kind's population, not between the two. */
  val Files: Map[String, Int] = Map("graph" -> 8, "bm25" -> 4)
  /** A fixed drain order: which drain runs first changes what is pinned
    * at once, so a seeded order would move peak_pinned_mb. */
  val Order: Seq[String] = Seq("graph", "bm25")
}
