package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.graph.PropertyGraph
import graft.schema._

/** The long-keyed TPC-H property graph (Customer -placed-> Order
  * -contains-> Part), built from the input tables through the public
  * PropertyGraph constructor. Node ids are `key * 4 + kind`. */
object TpchGraph {
  val Cust = 0
  val Ord = 1
  val Part = 2

  val schema: GraphSchema = GraphSchema(
    nodeDefs = Seq(
      NodeDef("Customer", Seq(AttrDef("name", StringType), AttrDef("segment", StringType))),
      NodeDef("Order", Seq(AttrDef("totalprice", DoubleType), AttrDef("status", StringType))),
      NodeDef("Part", Seq(AttrDef("name", StringType), AttrDef("brand", StringType)))),
    relationDefs = Seq(
      RelationDef("placed", "placedBy", "Customer", "Order", Cardinality.Many, Cardinality.One),
      RelationDef("contains", "containedIn", "Order", "Part")),
    idType = LongType)

  private def nid(kind: Int, c: String) = (col(c).cast("long") * 4 + kind)

  /** The graph, with the `placed` edges of `withheld` orders left out
    * (returned separately as the ingest tail when non-empty). */
  def build(spark: SparkSession, dir: String, withheld: Option[DataFrame] = None)
      : (PropertyGraph, DataFrame) = {
    def t(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    import GraphSchema.{DstCol, IdCol, SrcCol}
    val orders = t("orders")
    val placedAll = orders.select(nid(Cust, "o_custkey").as(SrcCol),
      nid(Ord, "o_orderkey").as(DstCol))
    val (placed, tail) = withheld match {
      case None => (placedAll, placedAll.limit(0))
      case Some(keys) =>
        val k = keys.select(nid(Ord, "o_orderkey").as(DstCol))
        (placedAll.join(k, Seq(DstCol), "left_anti").select(SrcCol, DstCol),
          placedAll.join(k, Seq(DstCol), "left_semi").select(SrcCol, DstCol))
    }
    val g = PropertyGraph(schema.validated(),
      Map(
        "Customer" -> t("customer").select(nid(Cust, "c_custkey").as(IdCol),
          col("c_name").as("name"), col("c_mktsegment").as("segment")),
        "Order" -> orders.select(nid(Ord, "o_orderkey").as(IdCol),
          col("o_totalprice").as("totalprice"), col("o_orderstatus").as("status")),
        "Part" -> t("part").select(nid(Part, "p_partkey").as(IdCol),
          col("p_name").as("name"), col("p_brand").as("brand"))),
      Map(
        "placed" -> placed,
        "contains" -> t("lineitem").select(nid(Ord, "l_orderkey").as(SrcCol),
          nid(Part, "l_partkey").as(DstCol))))
    (g, tail)
  }
}

/** graph_serve: edgy's own traffic. Two closed-loop clients share one
  * current snapshot; the op script (kinds, keys, write targets and the
  * expected answers) is generated from the seed outside the JVM. */
final class Serve(spark: SparkSession, dir: String, script: IndexedSeq[Array[String]],
    trace: Trace) extends Workload {
  import Serve._

  override def clients: Int = Clients

  /** One checkpoint generation: the snapshots that share its blocks. */
  private final class Gen {
    var readers = 0
    var superseded = false
    var freed = false
    var last: PropertyGraph = _
  }
  private final class Snap(val g: PropertyGraph, val gen: Gen)

  private val lock = new Object
  private val writeLock = new Object
  private var current: Snap = _
  private var commits = 0
  private val added = mutable.ArrayBuffer.empty[(String, String)] // (order id, status)

  private def acquire(): Snap = lock.synchronized { current.gen.readers += 1; current }
  private def unref(s: Snap): Unit = lock.synchronized {
    s.gen.readers -= 1
    maybeFree(s.gen)
  }
  private def maybeFree(g: Gen): Unit =
    if (g.superseded && g.readers == 0 && !g.freed) { g.freed = true; g.last.release() }

  private def publish(g: PropertyGraph, newGen: Boolean): Unit = lock.synchronized {
    val old = current
    val gen = if (newGen || old == null) new Gen else old.gen
    gen.last = g
    current = new Snap(g, gen)
    if (old != null && (gen ne old.gen)) { old.gen.superseded = true; maybeFree(old.gen) }
  }

  /** Build the graph from the input tables and checkpoint it. */
  def setup(): Unit = {
    release()
    commits = 0
    added.clear()
    val (g, _) = TpchGraph.build(spark, dir)
    publish(g.checkpointed(), newGen = true)
  }

  /** A few ops of every kind, so that first-call costs land here rather
    * than in the window. */
  def warmup(): Unit = {
    val snap = current.g
    script.iterator.filter(_(0) != "write").take(12).foreach(op => call(snap, op))
    // a write on a snapshot that is never published: the commit and
    // read-back paths get their first call without changing the state
    script.find(op => op(0) == "write" && op(1) == "add").foreach { op =>
      snap.addNode("Order", op(3), Map("totalprice" -> op(5).toDouble, "status" -> op(4)))
        .addRelated("placed", op(2), op(3)).isRelated("placed", op(2), op(3))
    }
  }

  private val next = new AtomicInteger(0)

  /** Closed loop: each client takes the next op of the script until the
    * deadline (relative ns); ops in flight at the deadline complete. */
  def run(deadline: Long): Int = {
    next.set(0)
    val threads = (0 until clients).map { i =>
      new Thread(() => {
        var k = next.getAndIncrement()
        while (k < script.size && trace.now() < deadline) {
          execute(script(k))
          k = next.getAndIncrement()
        }
      }, s"perfbench-client-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    1
  }

  def oracles: Map[String, String] = Map.empty

  def release(): Unit = lock.synchronized {
    if (current != null) {
      current.gen.superseded = true
      maybeFree(current.gen)
      current = null
    }
  }

  private def expectEq(want: String)(got: Any): Option[String] =
    if (String.valueOf(got) == want) None else Some(s"expected $want, got $got")

  private def call(g: PropertyGraph, op: Array[String]): Any = op(1) match {
    case "lookup"  => g.lookupBy("Customer", "name", op(2))
    case "attr"    => g.getAttribute("Order", op(2), "status")
    case "related" => g.isRelated("placed", op(2), op(3))
    case "fwd"     => traverse(g.from("Customer")
      .filter(col(GraphSchema.IdCol) === op(2).toLong)
      .related("placed").related("contains").ids)
    case "inv"     => traverse(g.from("Part")
      .filter(col(GraphSchema.IdCol) === op(2).toLong)
      .related("containedIn").related("placedBy").ids.distinct())
  }

  private def traverse(ids: DataFrame): Long = {
    val q = ids.agg(count(lit(1)))
    val n = q.collect().head.getLong(0)
    if (trace.traced) {
      trace.note("rows_scanned", Plans.scannedRows(q).toDouble)
      trace.note("rows_out", n.toDouble)
    }
    n
  }

  private def execute(op: Array[String]): Unit = op(0) match {
    case "read" =>
      trace.op("read", op(1)) {
        val s = acquire()
        try trace.span("graph.read")(call(s.g, op)) finally unref(s)
      }(expectEq(op(op.length - 1)))
    case "traverse" =>
      trace.op("traverse", op(1)) {
        val s = acquire()
        try trace.span("graph.traverse")(call(s.g, op)) finally unref(s)
      }(expectEq(op(op.length - 1)))
    case "write" =>
      trace.op("write", op(1)) {
        trace.span("graph.write")(write(op))
      } { case (want, got) => expectEq(want)(got) }
  }

  /** Commit one mutation as a new snapshot under the write lock, then read
    * the write back from that snapshot. Every `CheckpointEvery`-th commit
    * also cuts the snapshot's lineage with `checkpointed()`. */
  private def write(op: Array[String]): (String, Any) = writeLock.synchronized {
    val base = acquire()
    try {
      val isSet = op(1) == "set" && added.nonEmpty
      val (next, readBack) =
        if (isSet) {
          val (orderId, _) = added(op(2).toInt % added.size)
          val status = op(3)
          added(op(2).toInt % added.size) = (orderId, status)
          (base.g.setAttribute("Order", orderId, "status", status),
            (g: PropertyGraph) => (status, g.getAttribute("Order", orderId, "status")))
        } else {
          // a set before any add falls back to the add its op carries
          val Array(cust, orderId, status, price) =
            if (op(1) == "add") op.slice(2, 6) else Array(op(4), op(5), op(3), op(6))
          added += ((orderId, status))
          (base.g.addNode("Order", orderId, Map("totalprice" -> price.toDouble, "status" -> status))
            .addRelated("placed", cust, orderId),
            (g: PropertyGraph) => ("true", g.isRelated("placed", cust, orderId)))
        }
      commits += 1
      val cut = commits % CheckpointEvery == 0
      val snap =
        if (cut) trace.span("graph.checkpoint")(next.checkpointed())
        else next
      if (trace.traced) trace.note("plan_nodes", Plans.logicalNodes(snap).toDouble)
      publish(snap, newGen = cut)
      readBack(snap)
    } finally unref(base)
  }
}

object Serve {
  val Clients = 2
  /** Commits between `checkpointed()` snapshots. */
  val CheckpointEvery = 8
}
