package graft.graph

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.Regime
import graft.schema._
import graft.schema.GraphSchema.{DstCol, SrcCol}

/** The driver-side index of one [[PropertyGraph]] snapshot: a base built
  * once from the snapshot's pinned tables, plus a persistent delta of the
  * point mutations made since. Per stored relation the base holds a CSR
  * adjacency in both orientations; per label, the node rows (defaults
  * applied, as `nodes(label)` returns them) keyed by id. Ids are
  * dictionary-encoded to dense ints by [[IdCodes]].
  *
  * The base is built lazily, exactly once, on the first point read that
  * needs it; a mutation never forces it. The delta holds node edits and,
  * per relation, added edges and tombstones, keyed by id rather than by
  * code, so it stays valid whether or not the base was ever built.
  * `PropertyGraph.checkpointed()` folds base ⊕ delta into a new base on
  * the driver ([[folded]]), with no Spark job. The fold rebuilds only the
  * labels and relations the delta touches: the dictionary grows in
  * first-seen order, so every old code stays valid and every untouched
  * `NodeRows` and `Adjacency` is reused as it is.
  */
private[graph] final class SnapshotIndex private (
    schema: GraphSchema,
    base: SnapshotIndex.LazyBase,
    delta: SnapshotIndex.Delta) {
  import SnapshotIndex._

  /** base ⊕ delta, when the small regime holds: the base fits
    * [[MaxRows]] (an unbuilt base is built here, once).
    */
  def contents: Option[Contents] =
    if (!Regime.fits(base.rowsIfBuilt, MaxRows)) None
    else base.value.map(new Contents(schema, _, delta))

  /** The folded index of the snapshot that pins this one's tables, when
    * the base was built; None leaves that snapshot a fresh lazy base.
    */
  def folded: Option[SnapshotIndex] =
    if (!base.isBuilt) None
    else base.value.flatMap(b => new Contents(schema, b, delta).fold())
      .map(b => new SnapshotIndex(schema, LazyBase.built(b), Delta.empty))

  // ------------------------------------------------------------ mutations

  def addNode(label: String, id: Any, row: Row): SnapshotIndex =
    editNode(label, id)(_.add(row))

  def setAttribute(label: String, id: Any, pos: Int, v: Any): SnapshotIndex =
    editNode(label, id)(_.set(pos, v))

  /** The node's rows go, and every edge that names it in a relation whose
    * schema touches the label (PropertyGraph.deleteNode's cascade).
    */
  def deleteNode(label: String, id: Any): SnapshotIndex = {
    val edited = editNode(label, id)(_ => NodeEdit.Deleted)
    schema.relationsTouching(label).foldLeft(edited) { (ix, r) =>
      val src = if (r.from == label) ix.editEdges(r.name)(_.clearSrc(id)) else ix
      if (r.to == label) src.editEdges(r.name)(_.clearDst(id)) else src
    }
  }

  /** Edge ops address the stored orientation of relation `rel`. */
  def addEdge(rel: String, s: Any, d: Any): SnapshotIndex = editEdges(rel)(_.add(s, d))
  def removeEdge(rel: String, s: Any, d: Any): SnapshotIndex = editEdges(rel)(_.remove(s, d))
  def clearSrc(rel: String, id: Any): SnapshotIndex = editEdges(rel)(_.clearSrc(id))
  def clearDst(rel: String, id: Any): SnapshotIndex = editEdges(rel)(_.clearDst(id))

  private def editNode(label: String, id: Any)(f: NodeEdit => NodeEdit): SnapshotIndex = {
    val edits = delta.nodes.getOrElse(label, Map.empty[Any, NodeEdit])
    val e = f(edits.getOrElse(id, NodeEdit.Untouched))
    new SnapshotIndex(schema, base,
      delta.copy(nodes = delta.nodes.updated(label, edits.updated(id, e))))
  }

  private def editEdges(rel: String)(f: EdgeDelta => EdgeDelta): SnapshotIndex =
    new SnapshotIndex(schema, base, delta.copy(edges = delta.edges.updated(
      rel, f(delta.edges.getOrElse(rel, EdgeDelta.empty)))))
}

private[graph] object SnapshotIndex {

  /** Most rows (node rows plus edges, over every table) a snapshot's base
    * may hold. The base keeps each node row as a boxed Row, each edge as
    * four ints across the two CSRs plus its share of the id dictionary.
    * Measured with SizeEstimator on the perfbench TPC-H graph (37,000
    * node rows of two scalar attributes, 150,299 edges): 10.6 MiB, 59 B
    * per row (~180 B per node row, ~29 B per edge). At this cap that
    * shape is ~120 MiB of driver heap, and a generation change briefly
    * holds two. Past it the snapshot stays on the scan path: its tables
    * are too large to collect.
    */
  val MaxRows = 2000000L

  /** Most ids a traversal hop may hand on as a local relation. A local
    * frontier travels inside the plan of every job that reads it; past
    * this size the hop plans the equi-join from the current frontier
    * instead.
    */
  val MaxLocalFrontier = 1L << 16

  /** The index of a snapshot built by mutations from nothing. */
  def empty(schema: GraphSchema): SnapshotIndex =
    new SnapshotIndex(schema, LazyBase.built(
      Base.build(schema, Map.empty, Map.empty).get), Delta.empty)

  /** The index of `g`, whose base is collected from `g`'s tables on the
    * first point read.
    */
  def over(g: PropertyGraph): SnapshotIndex =
    new SnapshotIndex(g.schema, new LazyBase(() => collect(g)), Delta.empty)

  /** True when a `dt` column holds `v` exactly as given, so the driver
    * copy reads back what a scan would: the external class of each
    * scalar type. Anything else (a conversion, a cast, a widening) drops
    * the index.
    */
  def exact(dt: DataType, v: Any): Boolean = v == null || ((dt, v) match {
    case (StringType, _: String) | (LongType, _: Long) | (IntegerType, _: Int) |
         (DoubleType, _: Double) | (FloatType, _: Float) | (BooleanType, _: Boolean) |
         (ShortType, _: Short) | (ByteType, _: Byte) => true
    case _ => false
  })

  /** True when every optional attribute's default is exact for its type:
    * then each `nodes(label)` column has its attribute's type, and the
    * index can apply defaults as the scan's `coalesce` does.
    */
  def exactDefaults(d: NodeDef): Boolean =
    d.attrs.forall(a => a.required || exact(a.dataType, a.defaultValue))

  /** Bounded by exact counts before anything is collected; a null id
    * anywhere also keeps the snapshot on the scan path.
    */
  private def collect(g: PropertyGraph): Option[Base] = {
    val nodes = g.schema.nodeDefs.map(d => d.label -> g.nodes(d.label))
    val edges = g.schema.relationDefs.map(r =>
      r.name -> g.edgeTables(r.name).select(col(SrcCol), col(DstCol)))
    val rows = (nodes ++ edges).map(_._2.count()).sum
    if (rows > MaxRows) None
    else Base.build(g.schema,
      nodes.map { case (l, df) => l -> df.collect().toSeq }.toMap,
      edges.map { case (r, df) =>
        r -> df.collect().toSeq.map(row => (row.get(0), row.get(1))) }.toMap)
  }

  /** A base built on first use, exactly once even under concurrent
    * readers (a lazy val's initialization is synchronized).
    */
  final class LazyBase(build: () => Option[Base]) {
    @volatile private var rows = -1L
    lazy val value: Option[Base] = {
      val b = build()
      rows = b.fold(Long.MaxValue)(_.rows)
      b
    }
    def isBuilt: Boolean = rows >= 0
    /** The built base's row count; 0 before the build. */
    def rowsIfBuilt: Long = math.max(rows, 0L)
  }

  object LazyBase {
    def built(b: Base): LazyBase = {
      val l = new LazyBase(() => Some(b))
      l.value
      l
    }
  }

  /** Dense int codes for node ids, one encoder for every id type: the
    * open-addressing `GraphAlgos.LongIntMap` for long and int ids, one
    * hash map for string ids. `ids(c)` decodes.
    */
  final class IdCodes private (val ids: Array[Any],
      longs: GraphAlgos.LongIntMap, strings: java.util.HashMap[Any, Integer]) {
    def size: Int = ids.length
    /** -1 for an id the dictionary does not hold. */
    def code(id: Any): Int =
      if (longs != null) longs.get(IdCodes.key(id))
      else { val c = strings.get(id); if (c == null) -1 else c.intValue }
    /** This dictionary with the ids of `more` it lacks appended, in
      * first-seen order: every code of this one keeps its id.
      */
    def extend(idType: DataType, more: Iterator[Any]): IdCodes = {
      val fresh = more.filter(code(_) < 0).toVector
      if (fresh.isEmpty) this
      else IdCodes(idType, ids.iterator ++ fresh, size + fresh.size)
    }
  }

  object IdCodes {
    private def key(id: Any): Long = id match {
      case l: Long => l
      case i: Int  => i.toLong
    }

    /** The distinct ids of `all` in first-seen order; `bound` bounds
      * their number.
      */
    def apply(idType: DataType, all: Iterator[Any], bound: Int): IdCodes = {
      val out = mutable.ArrayBuffer.empty[Any]
      if (idType == StringType) {
        val m = new java.util.HashMap[Any, Integer]
        all.foreach(id => if (!m.containsKey(id)) { m.put(id, out.size); out += id })
        new IdCodes(out.toArray, null, m)
      } else {
        val seen = new GraphAlgos.LongIntMap(bound)
        all.foreach { id =>
          val k = key(id)
          if (seen.get(k) < 0) { seen.put(k, out.size); out += id }
        }
        val ids = out.toArray
        val m = new GraphAlgos.LongIntMap(ids.length)
        var i = 0
        while (i < ids.length) { m.put(key(ids(i)), i); i += 1 }
        new IdCodes(ids, m, null)
      }
    }
  }

  /** Compressed sparse rows: the values of key `k` are
    * `adj(off(k) until off(k + 1))`, in input order.
    */
  final class Csr private (off: Array[Int], adj: Array[Int]) {
    /** Empty for -1, the code of an id the dictionary does not hold, and
      * for a code past this CSR's keys (an id a later, extended
      * dictionary added).
      */
    def values(k: Int): Iterator[Int] =
      if (k < 0 || k >= off.length - 1) Iterator.empty
      else Iterator.range(off(k), off(k + 1)).map(adj)
    def pairs: Iterator[(Int, Int)] =
      Iterator.range(0, off.length - 1).flatMap(k => values(k).map(k -> _))
    /** The number of values. */
    def size: Int = adj.length
    /** Sets in `live` every key that has a value. */
    def markKeys(live: java.util.BitSet): Unit = {
      var k = 0
      while (k < off.length - 1) { if (off(k + 1) > off(k)) live.set(k); k += 1 }
    }
  }

  object Csr {
    def apply(n: Int, keys: Array[Int], vals: Array[Int]): Csr = {
      val off = new Array[Int](n + 1)
      keys.foreach(k => off(k + 1) += 1)
      var k = 0
      while (k < n) { off(k + 1) += off(k); k += 1 }
      val next = off.clone()
      val adj = new Array[Int](keys.length)
      var i = 0
      while (i < keys.length) { adj(next(keys(i))) = vals(i); next(keys(i)) += 1; i += 1 }
      new Csr(off, adj)
    }
  }

  /** The rows of one label, grouped by id code. */
  final class NodeRows(val rows: Array[Row], val byId: Csr)

  object NodeRows {
    def apply(codes: IdCodes, rs: Array[Row]): NodeRows =
      new NodeRows(rs, Csr(codes.size, rs.map(r => codes.code(r.get(0))), rs.indices.toArray))
  }

  /** One stored relation: `out` by src, `in` by dst. */
  final class Adjacency(val out: Csr, val in: Csr)

  object Adjacency {
    def apply(codes: IdCodes, ps: Array[(Any, Any)]): Adjacency = {
      val s = ps.map(p => codes.code(p._1))
      val d = ps.map(p => codes.code(p._2))
      new Adjacency(Csr(codes.size, s, d), Csr(codes.size, d, s))
    }
  }

  final class Base(val codes: IdCodes, val labels: Map[String, NodeRows],
      val rels: Map[String, Adjacency]) {
    val rows: Long =
      labels.values.map(_.rows.length.toLong).sum + rels.values.map(_.out.size.toLong).sum

    /** The number of codes some row or edge of this base uses. */
    def liveIds: Int = {
      val live = new java.util.BitSet(codes.size)
      labels.values.foreach(_.byId.markKeys(live))
      rels.values.foreach { a => a.out.markKeys(live); a.in.markKeys(live) }
      live.cardinality
    }
  }

  object Base {
    /** None when a null id or more than [[MaxRows]] rows are present. */
    def build(schema: GraphSchema, nodes: Map[String, Seq[Row]],
        edges: Map[String, Seq[(Any, Any)]]): Option[Base] = {
      val nodeRows = schema.nodeDefs.map(d => d.label -> nodes.getOrElse(d.label, Nil).toArray)
      val pairs = schema.relationDefs.map(r => r.name -> edges.getOrElse(r.name, Nil).toArray)
      val rows = nodeRows.map(_._2.length.toLong).sum + pairs.map(_._2.length.toLong).sum
      def allIds = idsOf(nodeRows.map(_._2), pairs.map(_._2))
      if (rows > MaxRows || allIds.contains(null)) None
      else {
        val codes = IdCodes(schema.idType, allIds, math.max(1, (2 * rows).toInt))
        Some(new Base(codes,
          nodeRows.map { case (l, rs) => l -> NodeRows(codes, rs) }.toMap,
          pairs.map { case (r, ps) => r -> Adjacency(codes, ps) }.toMap))
      }
    }

    /** Every id of `rows` and `pairs`, in order. */
    def idsOf(rows: Seq[Array[Row]], pairs: Seq[Array[(Any, Any)]]): Iterator[Any] =
      rows.iterator.flatMap(_.iterator.map(_.get(0))) ++
        pairs.iterator.flatMap(_.iterator.flatMap(p => Iterator(p._1, p._2)))
  }

  /** The point mutations to one node id of one label since the base:
    * the base's rows kept (with attribute `sets` applied) or dropped, then
    * the `added` rows in insertion order — the order a scan of the
    * unioned table returns them in.
    */
  final case class NodeEdit(keepBase: Boolean, sets: Map[Int, Any], added: Vector[Row]) {
    def rows(base: Seq[Row]): Seq[Row] =
      (if (keepBase) base.map(patch) else Nil) ++ added
    private def patch(r: Row): Row =
      if (sets.isEmpty) r
      else Row.fromSeq(r.toSeq.zipWithIndex.map { case (v, i) => sets.getOrElse(i, v) })
    def set(pos: Int, v: Any): NodeEdit = copy(
      sets = if (keepBase) sets.updated(pos, v) else sets,
      added = added.map(r => Row.fromSeq(r.toSeq.updated(pos, v))))
    def add(row: Row): NodeEdit = copy(added = added :+ row)
  }

  object NodeEdit {
    val Untouched = NodeEdit(keepBase = true, Map.empty, Vector.empty)
    val Deleted = NodeEdit(keepBase = false, Map.empty, Vector.empty)
  }

  /** One stored relation's changes since the base: tombstones on base
    * edges (one pair, every edge from a src, every edge to a dst) and the
    * edges added since, by src and by dst. A removal also drops the
    * matching added edges, so an add after it survives.
    */
  final case class EdgeDelta(gone: Set[(Any, Any)], goneSrc: Set[Any], goneDst: Set[Any],
      out: Map[Any, Vector[Any]], in: Map[Any, Vector[Any]]) {
    def add(s: Any, d: Any): EdgeDelta =
      copy(out = push(out, s, d), in = push(in, d, s))
    def remove(s: Any, d: Any): EdgeDelta =
      copy(gone = gone + (s -> d), out = drop(out, s, d), in = drop(in, d, s))
    def clearSrc(x: Any): EdgeDelta = copy(goneSrc = goneSrc + x, out = out - x,
      in = out.getOrElse(x, Vector.empty).foldLeft(in)((m, d) => drop(m, d, x)))
    def clearDst(x: Any): EdgeDelta = copy(goneDst = goneDst + x, in = in - x,
      out = in.getOrElse(x, Vector.empty).foldLeft(out)((m, s) => drop(m, s, x)))
    /** Whether base edge (s, d) survives the tombstones. */
    def keeps(s: Any, d: Any): Boolean =
      !goneSrc(s) && !goneDst(d) && (gone.isEmpty || !gone((s, d)))

    private def push(m: Map[Any, Vector[Any]], k: Any, v: Any) =
      m.updated(k, m.getOrElse(k, Vector.empty) :+ v)
    private def drop(m: Map[Any, Vector[Any]], k: Any, v: Any) = m.get(k) match {
      case Some(vs) =>
        val left = vs.filterNot(_ == v)
        if (left.isEmpty) m - k else m.updated(k, left)
      case None => m
    }
  }

  object EdgeDelta {
    val empty = EdgeDelta(Set.empty, Set.empty, Set.empty, Map.empty, Map.empty)
  }

  final case class Delta(nodes: Map[String, Map[Any, NodeEdit]], edges: Map[String, EdgeDelta])

  object Delta {
    val empty = Delta(Map.empty, Map.empty)
  }

  /** base ⊕ delta, read. Every answer is a bag in the scan's sense: one
    * element per matching node row or stored edge.
    */
  final class Contents(schema: GraphSchema, base: Base, delta: Delta) {
    private def baseRows(label: String, id: Any): Seq[Row] = {
      val nr = base.labels(label)
      nr.byId.values(base.codes.code(id)).map(nr.rows).toSeq
    }

    /** The rows of `label` with id `id`, in table order. */
    def nodeRows(label: String, id: Any): Seq[Row] =
      delta.nodes.get(label).flatMap(_.get(id)) match {
        case Some(e) => e.rows(baseRows(label, id))
        case None    => baseRows(label, id)
      }

    /** Every row of `label`. */
    def labelRows(label: String): Iterator[Row] = {
      val edits = delta.nodes.getOrElse(label, Map.empty[Any, NodeEdit])
      base.labels(label).rows.iterator.filter(r => !edits.contains(r.get(0))) ++
        edits.iterator.flatMap { case (id, e) => e.rows(baseRows(label, id)) }
    }

    private def baseAdj(rel: String, codes: Csr, id: Any): Iterator[Any] =
      codes.values(base.codes.code(id)).map(base.codes.ids)

    /** dst of every stored edge (id, dst) of `rel`. */
    private def out(rel: String, id: Any): Iterator[Any] = {
      val e = delta.edges.getOrElse(rel, EdgeDelta.empty)
      baseAdj(rel, base.rels(rel).out, id).filter(e.keeps(id, _)) ++
        e.out.getOrElse(id, Vector.empty)
    }

    /** src of every stored edge (src, id) of `rel`. */
    private def in(rel: String, id: Any): Iterator[Any] = {
      val e = delta.edges.getOrElse(rel, EdgeDelta.empty)
      baseAdj(rel, base.rels(rel).in, id).filter(e.keeps(_, id)) ++
        e.in.getOrElse(id, Vector.empty)
    }

    /** One hop from `id` along a relation direction — `PropertyGraph.edges`'
      * (src, dst) view, read from src: stored, swapped, or both.
      */
    def neighbors(ref: RelationRef, id: Any): Iterator[Any] = {
      val rel = ref.rel.name
      if (ref.rel.symmetric) out(rel, id) ++ in(rel, id)
      else if (ref.reversed) in(rel, id)
      else out(rel, id)
    }

    /** The ids of rows of `label` whose `attr` equals `value` under
      * Spark's `=`, or None when the index cannot compare exactly.
      */
    def lookup(label: String, attr: String, value: Any): Option[Iterator[Any]] = {
      val d = schema.node(label)
      val pos = d.attrs.indexWhere(_.name == attr)
      if (pos < 0 || !exactDefaults(d) || !exact(d.attrs(pos).dataType, value)) None
      else Some(labelRows(label).filter(r => sparkEquals(r.get(pos + 1), value)).map(_.get(0)))
    }

    /** The stored edges of `rel`, base ⊕ delta. */
    private def edgePairs(rel: String): Array[(Any, Any)] = {
      val e = delta.edges.getOrElse(rel, EdgeDelta.empty)
      val ids = base.codes.ids
      val kept = base.rels(rel).out.pairs.map { case (s, d) => (ids(s), ids(d)) }
        .filter { case (s, d) => e.keeps(s, d) }
      val added = e.out.iterator.flatMap { case (s, ds) => ds.iterator.map(s -> _) }
      (kept ++ added).toArray
    }

    /** The base this snapshot's pinned tables would collect to: none when
      * it would pass [[MaxRows]] or hold a null id. Only the labels and
      * relations the delta touches are rebuilt, over the dictionary
      * extended by their new ids; when that dictionary holds more than
      * twice the ids still in use (deletes leave codes behind), the whole
      * base is rebuilt instead.
      */
    def fold(): Option[Base] = {
      val labels = schema.nodeDefs.map(_.label).filter(delta.nodes.contains)
        .map(l => l -> labelRows(l).toArray)
      val rels = schema.relationDefs.map(_.name).filter(delta.edges.contains)
        .map(r => r -> edgePairs(r))
      def fresh = Base.idsOf(labels.map(_._2), rels.map(_._2))
      if (fresh.contains(null)) None
      else {
        val codes = base.codes.extend(schema.idType, fresh)
        val next = new Base(codes,
          base.labels ++ labels.map { case (l, rs) => l -> NodeRows(codes, rs) },
          base.rels ++ rels.map { case (r, ps) => r -> Adjacency(codes, ps) })
        if (next.rows > MaxRows) None
        else if (codes.size <= 2L * next.liveIds) Some(next)
        else Base.build(schema,
          schema.nodeDefs.map(d => d.label -> labelRows(d.label).toVector).toMap,
          schema.relationDefs.map(r => r.name -> edgePairs(r.name).toSeq).toMap)
      }
    }
  }

  /** Spark's `=` on two non-null values of one exact type: NaN equals
    * NaN and -0.0 equals 0.0.
    */
  private def sparkEquals(a: Any, b: Any): Boolean = (a, b) match {
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
    case (x: Float, y: Float)   => x == y || (x.isNaN && y.isNaN)
    case _ => a == b
  }
}
