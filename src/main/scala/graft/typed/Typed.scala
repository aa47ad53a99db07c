package graft.typed

import scala.jdk.CollectionConverters._
import scala.language.experimental.macros

import org.apache.spark.sql.{Column, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.graph.{PropertyGraph, Traversal}
import graft.schema.{Cardinality, GraphSchema}
import graft.schema.GraphSchema.IdCol

/** Compile-time-checked facade over [[PropertyGraph]] — the Scala image of
  * the reference's type-level schema, which is edgy's defining feature:
  * node types, attributes, and relation endpoints are checked by the
  * compiler, not at query time (reference: src/Edgy/Schema.hs:70-76; typed
  * constructor `newNode @MySchema @"Person" "Bob" 20`, app/Main.hs:83).
  *
  * The mapping:
  *   - a node type is a case class + a [[NodeType]] descriptor binding it
  *     to a label; attribute access is case-class field access, so a
  *     misspelled or missing attribute is a COMPILE error;
  *   - a relation is a [[Rel]]`[S, D, C]` descriptor typed by its source
  *     and destination node types and its declared cardinality, so
  *     traversing a relation from the wrong node type is a COMPILE error;
  *   - point reads surface cardinality as `Option[T]` / `T` / `Seq[T]`
  *     exactly like the reference's `Maybe` / exactly-one / list shapes
  *     (reference: src/Edgy/Cardinality.hs:18-22) — the shape is computed
  *     from the descriptor's cardinality TYPE via [[CardShape]], so
  *     binding a `spouse` read to a `Seq` is a COMPILE error.
  *
  * What stays runtime-checked (engine-startup style, like the untyped
  * core): that each descriptor agrees with the graph's runtime schema —
  * label exists, case-class fields match attribute names/types, relation
  * endpoints and declared cardinality match. The compiler can't see the
  * runtime schema; it enforces CONSISTENCY between all uses of the
  * declared descriptors, which is what the reference's type machinery
  * buys its users.
  *
  * Scale note: the typed frontier delegates to the untyped [[Traversal]],
  * so hops stay ids-only equi-joins with lazy attribute attachment —
  * identical plans, same 100 TB posture. Typed LAMBDA filters/maps
  * (`where(_.age > 30)`) deserialize rows and leave whole-stage codegen;
  * use them for compile-time safety at the API boundary, and the
  * `Column`-based `filter` overload when pushdown matters.
  */
sealed trait Card
object Card {
  sealed trait One  extends Card
  sealed trait Opt  extends Card
  sealed trait Many extends Card
  sealed trait Some extends Card
}

/** Binds case class `T` to a node label. Build via [[NodeType.of]]. */
final case class NodeType[T](label: String)(implicit val enc: Encoder[T])

object NodeType {
  /** The usual constructor: derives the Spark product encoder, so the
    * case-class fields ARE the declared attribute schema.
    */
  def of[T <: Product : scala.reflect.runtime.universe.TypeTag](label: String)
      : NodeType[T] =
    NodeType(label)(Encoders.product[T])
}

/** A relation direction typed by source node type `S`, destination node
  * type `D`, and declared cardinality `C` (reference: the type-level
  * relation declarations, src/Edgy/Schema.hs:73-76). `name` must resolve
  * in the runtime schema; endpoint/cardinality agreement is validated on
  * first use.
  */
final case class Rel[S, D, C <: Card](name: String)

/** Type-level cardinality → read shape: `One ↦ T`, `Opt ↦ Option[T]`,
  * `Many/Some ↦ Seq[T]` (reference: src/Edgy/Cardinality.hs:18-22). The
  * `expected` runtime mirror lets the facade verify the descriptor
  * doesn't overclaim what the schema declares.
  */
sealed abstract class CardShape[C <: Card] {
  type Out[D]
  def pack[D](rows: Seq[D], ctx: => String): Out[D]
  def expected: Cardinality
}

object CardShape {
  implicit val one: CardShape[Card.One] { type Out[D] = D } =
    new CardShape[Card.One] {
      type Out[D] = D
      def pack[D](rows: Seq[D], ctx: => String): D = rows match {
        case scala.collection.Seq(x) => x
        case s => throw new IllegalStateException(
          s"bad cardinality: $ctx expected exactly one, got ${s.size}")
      }
      def expected: Cardinality = Cardinality.One
    }

  implicit val opt: CardShape[Card.Opt] { type Out[D] = Option[D] } =
    new CardShape[Card.Opt] {
      type Out[D] = Option[D]
      def pack[D](rows: Seq[D], ctx: => String): Option[D] = {
        if (rows.size > 1) throw new IllegalStateException(
          s"bad cardinality: $ctx expected at most one, got ${rows.size}")
        rows.headOption
      }
      def expected: Cardinality = Cardinality.Optional
    }

  implicit val many: CardShape[Card.Many] { type Out[D] = Seq[D] } =
    new CardShape[Card.Many] {
      type Out[D] = Seq[D]
      def pack[D](rows: Seq[D], ctx: => String): Seq[D] = rows
      def expected: Cardinality = Cardinality.Many
    }

  implicit val some: CardShape[Card.Some] { type Out[D] = Seq[D] } =
    new CardShape[Card.Some] {
      type Out[D] = Seq[D]
      def pack[D](rows: Seq[D], ctx: => String): Seq[D] = {
        if (rows.isEmpty) throw new IllegalStateException(
          s"bad cardinality: $ctx expected at least one, got none")
        rows
      }
      def expected: Cardinality = Cardinality.Some
    }
}

/** Entry point: `TypedGraph(g).nodes[Person]` etc. */
final class TypedGraph(val g: PropertyGraph) {

  /** Typed type-extent — the `getUniverse`-style starting point. Validates
    * the descriptor against the runtime schema on entry.
    */
  def nodes[T](implicit nt: NodeType[T]): TypedNodes[T] = {
    TypedGraph.validateNodeType(g, nt)
    TypedNodes(g, nt, g.from(nt.label))
  }

  /** Typed node insertion — the image of the reference's typed
    * constructor `newNode @MySchema @"Person" "Bob" 20` (app/Main.hs:83):
    * the case class IS the row, so a missing or ill-typed attribute is a
    * compile error (the untyped `addNode(label, Map(...))` can only catch
    * it at runtime). Copy-on-write like every mutation: returns a new
    * TypedGraph over the new snapshot.
    */
  def add[T](node: T)(implicit nt: NodeType[T]): TypedGraph =
    addAll(Seq(node))

  /** Bulk typed insertion — one union for the whole batch (the
    * addNodes/addRelatedBulk scale path, not a per-row fold).
    */
  def addAll[T](nodes: Seq[T])(implicit nt: NodeType[T]): TypedGraph = {
    TypedGraph.validateNodeType(g, nt)
    val spark = g.nodeTables.head._2.sparkSession
    val df = spark.createDataset(nodes)(nt.enc).toDF()
    // a case class may legally omit OPTIONAL attributes (reads fall back
    // to the schema default) — fill them as typed nulls for the insert
    val have = df.columns.toSet
    val full = g.schema.node(nt.label).attrs
      .filterNot(a => have(a.name))
      .foldLeft(df)((acc, a) =>
        acc.withColumn(a.name, lit(null).cast(a.dataType)))
    new TypedGraph(g.addNodes(nt.label, full))
  }

  /** Typed edge insertion (reference: addRelated,
    * src/Edgy/Operations.hs:321-334) — the descriptor pins which node
    * types the two ids must name, so relating a Person to a Person via
    * `tool` is a compile error; bag semantics as everywhere.
    */
  def relate[S, D](srcId: String, rel: Rel[S, D, _ <: Card], dstId: String)(
      implicit snt: NodeType[S], dnt: NodeType[D]): TypedGraph = {
    TypedGraph.validateRel(g, rel, snt, dnt, None)
    new TypedGraph(g.addRelated(rel.name, srcId, dstId))
  }

  /** Typed edge removal — all occurrences (reference: removeRelated,
    * src/Edgy/Operations.hs:336-349).
    */
  def unrelate[S, D](srcId: String, rel: Rel[S, D, _ <: Card], dstId: String)(
      implicit snt: NodeType[S], dnt: NodeType[D]): TypedGraph = {
    TypedGraph.validateRel(g, rel, snt, dnt, None)
    new TypedGraph(g.removeRelated(rel.name, srcId, dstId))
  }

  /** Typed point read of one node; throws like the untyped getAttribute
    * path if the id is absent. Reads through `PropertyGraph.nodeRows`, so
    * an indexed snapshot answers with no Spark job.
    */
  def node[T](id: String)(implicit nt: NodeType[T]): T = {
    TypedGraph.validateNodeType(g, nt)
    val rows = TypedGraph.decode(g, g.nodeRows(nt.label, id), nt)
    rows.headOption.getOrElse(
      throw new NoSuchElementException(s"no ${nt.label} node $id"))
  }

  /** Typed point-read traversal: the related nodes of ONE source node,
    * shaped by the relation's declared cardinality — `Option[D]`, `D`, or
    * `Seq[D]` (reference read shapes, src/Edgy/Cardinality.hs:18-22;
    * read-time "bad cardinality" errors, src/Edgy/Operations.hs:285-287).
    * Collects to the driver: guaranteed tiny for One/Opt (≤ 1 row);
    * bounded only by the source node's DEGREE for Many/Some — exactly
    * like the reference's list-returning getRelated — so on a graph
    * where a hub node can have millions of neighbors, use
    * [[TypedNodes.related]] (the distributed bag traversal) instead of a
    * point read on the hub.
    */
  def related[S, D, C <: Card](srcId: String, rel: Rel[S, D, C])(
      implicit snt: NodeType[S], dnt: NodeType[D], cs: CardShape[C])
      : cs.Out[D] = {
    TypedGraph.validateRel(g, rel, snt, dnt, Some(cs.expected))
    val rows = TypedGraph.decode(g, g.relatedRows(rel.name, srcId), dnt)
    cs.pack(rows.toSeq, s"${snt.label} $srcId -[${rel.name}]->")
  }
}

object TypedGraph {
  def apply(g: PropertyGraph): TypedGraph = new TypedGraph(g)

  /** Node rows of `nt`'s label, as `g.nodes` shows them, bound to `T` by
    * field name. A local relation: collecting it runs no Spark job.
    */
  private def decode[T](g: PropertyGraph, rows: Seq[Row], nt: NodeType[T]): Array[T] =
    g.nodeTables.head._2.sparkSession
      .createDataFrame(rows.asJava, g.nodes(nt.label).schema)
      .as[T](nt.enc).collect()

  /** Engine-startup-style check: the case class must cover `id` plus every
    * REQUIRED attribute, and every field must name a schema column of the
    * same Spark type (nullability is the schema's concern — optional
    * attrs read through defaults, so non-Option fields are fine).
    */
  private[typed] def validateNodeType[T](g: PropertyGraph, nt: NodeType[T]): Unit = {
    val d = g.schema.node(nt.label)
    val declared = d.structType(g.schema.idType).fields.map(f => f.name -> f.dataType).toMap
    val fields = nt.enc.schema.fields
    for (f <- fields) declared.get(f.name) match {
      case None => throw new IllegalArgumentException(
        s"typed ${nt.label}: field '${f.name}' is not a declared attribute")
      case Some(dt) if dt != f.dataType => throw new IllegalArgumentException(
        s"typed ${nt.label}.${f.name}: case class has ${f.dataType}, schema has $dt")
      case _ =>
    }
    val fieldNames = fields.map(_.name).toSet
    require(fieldNames.contains(IdCol),
      s"typed ${nt.label}: case class must carry the '$IdCol' column")
    for (a <- d.attrs if a.required && !fieldNames.contains(a.name))
      throw new IllegalArgumentException(
        s"typed ${nt.label}: required attribute '${a.name}' missing from case class")
  }

  private[typed] def validateRel[S, D](
      g: PropertyGraph, rel: Rel[S, D, _ <: Card],
      snt: NodeType[S], dnt: NodeType[D],
      declaredCard: Option[Cardinality]): Unit = {
    val ref = g.schema.relation(rel.name)
    require(ref.srcLabel == snt.label,
      s"relation ${rel.name} starts at ${ref.srcLabel}, descriptor claims ${snt.label}")
    require(ref.dstLabel == dnt.label,
      s"relation ${rel.name} ends at ${ref.dstLabel}, descriptor claims ${dnt.label}")
    declaredCard.foreach { c =>
      require(ref.cardinality == c,
        s"relation ${rel.name} is ${ref.cardinality.name} in the schema, " +
          s"descriptor claims ${c.name}")
    }
  }
}

/** A typed bag of nodes — [[Traversal]] with the element type carried in
  * the type system. Same plans underneath: hops are ids-only equi-joins,
  * attributes attach lazily, duplicates preserved (bag semantics,
  * reference app/Main.hs:152-157).
  */
final case class TypedNodes[T](g: PropertyGraph, nt: NodeType[T],
    private val tr: Traversal) {

  /** The bag as a typed Dataset (binds columns by field name). */
  def ds: Dataset[T] = tr.df.as[T](nt.enc)

  /** Ids-only view of the bag (string form at the API edge; long-keyed
    * graphs cast — the arithmetic decode, if any, is the caller's).
    */
  def ids: Dataset[String] =
    tr.ids.select(col(IdCol).cast("string")).as[String](Encoders.STRING)

  /** Typed predicate filter — compile-checked field access, at the cost of
    * row deserialization (documented in the facade header). Use
    * [[whereField]] (typed AND pushdown-capable) or [[filter]] when the
    * predicate should push down.
    */
  def where(p: T => Boolean): TypedNodes[T] =
    copy(tr = Traversal(g, nt.label, ds.filter(p).toDF()))

  /** Typed field filter that STAYS a Catalyst `Column`:
    * `whereField(_.age)(_ > 30)` — the selector's field name is extracted
    * at COMPILE time (a non-accessor lambda is a compile error), the
    * predicate's operand types are pinned to the field's type (comparing
    * `age` to a String is a compile error), and the resulting plan is the
    * same pushdown-capable filter [[filter]] would build by hand.
    */
  def whereField[F](selector: T => F): FieldPredicateBuilder[T, F] =
    macro TypedMacros.whereFieldImpl[T, F]

  /** Typed grouped aggregation that STAYS Catalyst-native:
    * `groupByField(_.status).agg(avgOf(_.totalprice), countAll)` — the
    * key selector's field name is extracted at COMPILE time, the
    * aggregates are [[TypedAggs]] field macros typed by THIS bag's
    * element type (aggregating another type's field, or averaging a
    * String, is a compile error), and the physical plan is the same
    * partial + final HashAggregate pair the untyped `groupBy().agg()`
    * gets — no `KeyValueGroupedDataset` object boundary, no
    * SerializeFromObject.
    */
  def groupByField[K](selector: T => K): GroupedFieldBuilder[T, K] =
    macro TypedMacros.groupByFieldImpl[T, K]

  /** Column-expression filter — stays in codegen and pushes down. */
  def filter(cond: Column): TypedNodes[T] =
    copy(tr = tr.filter(cond))

  /** Typed 1-hop traversal. The relation descriptor's source type must be
    * THIS bag's type — traversing from the wrong node type is a compile
    * error; the destination NodeType rides in implicitly.
    */
  def related[D, C <: Card](rel: Rel[T, D, C])(implicit dnt: NodeType[D])
      : TypedNodes[D] = {
    TypedGraph.validateRel(g, rel, nt, dnt, None)
    TypedNodes(g, dnt, tr.related(rel.name))
  }

  /** Multiset union (reference `++`, app/Main.hs:154). */
  def unionAll(other: TypedNodes[T]): TypedNodes[T] =
    copy(tr = tr.unionAll(other.tr))

  /** Multiset difference — removes ONE occurrence per match (reference
    * `Data.List.\\`, app/Main.hs:157).
    */
  def exceptAll(other: TypedNodes[T]): TypedNodes[T] =
    copy(tr = tr.exceptAll(other.tr))
}
