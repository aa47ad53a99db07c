package graft.graph

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, In}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftExtensions, Pinned, Regime}
import graft.Pinned.PinSyntax
import graft.schema._
import graft.schema.GraphSchema.{DstCol, IdCol, SrcCol}

/** Immutable schema'd property graph over DataFrames — the Spark image of
  * the reference's STM database (reference: src/Edgy/Operations.hs:73-79).
  * Every mutation returns a NEW PropertyGraph (copy-on-write snapshot),
  * which is what an STM transaction boundary becomes on an immutable
  * dataflow engine: a batch of mutations composes into one new version,
  * all-or-nothing.
  *
  * Physical design decisions vs the reference:
  *   - ONE edge table per relation, `(src, dst)`, bag semantics (duplicate
  *     edges are legal — the reference prepends unconditionally,
  *     src/Edgy/Operations.hs:333-334). The inverse direction is a
  *     projection, never stored (the reference stores both directions and
  *     keeps them in sync, src/Edgy/Operations.hs:314-319).
  *   - The type extent ("all Persons") IS the node table — no Universe row
  *     (reference models it as an implicit relation from a singleton root,
  *     src/Edgy/Schema.hs:56-60).
  *   - At scale, node and edge tables are plain partitioned Parquet;
  *     traversals are equi-joins that Catalyst plans (broadcast for small
  *     extents, sort-merge/shuffled-hash for large, AQE for skew).
  *   - Indexed snapshot: `checkpointed()` and `empty` give a snapshot a
  *     driver-side [[SnapshotIndex]] of its contents — per relation a CSR
  *     adjacency in both orientations, per label the node rows keyed by id
  *     (the reference's per-node adjacency, src/Edgy/Operations.hs:220-301).
  *     Point mutations carry it forward as base ⊕ delta, and the next
  *     `checkpointed()` folds the delta on the driver. While the snapshot
  *     fits `SnapshotIndex.MaxRows`, `isRelated`, `getAttribute`,
  *     `lookupBy` and a traversal that starts from literal ids run no
  *     Spark job, at O(degree) cost. Bulk mutations, `copy`, `load` and
  *     values the index cannot hold exactly drop it: that snapshot reads
  *     by scan until its next `checkpointed()`. The Spark tables are the
  *     same either way.
  *   - Job-free answers over a known bag: such a traversal's hops, their
  *     `unionAll` and `exceptAll`, and the `ids`, `df` and `attr` of these
  *     are local relations built on the driver, and [[graft.LocalPlans]]
  *     folds a small count, distinct or `groupBy` over them on the
  *     driver too. So edgy's `getRelated`-then-list-algebra queries
  *     (`length`, `nub`, `++`, `\\`; `DemoGraph.missingTools`) run no
  *     Spark job on an indexed snapshot.
  */
final case class PropertyGraph(
    schema: GraphSchema,
    nodeTables: Map[String, DataFrame],
    edgeTables: Map[String, DataFrame]) {

  /** This snapshot's index, set once as it is made by a point mutation,
    * `checkpointed()` or `empty`. A graph made any other way has none.
    */
  @volatile private var index: Option[SnapshotIndex] = None

  private def indexed(ix: Option[SnapshotIndex]): PropertyGraph = { index = ix; this }

  /** base ⊕ delta, when this snapshot has an index in the small regime. */
  private def contents: Option[SnapshotIndex.Contents] = index.flatMap(_.contents)

  /** A successor snapshot over new tables, carrying the index through
    * `step` (None drops it).
    */
  private def next(nodeTables: Map[String, DataFrame] = nodeTables,
      edgeTables: Map[String, DataFrame] = edgeTables)(
      step: SnapshotIndex => Option[SnapshotIndex]): PropertyGraph =
    PropertyGraph(schema, nodeTables, edgeTables).indexed(index.flatMap(step))

  // ---------------------------------------------------------------- reads

  /** Type-extent scan with optional-attribute defaults applied
    * (reference: getUniverse+getRelated extent read,
    * src/Edgy/Operations.hs:157-163 + 273-287; defaults
    * src/Edgy/Operations.hs:235-237).
    */
  def nodes(label: String): DataFrame = {
    val d = schema.node(label)
    val raw = nodeTables(label)
    val cols = col(IdCol) +: d.attrs.map { a =>
      if (a.required) col(a.name)
      else coalesce(col(a.name), lit(a.defaultValue)).as(a.name)
    }
    raw.select(cols: _*)
  }

  /** Directional edge view `(src, dst)` for either direction name.
    * Forward = stored orientation; inverse = column swap; symmetric = union
    * of both orientations (reference: DefSymmetric folds to fwd/fwd,
    * src/Edgy/Schema.hs:292-307).
    */
  def edges(relName: String): DataFrame = {
    val ref = schema.relation(relName)
    val stored = edgeTables(ref.rel.name)
    if (ref.rel.symmetric)
      stored.select(col(SrcCol), col(DstCol))
        .unionAll(stored.select(col(DstCol).as(SrcCol), col(SrcCol).as(DstCol)))
    else if (ref.reversed)
      stored.select(col(DstCol).as(SrcCol), col(SrcCol).as(DstCol))
    else
      stored.select(col(SrcCol), col(DstCol))
  }

  /** Begin a traversal at a type extent (reference: the
    * `getRelated @"Person" universe` idiom, app/Main.hs:133-135).
    */
  def from(label: String): Traversal =
    Traversal(this, label, nodes(label)).knowing(Traversal.WholeExtent)

  /** String id from the API surface coerced to the schema's id type, so
    * point reads/mutations keep their string signatures (the reference's
    * UUID-string identities) while long-keyed graphs compare longs — an
    * uncoerced string literal against a LONG id column would drag the
    * comparison through a cast on the column side and defeat pushdown.
    */
  private def cid(v: String): Any = PropertyGraph.coerceId(schema.idType, v)

  /** Edge-existence predicate (reference: isRelated,
    * src/Edgy/Operations.hs:289-301). For many probes at once use
    * [[areRelated]], the distributed form. An indexed snapshot answers
    * from its adjacency at O(degree) with no Spark job; one without an
    * index (see the header) runs a filtered scan of the edge view.
    */
  def isRelated(relName: String, srcId: String, dstId: String): Boolean = {
    val ref = schema.relation(relName)
    val (s, d) = (cid(srcId), cid(dstId))
    contents match {
      case Some(c) => c.neighbors(ref, s).contains(d)
      case None => !edges(relName).where(col(SrcCol) === s && col(DstCol) === d).isEmpty
    }
  }

  /** Bulk edge-existence: the subset of `pairs` (src, dst) that are related
    * — one left-semi join instead of a driver loop of point probes.
    */
  def areRelated(relName: String, pairs: DataFrame): DataFrame =
    pairs.join(edges(relName), Seq(SrcCol, DstCol), "left_semi")

  /** Point attribute read with optional default
    * (reference: getAttribute, src/Edgy/Operations.hs:220-244). Reads
    * through [[nodeRows]]: no Spark job on an indexed snapshot.
    */
  def getAttribute(label: String, id: String, attr: String): Any = {
    val d = schema.node(label)
    val a = d.attr(attr).getOrElse(
      throw new IllegalArgumentException(s"unknown attribute $label.$attr"))
    val pos = 1 + d.attrs.indexOf(a)
    nodeRows(label, id).headOption match {
      case Some(r) if !r.isNullAt(pos) => r.get(pos)
      case Some(_) if !a.required    => a.defaultValue
      case Some(_) =>
        throw new IllegalStateException(s"missing required attribute $label.$attr for $id")
      case None =>
        throw new NoSuchElementException(s"no $label node $id")
    }
  }

  /** The rows of `label` with id `id`, as [[nodes]] shows them, in table
    * order — the one point read of a node, shared by [[getAttribute]] and
    * `graft.typed`. Read from the index when the snapshot has one, else
    * by a filtered scan of the extent.
    */
  private[graft] def nodeRows(label: String, id: String): Seq[Row] = {
    val key = cid(id)
    schema.node(label) // an unknown label raises here, as the scan's would
    contents match {
      case Some(c) => c.nodeRows(label, key)
      case None => nodes(label).where(col(IdCol) === key).collect().toSeq
    }
  }

  /** The target rows of every `relName` edge from `srcId` (one per edge
    * and matching node row, as [[nodes]] shows them) — the typed point
    * traversal's read, from the index when the snapshot has one.
    */
  private[graft] def relatedRows(relName: String, srcId: String): Seq[Row] = {
    val ref = schema.relation(relName)
    val key = cid(srcId)
    contents match {
      case Some(c) => c.neighbors(ref, key).flatMap(c.nodeRows(ref.dstLabel, _)).toVector
      case None => edges(relName).where(col(SrcCol) === key)
        .join(nodes(ref.dstLabel), col(DstCol) === col(IdCol))
        .drop(SrcCol, DstCol).collect().toSeq
    }
  }

  /** Exact-name lookup asserting exactly one hit — mirror of the demo's
    * `lookupByName` including its error behavior (reference:
    * app/Main.hs:118-140: errors on 0 and on >1 matches). An indexed
    * snapshot scans its driver-side rows of the label, with no Spark job,
    * when `value` has the attribute's exact type; otherwise, and without
    * an index, the extent is scanned by Spark.
    */
  def lookupBy(label: String, attr: String, value: Any): String = {
    val hits = contents.flatMap(_.lookup(label, attr, value)) match {
      case Some(ids) => ids.take(3).map(_.toString).toArray
      case None => nodes(label).where(col(attr) === lit(value)).select(col(IdCol))
        .limit(3).collect().map(_.get(0).toString)
    }
    hits.length match {
      case 1 => hits.head
      case 0 => throw new NoSuchElementException(s"No $label named $value")
      case _ => throw new IllegalStateException(s"Multiple ${label}s named $value")
    }
  }

  // ----------------------------------------------------------- mutations
  // All copy-on-write: each returns a new snapshot whose tables add one
  // union or filter to the plan (checkpointed() cuts the chain). Point
  // mutations also carry the index forward as base ⊕ delta at O(1) driver
  // cost, so reads on the result stay job-free; bulk mutations drop it
  // (SURVEY.md §7 risk 1).

  private def spark: SparkSession = nodeTables.head._2.sparkSession

  private def oneRow(schemaT: StructType, values: Seq[Any]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(Row.fromSeq(values)), schemaT)

  /** Insert a node (reference: newNode, src/Edgy/Operations.hs:165-195).
    * Required attributes must be present and non-null (the reference's
    * positional constructor makes omission unrepresentable; we check).
    */
  def addNode(label: String, id: String, attrs: Map[String, Any]): PropertyGraph = {
    val d = schema.node(label)
    val unknown = attrs.keySet -- d.attrs.map(_.name).toSet
    require(unknown.isEmpty, s"unknown attributes for $label: ${unknown.mkString(",")}")
    val values = cid(id) +: d.attrs.map { a =>
      attrs.get(a.name) match {
        case Some(v) => v
        case None if a.required =>
          throw new IllegalArgumentException(s"missing required attribute $label.${a.name}")
        case None => null
      }
    }
    val row = oneRow(d.structType(schema.idType), values)
    next(nodeTables = nodeTables.updated(label, nodeTables(label).unionByName(row))) { ix =>
      val shown = values.head +: d.attrs.zip(values.tail).map { case (a, v) =>
        if (v == null && !a.required) a.defaultValue else v }
      if (SnapshotIndex.exactDefaults(d) &&
          d.attrs.zip(values.tail).forall { case (a, v) => SnapshotIndex.exact(a.dataType, v) })
        Some(ix.addNode(label, values.head, Row.fromSeq(shown)))
      else None
    }
  }

  /** Delete a node and cascade: remove every edge touching it, across every
    * relation whose schema touches the label (reference: deleteNode,
    * src/Edgy/Operations.hs:197-218 — schema-driven inverse cleanup).
    */
  def deleteNode(label: String, id: String): PropertyGraph = {
    val newNodes = nodeTables.updated(label, nodeTables(label).where(col(IdCol) =!= cid(id)))
    val newEdges = schema.relationsTouching(label).foldLeft(edgeTables) { (acc, r) =>
      val pred =
        (if (r.from == label) col(SrcCol) === cid(id) else lit(false)) ||
        (if (r.to == label) col(DstCol) === cid(id) else lit(false))
      acc.updated(r.name, acc(r.name).where(!pred))
    }
    next(newNodes, newEdges)(ix => Some(ix.deleteNode(label, cid(id))))
  }

  /** Overwrite one attribute of one node (reference: setAttribute,
    * src/Edgy/Operations.hs:246-271). Copy-on-write column update.
    */
  def setAttribute(label: String, id: String, attr: String, value: Any): PropertyGraph = {
    val d = schema.node(label)
    val a = d.attr(attr).getOrElse(
      throw new IllegalArgumentException(s"unknown attribute $label.$attr"))
    // the same non-null invariant addNode/addNodes enforce at insert time
    require(!a.required || value != null,
      s"required attribute $label.$attr cannot be set to null")
    val updated = nodeTables(label).withColumn(
      attr, when(col(IdCol) === cid(id), lit(value)).otherwise(col(attr)))
    next(nodeTables = nodeTables.updated(label, updated)) { ix =>
      if (SnapshotIndex.exactDefaults(d) && SnapshotIndex.exact(a.dataType, value))
        Some(ix.setAttribute(label, cid(id), 1 + d.attrs.indexOf(a),
          if (value == null) a.defaultValue else value))
      else None
    }
  }

  private def storedOrientation(ref: RelationRef, a: String, b: String): (String, String) =
    if (ref.reversed) (b, a) else (a, b)

  private def edgeRow(src: String, dst: String): DataFrame =
    oneRow(PropertyGraph.edgeStructOf(schema.idType), Seq(cid(src), cid(dst)))

  /** Insert one edge — bag semantics, duplicates legal (reference:
    * addRelated prepends unconditionally, src/Edgy/Operations.hs:321-334).
    * Single stored row covers both directions structurally.
    */
  def addRelated(relName: String, srcId: String, dstId: String): PropertyGraph = {
    val ref = schema.relation(relName)
    val (s, d) = storedOrientation(ref, srcId, dstId)
    next(edgeTables = edgeTables.updated(
      ref.rel.name, edgeTables(ref.rel.name).unionByName(edgeRow(s, d)))) { ix =>
      Some(ix.addEdge(ref.rel.name, cid(s), cid(d)))
    }
  }

  /** Bulk node insert — the distributed mutation path (one union for the
    * whole DataFrame instead of one per node, so heavy ingest doesn't build
    * O(n)-deep plans). `df` columns: id + the label's attributes. Required
    * attributes are null-checked inside the plan (raise_error), so the check
    * runs distributed at materialization time, not on the driver.
    */
  def addNodes(label: String, df: DataFrame): PropertyGraph = {
    val d = schema.node(label)
    val cols = col(IdCol) +: d.attrs.map { a =>
      if (a.required)
        coalesce(col(a.name), raise_error(concat(
          lit(s"missing required attribute $label.${a.name} for node "), col(IdCol))))
          .as(a.name)
      else col(a.name)
    }
    copy(nodeTables = nodeTables.updated(
      label, nodeTables(label).unionByName(df.select(cols: _*))))
  }

  /** Bulk insert with engine-generated UUID identities — the production id
    * path (reference: fresh v4 UUIDs with collision retry,
    * src/Edgy/Operations.hs:91-103). `uuid()` is evaluated per row on the
    * executors (non-deterministic expression, pinned by localCheckpoint so
    * the ids don't re-roll on recompute); tests use caller-assigned ids for
    * hash-stability, production loads use this.
    */
  def addNodesWithGeneratedIds(label: String, df: DataFrame): PropertyGraph =
    addNodes(label, df.withColumn(IdCol, expr("uuid()")).pin(true))

  /** Bulk edge insert — bag semantics, one union for the whole DataFrame
    * (the scale path for streaming / batch ingest; `addRelated` is the
    * point-mutation convenience). `pairs` columns: (src, dst) in the
    * direction named by `relName`; storage orientation is handled here.
    */
  def addRelatedBulk(relName: String, pairs: DataFrame): PropertyGraph =
    copy(edgeTables = withEdges(relName, pairs))

  /** The edge tables with `pairs` (in `relName`'s direction) unioned
    * onto the relation's stored table.
    */
  private def withEdges(relName: String, pairs: DataFrame): Map[String, DataFrame] = {
    val ref = schema.relation(relName)
    val oriented =
      if (ref.reversed) pairs.select(col(DstCol).as(SrcCol), col(SrcCol).as(DstCol))
      else pairs.select(col(SrcCol), col(DstCol))
    edgeTables.updated(ref.rel.name, edgeTables(ref.rel.name).unionByName(oriented))
  }

  /** Cut lineage: materialize every table via localCheckpoint. After many
    * copy-on-write mutations the plan is a deep union/filter chain; a
    * periodic checkpoint bounds plan depth (and analysis time) without
    * changing semantics. Eager by default.
    *
    * The result is an indexed snapshot. When this snapshot's index base
    * was built, base ⊕ delta is folded into the new base on the driver,
    * with no Spark job; otherwise the new base is collected from the new
    * pins on its first point read.
    */
  def checkpointed(eager: Boolean = true): PropertyGraph = {
    val g = PropertyGraph(schema,
      nodeTables.map { case (k, v) => k -> v.pin(eager) },
      edgeTables.map { case (k, v) => k -> v.pin(eager) })
    g.indexed(Some(index.flatMap(_.folded).getOrElse(SnapshotIndex.over(g))))
  }

  /** Release every checkpoint block this snapshot's tables pin (no-op on
    * non-checkpointed tables). Call ONLY after every consumer of the
    * snapshot has materialized: localCheckpoint truncated the lineage,
    * so a freed table cannot be recomputed. This is the end-of-life for
    * graphs produced by [[graft.streaming.Streams.graphIngest]] — without
    * it each ingest pins a graph-sized block set for the JVM lifetime.
    */
  def release(): Unit =
    (nodeTables.values ++ edgeTables.values).foreach(Pinned.free)

  /** Remove ALL occurrences of one edge in either stored orientation for
    * symmetric relations (reference: removeRelated filters every occurrence,
    * src/Edgy/Operations.hs:336-349).
    */
  def removeRelated(relName: String, srcId: String, dstId: String): PropertyGraph = {
    val ref = schema.relation(relName)
    val (s, d) = storedOrientation(ref, srcId, dstId)
    val hit =
      if (ref.rel.symmetric)
        (col(SrcCol) === cid(s) && col(DstCol) === cid(d)) ||
          (col(SrcCol) === cid(d) && col(DstCol) === cid(s))
      else col(SrcCol) === cid(s) && col(DstCol) === cid(d)
    next(edgeTables = edgeTables.updated(
      ref.rel.name, edgeTables(ref.rel.name).where(!hit))) { ix =>
      val one = ix.removeEdge(ref.rel.name, cid(s), cid(d))
      Some(if (ref.rel.symmetric) one.removeEdge(ref.rel.name, cid(d), cid(s)) else one)
    }
  }

  /** Replace the full target set of (node, relation) (reference: setRelated
    * computes old∖new / new∖old to patch inverses,
    * src/Edgy/Operations.hs:303-319 — we just overwrite the slice; the
    * inverse is a view so no reconciliation exists to get wrong).
    */
  def setRelated(relName: String, srcId: String, dstIds: Seq[String]): PropertyGraph = {
    val ref = schema.relation(relName)
    ref.cardinality.maxPer.foreach { m =>
      require(dstIds.size <= m,
        s"bad cardinality: $relName is ${ref.cardinality.name}, got ${dstIds.size} targets")
    }
    require(dstIds.size >= ref.cardinality.minPer,
      s"bad cardinality: $relName is ${ref.cardinality.name}, got ${dstIds.size} targets")
    val cleared = clearRelated(relName, srcId)
    if (dstIds.isEmpty) cleared
    else {
      // one bulk union, not a per-target fold — a large target set would
      // otherwise build an O(n)-deep plan (the problem addRelatedBulk
      // exists to avoid)
      val rows = dstIds.map(d => Row(cid(srcId), cid(d)))
      val pairs = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), PropertyGraph.edgeStructOf(schema.idType))
      cleared.next(edgeTables = cleared.withEdges(relName, pairs)) { ix =>
        Some(dstIds.foldLeft(ix) { (acc, d) =>
          val (s, t) = storedOrientation(ref, srcId, d)
          acc.addEdge(ref.rel.name, cid(s), cid(t))
        })
      }
    }
  }

  /** Drop every edge of one relation from a node (reference: clearRelated,
    * src/Edgy/Operations.hs:351-365).
    */
  def clearRelated(relName: String, srcId: String): PropertyGraph = {
    val ref = schema.relation(relName)
    val hit =
      if (ref.rel.symmetric) col(SrcCol) === cid(srcId) || col(DstCol) === cid(srcId)
      else if (ref.reversed) col(DstCol) === cid(srcId)
      else col(SrcCol) === cid(srcId)
    val x = cid(srcId)
    next(edgeTables = edgeTables.updated(
      ref.rel.name, edgeTables(ref.rel.name).where(!hit))) { ix =>
      Some(
        if (ref.rel.symmetric) ix.clearSrc(ref.rel.name, x).clearDst(ref.rel.name, x)
        else if (ref.reversed) ix.clearDst(ref.rel.name, x)
        else ix.clearSrc(ref.rel.name, x))
    }
  }

  // --------------------------------------------------------- validation

  /** Cardinality violations as a DataFrame `(relation, src, n)` — the
    * write/validate-time image of the reference's read-time "bad
    * cardinality" errors (src/Edgy/Operations.hs:285-287;
    * src/Edgy/Cardinality.hs:28-48). Checks BOTH bounds: max via a count per
    * source over the edges, min (One/Some require ≥ 1, which the reference
    * errors on at read time, src/Edgy/Operations.hs:285-287) via the node
    * extent left-joined to the counts — a node with no edges at all never
    * appears in the edge table, so the min check must start from the extent.
    * Distributed: one groupBy per bounded relation direction, unioned.
    */
  def cardinalityViolations(): DataFrame = {
    val checks = schema.relationDefs.flatMap { r =>
      val dirs = Seq((r.name, r.card, r.from)) ++
        (if (!r.symmetric) Seq((r.inverse, r.inverseCard, r.to)) else Nil)
      dirs.flatMap { case (dirName, card, srcLabel) =>
        val counts = edges(dirName).groupBy(col(SrcCol)).agg(count(lit(1)).as("n"))
        val maxCheck = card.maxPer.map { m =>
          counts.where(col("n") > m)
            .select(lit(dirName).as("relation"), col(SrcCol), col("n"))
        }
        val minCheck =
          if (card.minPer <= 0) None
          else Some(
            nodes(srcLabel).select(col(IdCol).as(SrcCol))
              .join(counts, Seq(SrcCol), "left")
              .where(coalesce(col("n"), lit(0L)) < card.minPer)
              .select(lit(dirName).as("relation"), col(SrcCol),
                coalesce(col("n"), lit(0L)).as("n")))
        maxCheck.toSeq ++ minCheck.toSeq
      }
    }
    checks.reduceOption(_.unionAll(_)).getOrElse {
      spark.createDataFrame(
        java.util.Collections.emptyList[Row](),
        StructType(Seq(
          StructField("relation", StringType),
          StructField(SrcCol, StringType),
          StructField("n", LongType))))
    }
  }

  /** Referential-integrity violations as a DataFrame `(relation, side,
    * node, other)` — one row per edge endpoint that names no node in its
    * extent. The reference cannot REPRESENT a dangling edge (a `Node` ref
    * is a typed TVar address, src/Edgy/Node.hs:104-114), but our bulk
    * ingest path (`addRelatedBulk`, streaming `GraphUpdater`) accepts
    * arbitrary id pairs, so parity requires the check to exist as a
    * validation query. Distributed shape: two left-anti joins per
    * relation against the endpoint extents — no collect, no per-row work;
    * at scale each anti-join broadcasts or shuffles on the id exactly like
    * any other key join.
    */
  def orphanEdges(): DataFrame = {
    val checks = schema.relationDefs.flatMap { r =>
      val e = edgeTables(r.name)
      val fromIds = nodes(r.from).select(col(IdCol).as(SrcCol))
      val toIds = nodes(r.to).select(col(IdCol).as(DstCol))
      Seq(
        e.join(fromIds, Seq(SrcCol), "left_anti")
          .select(lit(r.name).as("relation"), lit("src").as("side"),
            col(SrcCol).as("node"), col(DstCol).as("other")),
        e.join(toIds, Seq(DstCol), "left_anti")
          .select(lit(r.name).as("relation"), lit("dst").as("side"),
            col(DstCol).as("node"), col(SrcCol).as("other")))
    }
    checks.reduceOption(_.unionAll(_)).getOrElse {
      spark.createDataFrame(
        java.util.Collections.emptyList[Row](),
        StructType(Seq(
          StructField("relation", StringType),
          StructField("side", StringType),
          StructField("node", StringType),
          StructField("other", StringType))))
    }
  }

  /** Persist every table under `dir` as Parquet (the durable image of the
    * reference's `filePersistence` write-behind, app/Main.hs:163-164),
    * plus a `_schema` manifest making the directory SELF-DESCRIBING:
    * `PropertyGraph.load(spark, dir)` reconstructs the graph without the
    * caller re-supplying the schema in code — the mirror of the
    * reference's self-describing storage, where attribute keys carry
    * name+type (src/Edgy/Node.hs:151-169).
    *
    * Edge tables are written hash-partitioned on `src` and sorted within
    * partitions (SURVEY.md §2.4 100 TB posture): traversals join on `src`,
    * so a src-clustered layout gives parquet row-group locality for point
    * reads and lets a re-reader repartition-free when its partitioning
    * matches. `edgeBuckets` sizes the layout (≈ cluster cores at scale;
    * small for demo graphs).
    */
  def save(dir: String, edgeBuckets: Int = 8): Unit = {
    PropertyGraph.writeSchemaManifest(spark, schema, dir)
    nodeTables.foreach { case (l, df) =>
      df.write.mode("overwrite").parquet(s"$dir/nodes_$l.parquet") }
    edgeTables.foreach { case (r, df) =>
      df.repartition(edgeBuckets, col(SrcCol)).sortWithinPartitions(col(SrcCol))
        .write.mode("overwrite").parquet(s"$dir/edges_$r.parquet") }
  }

  /** Persist ONE relation's edge table into a directory previously written
    * by [[save]] — the incremental path for point mutations, which touch
    * exactly one stored edge table: rewriting every table would make a
    * point mutation cost O(graph) instead of O(one relation). Layout
    * contract identical to [[save]]. The table is eagerly pinned for the
    * write because its own plan typically reads the very parquet files
    * being overwritten.
    */
  def saveRelation(dir: String, relName: String, edgeBuckets: Int = 8): Unit =
    Pinned.scope {
      val stored = schema.relation(relName).rel.name
      edgeTables(stored).pin(true)
        .repartition(edgeBuckets, col(SrcCol)).sortWithinPartitions(col(SrcCol))
        .write.mode("overwrite").parquet(s"$dir/edges_$stored.parquet")
    }

  /** Persist as CATALOG-BUCKETED tables (`bucketBy(src)` + `sortBy`): unlike
    * `save`, the bucket metadata survives in the catalog, so a subsequent
    * self-join or traversal join on `src` between equally-bucketed tables
    * plans with NO shuffle on the bucketed side — the co-located-join story
    * for repeated traversal workloads at 100 TB. Parquet-path saves can't
    * carry bucket info; this is the Spark-native equivalent. The schema
    * manifest rides along as `<prefix>_schema`, so
    * `loadFromTables(spark, prefix)` needs no schema object either.
    */
  def saveAsBucketedTables(prefix: String, buckets: Int = 32): Unit = {
    val sess = spark
    import sess.implicits._
    // the normal cross-JVM lifecycle is a FRESH in-memory catalog over a
    // STALE warehouse directory (the previous run's managed-table files
    // survive; its catalog entries don't) — mode("overwrite") only
    // replaces tables the current catalog knows about, and saveAsTable
    // refuses a leftover location outright (LOCATION_ALREADY_EXISTS), so
    // clear both the entry and the directory first
    def reclaim(name: String): Unit = {
      sess.sql(s"DROP TABLE IF EXISTS `$name`")
      val loc = new org.apache.hadoop.fs.Path(
        sess.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(name)))
      val fs = loc.getFileSystem(sess.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    reclaim(s"${prefix}_schema")
    PropertyGraph.manifestRows(schema).toDS()
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${prefix}_schema")
    // ONE file per bucket (repartition on the bucket key before the
    // bucketed write): each writing task otherwise emits its own file
    // per bucket, and multi-file buckets forfeit the sortBy metadata —
    // readers re-Sort both sides of every bucketed SortMergeJoin, which
    // at sf1 made the bucketed traversal SLOWER than the unbucketed one
    // (g12 2.62s vs g01 2.14s). Single-file buckets keep the join
    // exchange-free AND sort-free.
    nodeTables.foreach { case (l, df) =>
      reclaim(s"${prefix}_nodes_$l")
      df.repartition(buckets, col(IdCol))
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, IdCol).sortBy(IdCol)
        .saveAsTable(s"${prefix}_nodes_$l") }
    edgeTables.foreach { case (r, df) =>
      reclaim(s"${prefix}_edges_$r")
      df.repartition(buckets, col(SrcCol))
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, SrcCol).sortBy(SrcCol)
        .saveAsTable(s"${prefix}_edges_$r") }
  }

  // ------------------------------------------------- indexed traversals

  /** The bag a filter on the whole extent of `label` selects, when it is
    * `id = literal` or `id IN (literals)` and the snapshot has an index:
    * one id per matching node row. None sends the traversal to Spark.
    */
  private[graph] def literalStart(label: String, filtered: DataFrame): Option[Vector[Any]] =
    PropertyGraph.literalIds(filtered, schema.idType).flatMap { ids =>
      contents.map { c =>
        ids.filter(_ != null).distinct.flatMap(c.nodeRows(label, _).map(_.get(0))).toVector
      }
    }

  /** One hop from the bag `ids` along `ref`, walked on the index: None
    * without an index or past `SnapshotIndex.MaxLocalFrontier` ids.
    */
  private[graph] def walk(ref: RelationRef, ids: Vector[Any]): Option[Vector[Any]] =
    contents.flatMap { c =>
      val out = ids.iterator.flatMap(c.neighbors(ref, _))
        .take(SnapshotIndex.MaxLocalFrontier.toInt + 1).toVector
      if (Regime.fits(out.size.toLong, SnapshotIndex.MaxLocalFrontier)) Some(out) else None
    }

  /** A bag of ids as a local relation `(id)`. */
  private[graph] def idFrame(ids: Seq[Any]): DataFrame =
    localFrame(ids.map(Row(_)),
      StructType(Seq(StructField(IdCol, schema.idType, nullable = false))))

  /** The node rows of `label` for each id of the bag `ids`, as [[nodes]]
    * shows them and in its schema, as a local relation — the rows a join
    * of the bag onto the extent returns. None without an index.
    */
  private[graph] def nodeFrame(label: String, ids: Seq[Any]): Option[DataFrame] =
    contents.map(c => localFrame(ids.flatMap(c.nodeRows(label, _)), nodes(label).schema))

  /** The one place the engine hands a driver-known bag to Spark: the
    * session gets [[graft.LocalPlans]] first, so a small aggregate over
    * the bag folds on the driver.
    */
  private def localFrame(rows: Seq[Row], schemaT: StructType): DataFrame = {
    GraftExtensions.installRules(spark)
    spark.createDataFrame(rows.asJava, schemaT)
  }
}

object PropertyGraph {
  val edgeStruct: StructType = edgeStructOf(StringType)

  def edgeStructOf(idType: DataType): StructType = StructType(Seq(
    StructField(SrcCol, idType, nullable = false),
    StructField(DstCol, idType, nullable = false)))

  /** String id → the schema's id type (point APIs keep string signatures;
    * long-keyed graphs parse them — see PropertyGraph.cid).
    */
  private[graft] def coerceId(idType: DataType, v: String): Any = idType match {
    case LongType    => v.toLong
    case IntegerType => v.toInt
    case _           => v
  }

  /** The literal ids of a filter of the form `id = v`, `v = id` or
    * `id IN (v, …)` with foldable `v`s of the id type, read off the
    * analyzed `Filter` on top of `filtered`; None for any other shape, or
    * when a literal fails to evaluate (Spark raises that error itself).
    */
  private def literalIds(filtered: DataFrame, idType: DataType): Option[Seq[Any]] =
    filtered.queryExecution.analyzed match {
      case Filter(cond, child) =>
        val id = child.output.find(_.name == IdCol).map(_.exprId)
        def isId(e: Expression) = e match {
          case a: AttributeReference => id.contains(a.exprId)
          case _ => false
        }
        def value(e: Expression): Option[Any] =
          if (!e.foldable || !e.deterministic || e.dataType != idType) None
          else Try(CatalystTypeConverters.convertToScala(e.eval(), idType)).toOption
        def all(es: Seq[Expression]): Option[Seq[Any]] = {
          val vs = es.map(value)
          if (vs.forall(_.isDefined)) Some(vs.flatten) else None
        }
        cond match {
          case EqualTo(l, r) if isId(l) => all(Seq(r))
          case EqualTo(l, r) if isId(r) => all(Seq(l))
          case In(v, list) if isId(v) => all(list)
          case _ => None
        }
      case _ => None
    }

  /** Empty graph for a schema. */
  def empty(spark: SparkSession, schema: GraphSchema): PropertyGraph = {
    val nodes = schema.nodeDefs.map { d =>
      d.label -> spark.createDataFrame(
        java.util.Collections.emptyList[Row](), d.structType(schema.idType))
    }.toMap
    val edges = schema.relationDefs.map { r =>
      r.name -> spark.createDataFrame(
        java.util.Collections.emptyList[Row](), edgeStructOf(schema.idType))
    }.toMap
    PropertyGraph(schema.validated(), nodes, edges)
      .indexed(Some(SnapshotIndex.empty(schema)))
  }

  /** Load a graph previously written by `save`. */
  def load(spark: SparkSession, schema: GraphSchema, dir: String): PropertyGraph =
    PropertyGraph(
      schema.validated(),
      schema.nodeDefs.map(d => d.label -> spark.read.parquet(s"$dir/nodes_${d.label}.parquet")).toMap,
      schema.relationDefs.map(r => r.name -> spark.read.parquet(s"$dir/edges_${r.name}.parquet")).toMap)

  /** Load a graph from a self-describing directory written by [[save]]:
    * the schema is reconstructed from the `_schema` manifest — no schema
    * object in code (the reference's storage is likewise self-describing,
    * src/Edgy/Node.hs:151-169).
    */
  def load(spark: SparkSession, dir: String): PropertyGraph =
    load(spark, readSchemaManifest(spark, dir), dir)

  /** Whether `dir` carries a `_schema` manifest. Callers that want a
    * legacy fallback (pre-manifest directories) must branch on THIS, not
    * on catching load errors: a manifest that exists but fails to parse is
    * corruption and must surface, not silently fall back.
    */
  def hasSchemaManifest(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$manifestName")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  // ------------------------------------------------------ schema manifest
  // Flat rows instead of a nested document: the manifest is written and
  // read THROUGH Spark (json source), so it lands on the same filesystem
  // as the data with no hand-rolled JSON or driver-local file I/O, and
  // the row schema doubles as the format spec. Attribute defaults are
  // stored as strings and re-coerced through the declared DataType.

  private[graft] final case class SchemaManifestRow(
      kind: String,             // "attr" | "relation"
      label: String,            // attr: node label; relation: unused
      name: String,             // attr or relation name
      pos: Int,                 // attr ordinal within its label
      dataTypeJson: String,     // attr: DataType.json
      required: Boolean,
      defaultStr: Option[String],
      inverse: String, from: String, to: String,
      card: String, inverseCard: String, symmetric: Boolean)

  private val manifestName = "_schema"

  private def defaultToString(label: String, a: AttrDef): Option[String] =
    a.default.map {
      case s: String => s
      case v @ (_: Long | _: Int | _: Double | _: Float | _: Boolean) =>
        v.toString
      case d: java.sql.Date           => d.toString
      case d: java.time.LocalDate     => d.toString
      case t: java.sql.Timestamp      => t.toString
      case b: java.math.BigDecimal    => b.toPlainString
      case b: scala.math.BigDecimal   => b.underlying.toPlainString
      case other => throw new IllegalArgumentException(
        s"attribute $label.${a.name}: default of ${other.getClass.getSimpleName} " +
          "is not manifest-serializable (use a string/numeric/boolean/" +
          "date/timestamp/decimal default)")
    }

  private def defaultFromString(dt: DataType, s: String): Any = dt match {
    case StringType     => s
    case LongType       => s.toLong
    case IntegerType    => s.toInt
    case DoubleType     => s.toDouble
    case FloatType      => s.toFloat
    case BooleanType    => s.toBoolean
    case DateType       => java.sql.Date.valueOf(s)
    case TimestampType  => java.sql.Timestamp.valueOf(s)
    case _: DecimalType => new java.math.BigDecimal(s)
    case other => throw new IllegalArgumentException(
      s"manifest default for unsupported type $other")
  }

  private[graft] def manifestRows(schema: GraphSchema): Seq[SchemaManifestRow] = {
    val attrRows = schema.nodeDefs.flatMap { n =>
      // a label with no attributes still needs a row, or the label (and
      // its node table) would vanish from the manifest
      if (n.attrs.isEmpty)
        Seq(SchemaManifestRow("label", n.label, "", 0, "", required = false,
          None, "", "", "", "", "", symmetric = false))
      else n.attrs.zipWithIndex.map { case (a, i) =>
        SchemaManifestRow("attr", n.label, a.name, i, a.dataType.json,
          a.required, defaultToString(n.label, a),
          "", "", "", "", "", symmetric = false)
      }
    }
    val relRows = schema.relationDefs.map { r =>
      SchemaManifestRow("relation", "", r.name, 0, "", required = false, None,
        r.inverse, r.from, r.to, r.card.name, r.inverseCard.name, r.symmetric)
    }
    // graph-wide id type; absent in pre-idType manifests (read defaults to
    // StringType, which is what every legacy directory was written with)
    val idRow = SchemaManifestRow("idtype", "", "", 0, schema.idType.json,
      required = false, None, "", "", "", "", "", symmetric = false)
    attrRows ++ relRows :+ idRow
  }

  private[graft] def schemaFromRows(rows: Seq[SchemaManifestRow]): GraphSchema = {
    def cardOf(n: String): Cardinality = Cardinality.all.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"manifest: unknown cardinality $n"))
    val nodes = rows.filter(r => r.kind == "attr" || r.kind == "label")
      .groupBy(_.label).toSeq
      .map { case (label, rs) =>
        val attrs = rs.filter(_.kind == "attr").sortBy(_.pos).map { r =>
          val dt = DataType.fromJson(r.dataTypeJson)
          AttrDef(r.name, dt, r.required,
            r.defaultStr.map(defaultFromString(dt, _)))
        }
        NodeDef(label, attrs)
      }
      .sortBy(_.label)
    val rels = rows.filter(_.kind == "relation").sortBy(_.name).map { r =>
      RelationDef(r.name, r.inverse, r.from, r.to,
        cardOf(r.card), cardOf(r.inverseCard), r.symmetric)
    }
    val idType = rows.find(_.kind == "idtype")
      .map(r => DataType.fromJson(r.dataTypeJson))
      .getOrElse(StringType)
    GraphSchema(nodes, rels, idType).validated()
  }

  private[graft] def writeSchemaManifest(
      spark: SparkSession, schema: GraphSchema, dir: String): Unit = {
    import spark.implicits._
    manifestRows(schema).toDS().coalesce(1)
      .write.mode("overwrite").json(s"$dir/$manifestName")
  }

  private[graft] def readSchemaManifest(
      spark: SparkSession, dir: String): GraphSchema = {
    import spark.implicits._
    // FAILFAST: a malformed manifest line must surface as the parse error,
    // not dissolve into all-null rows that load as an empty schema
    val rows = spark.read
      .schema(org.apache.spark.sql.Encoders.product[SchemaManifestRow].schema)
      .option("mode", "FAILFAST")
      .json(s"$dir/$manifestName")
      .as[SchemaManifestRow]
      .collect().toSeq   // a schema is driver-sized by definition
    if (rows.isEmpty)
      throw new IllegalStateException(s"$dir/$manifestName: empty schema manifest")
    schemaFromRows(rows)
  }

  /** Load a graph previously written by `saveAsBucketedTables`. Reading via
    * the catalog keeps the bucket spec, so traversal joins against the
    * loaded edge tables keep planning shuffle-free on `src`.
    */
  def loadFromTables(spark: SparkSession, schema: GraphSchema, prefix: String)
      : PropertyGraph =
    PropertyGraph(
      schema.validated(),
      schema.nodeDefs.map(d => d.label -> spark.table(s"${prefix}_nodes_${d.label}")).toMap,
      schema.relationDefs.map(r => r.name -> spark.table(s"${prefix}_edges_${r.name}")).toMap)

  /** Load from catalog tables self-describingly: the schema comes from the
    * `<prefix>_schema` table `saveAsBucketedTables` wrote.
    */
  def loadFromTables(spark: SparkSession, prefix: String): PropertyGraph = {
    import spark.implicits._
    val rows = spark.table(s"${prefix}_schema")
      .as[SchemaManifestRow].collect().toSeq
    loadFromTables(spark, schemaFromRows(rows), prefix)
  }
}

/** A traversal position: a bag of nodes of one label, represented as a
  * DataFrame retaining duplicates (the reference's `[Node]` results are
  * lists, and `concatMapM getRelated` produces duplicates —
  * app/Main.hs:152-156; bag fidelity is load-bearing for the flagship
  * query's multiset difference, app/Main.hs:157).
  *
  * Attribute attachment is LAZY: hops and set operations carry an ids-only
  * frontier, and the target node table joins in only when attributes are
  * actually read (`df`, `attr`, `filter`). A k-hop chain therefore plans
  * k edge joins + ONE node-table join, not k of each — intermediate-hop
  * attribute joins are pure cost at any scale.
  *
  * On an indexed snapshot, `from(label).filter(id = literal)` (or
  * `id IN (literals)`) also knows its bag of ids on the driver, and each
  * `related` hop from a known bag walks the snapshot's CSR and hands on
  * only the ids — no edge scan, and no frame. `unionAll` and `exceptAll`
  * of two known bags are computed on the driver too (up to
  * `SnapshotIndex.MaxLocalFrontier` ids), and `ids`, `df` and `attr` of a
  * bag they make are local relations built when first read, the last two
  * from the index's node rows. None of these runs a Spark job, and neither does a
  * small count, distinct or `groupBy` over them ([[graft.LocalPlans]]).
  * A literal start's own `df` is the filtered extent scan. Every other
  * frontier plans the equi-join.
  */
final case class Traversal(g: PropertyGraph, label: String,
    private val frontier: DataFrame, private val hasAttrs: Boolean = true) {
  import Traversal._

  /** The bag as Spark rows: the frontier, or for a bag a hop or bag
    * algebra made on the driver (whose frontier is null, [[ofIds]]) the
    * local relation of its ids, built only when something reads it.
    */
  private lazy val rows: DataFrame =
    if (frontier != null) frontier
    else known match {
      case Ids(ids) => g.idFrame(ids)
      case other => throw new IllegalStateException(s"no frontier for $other")
    }

  /** What the driver knows of the bag, set once as `from`, `filter` or
    * `related` makes this traversal; any other make knows nothing.
    */
  @volatile private var known: Known = Unknown

  private[graph] def knowing(k: Known): Traversal = { known = k; this }

  /** The bag with attributes attached: joined on demand, or built from
    * the index's node rows when the bag is known.
    */
  lazy val df: DataFrame =
    if (hasAttrs) rows
    else (known match { case Ids(ids) => g.nodeFrame(label, ids); case _ => None })
      .getOrElse(rows.join(g.nodes(label), Seq(IdCol)))

  def filter(cond: Column): Traversal = {
    val out = df.where(cond)
    val start = if (known == WholeExtent) g.literalStart(label, out) else None
    Traversal(g, label, out, hasAttrs = true).knowing(start.fold[Known](Unknown)(Ids))
  }

  /** 1-hop traversal (reference: getRelated, src/Edgy/Operations.hs:273-287)
    * = equi-join current ids onto the relation's edge view. Duplicates
    * preserved; target attributes join lazily on first use. A bag known on
    * the driver walks the index instead (class doc).
    */
  def related(relName: String): Traversal = {
    val ref = g.schema.relation(relName)
    require(ref.srcLabel == label,
      s"relation $relName starts at ${ref.srcLabel}, traversal is at $label")
    val walked = known match {
      case Ids(ids) => g.walk(ref, ids)
      case _ => None
    }
    walked match {
      case Some(out) => ofIds(g, ref.dstLabel, out)
      case None =>
        val hop = rows.select(col(IdCol).as("__src"))
          .join(g.edges(relName), col("__src") === col(SrcCol))
          .select(col(DstCol).as(IdCol))
        Traversal(g, ref.dstLabel, hop, hasAttrs = false)
    }
  }

  /** Multiset union (reference: `++`, app/Main.hs:154). Ids-only: the
    * merged bag re-attaches attributes lazily if read.
    */
  def unionAll(other: Traversal): Traversal = {
    require(other.label == label, s"union of $label with ${other.label}")
    bothKnown(other)(_ ++ _).getOrElse(
      copy(frontier = ids.unionByName(other.ids), hasAttrs = false))
  }

  /** Multiset difference on node identity (reference: Data.List.(\\) —
    * removes ONE occurrence per match, app/Main.hs:157). `exceptAll` is the
    * Spark primitive with exactly those semantics; `except` (set) would
    * diverge whenever duplicate needs exist.
    */
  def exceptAll(other: Traversal): Traversal = {
    require(other.label == label, s"difference of $label with ${other.label}")
    bothKnown(other)(_ diff _).getOrElse(
      copy(frontier = ids.exceptAll(other.ids), hasAttrs = false))
  }

  /** `op` of the two bags on the driver, when both are known and the
    * result fits `SnapshotIndex.MaxLocalFrontier`. Scala's `diff` is the
    * multiset difference `\\` is.
    */
  private def bothKnown(other: Traversal)(
      op: (Vector[Any], Vector[Any]) => Vector[Any]): Option[Traversal] =
    (known, other.known) match {
      case (Ids(a), Ids(b)) =>
        val out = op(a, b)
        if (!Regime.fits(out.size.toLong, SnapshotIndex.MaxLocalFrontier)) None
        else Some(ofIds(g, label, out))
      case _ => None
    }

  /** Attribute projection over the bag (reference: traverse getAttribute,
    * app/Main.hs:172).
    */
  def attr(name: String): DataFrame = df.select(col(name))

  def ids: DataFrame = rows.select(col(IdCol))
}

object Traversal {
  /** What the driver knows of a traversal's bag without running it. */
  private[graph] sealed trait Known
  private[graph] case object Unknown extends Known
  /** The whole extent of the label: `from(label)`, not yet filtered. */
  private[graph] case object WholeExtent extends Known
  /** Exactly these ids, duplicates included. */
  private[graph] final case class Ids(ids: Vector[Any]) extends Known

  /** The bag of `ids` of `label`, known on the driver: no frame until
    * `ids`, `df` or `attr` reads it.
    */
  private[graph] def ofIds(g: PropertyGraph, label: String,
      ids: Vector[Any]): Traversal =
    Traversal(g, label, null, hasAttrs = false).knowing(Ids(ids))
}
