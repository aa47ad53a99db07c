package graft

import org.apache.spark.sql.functions._

import graft.graph.{DemoGraph, DemoTyped, PropertyGraph}
import graft.typed._

/** The typed facade must deliver edgy's compile-time guarantees (SURVEY
  * §1.4/§2.3): typed traversals equal to the untyped goldens, cardinality
  * surfaced as Option[T]/T/Seq[T], descriptor/schema agreement validated,
  * and — the point of the whole exercise — ill-typed programs that DO NOT
  * COMPILE (asserted with assertTypeError, the Scala image of the
  * reference's TypeError guards, src/Edgy/Schema.hs:124-146).
  */
class TypedSpec extends SparkSpec {

  import DemoTyped._

  private lazy val g: PropertyGraph = DemoGraph.bigBang(spark).checkpointed()
  private lazy val tg = TypedGraph(g)

  test("typed missingTools equals the untyped golden for every person") {
    for ((person, expected) <- Seq(
        "Bob" -> Seq("Poker Chips"),
        "Jane" -> Seq("Poker Chips"),
        "Jose" -> Seq.empty[String])) {
      val typed = DemoTyped.missingTools(g, person).collect().sorted.toSeq
      val untyped = DemoGraph.missingTools(g, person)
        .collect().map(_.getString(0)).sorted.toSeq
      assert(typed === untyped, s"typed/untyped diverge for $person")
      assert(typed === expected, s"golden mismatch for $person")
    }
    // the lookup contract matches the untyped path: 0 and >1 matches error
    // (Main.hs:137-140) instead of silently merging duplicate names
    intercept[NoSuchElementException](DemoTyped.missingTools(g, "Nobody"))
    val dup = TypedGraph(g).add(Person("person:bob2", "Bob", 99L))
    intercept[IllegalStateException](DemoTyped.missingTools(dup.g, "Bob"))
  }

  test("typed extent scan and typed point read") {
    val people = tg.nodes[Person].ds.collect().sortBy(_.id)
    assert(people.map(_.name).toSeq === Seq("Bob", "Jane", "Jose"))
    assert(people.map(_.age).toSeq === Seq(20L, 21L, 22L))
    val bob = tg.node[Person]("person:bob")
    assert(bob === Person("person:bob", "Bob", 20L))
    intercept[NoSuchElementException](tg.node[Person]("person:nobody"))
  }

  test("cardinality shapes: Optional reads as Option[T], Many as Seq[T]") {
    // spouse is Optional ⇒ the READ TYPE is Option[Person] — no casting,
    // the compiler computed it from the descriptor (Cardinality.hs:18-22)
    val bobSpouse: Option[Person] = tg.related("person:bob", spouse)
    assert(bobSpouse.map(_.name) === Some("Jane"))
    val joseSpouse: Option[Person] = tg.related("person:jose", spouse)
    assert(joseSpouse === None)
    val bobHobbies: Seq[Activity] = tg.related("person:bob", hobby)
    assert(bobHobbies.map(_.name).sorted === Seq("Hiking", "Poker"))
    val janeStuff: Seq[Item] = tg.related("person:jane", possession)
    assert(janeStuff.map(_.name) === Seq("Deck of Cards"))
  }

  test("typed hop chain walks relations with endpoint types checked") {
    val toolNames = tg.nodes[Person].where(_.name == "Bob")
      .related(hobby).related(tool)
      .ds.collect().map(_.name).sorted.toSeq
    // bag semantics: each tool once per (hobby, tool) path
    assert(toolNames === Seq("Deck of Cards", "Poker Chips", "Trail Map",
      "Trekking Poles"))
  }

  test("typed constructor inserts compile-checked rows (Main.hs:83 image)") {
    // the case class IS the row — a missing required attribute is
    // unrepresentable, exactly like the reference's positional constructor
    val tg2 = tg.add(Person("person:ana", "Ana", 33L))
      .addAll(Seq(Person("person:bo", "Bo", 44L), Person("person:cy", "Cy", 55L)))
    assert(tg2.node[Person]("person:ana") === Person("person:ana", "Ana", 33L))
    assert(tg2.nodes[Person].ds.count() === 6L) // 3 fixture + 3 added
    // copy-on-write: the original typed graph is untouched
    assert(tg.nodes[Person].ds.count() === 3L)
  }

  test("typed edge mutations relate/unrelate with endpoint types checked") {
    // Bob buys the chips: the typed image of the demo CLI's `buy`
    val after = tg.relate("person:bob", possession, "object:chips")
    assert(DemoTyped.missingTools(after.g, "Bob").collect().isEmpty)
    val undone = after.unrelate("person:bob", possession, "object:chips")
    assert(DemoTyped.missingTools(undone.g, "Bob").collect().toSeq
      === Seq("Poker Chips"))
    // endpoint types are enforced at compile time: relating via a
    // descriptor whose source type isn't in scope of the ids' node types
    assertTypeError(
      """import graft.graph.DemoTyped._
         import graft.typed._
         def bad(tg: TypedGraph) = tg.relate("a", tool, "b")(personT, itemT)""")
  }

  test("descriptors that disagree with the runtime schema fail fast") {
    import TypedSpec._
    // wrong label
    val ghost = NodeType.of[Person]("Ghost")
    intercept[IllegalArgumentException](tg.nodes[Person](ghost))
    // case class field that is not a schema attribute
    val wide = NodeType.of[WidePerson]("Person")
    intercept[IllegalArgumentException](tg.nodes[WidePerson](wide))
    // field type mismatch (age is Long in the schema)
    val wrong = NodeType.of[WrongTyped]("Person")
    intercept[IllegalArgumentException](tg.nodes[WrongTyped](wrong))
    // missing required attribute
    val slim = NodeType.of[Slim]("Person")
    intercept[IllegalArgumentException](tg.nodes[Slim](slim))
    // descriptor overclaims cardinality: friend is Many, read it as One
    val friendOne: Rel[Person, Person, Card.One] = Rel("friend")
    intercept[IllegalArgumentException](tg.related("person:bob", friendOne))
    // descriptor endpoint mismatch: tool starts at Activity, not Person
    val toolFromPerson: Rel[Person, Item, Card.Many] = Rel("tool")
    intercept[IllegalArgumentException](tg.related("person:bob", toolFromPerson))
  }

  test("whereField filters are typed AND reach the parquet scan pushed down") {
    withTempDir("graft-typed-push") { dir =>
      DemoGraph.bigBang(spark).save(dir)
      val loaded = TypedGraph(PropertyGraph.load(spark, dir))
      val adults = loaded.nodes[Person].whereField(_.age)(_ > 20L)
      assert(adults.ds.collect().map(_.name).sorted.toSeq === Seq("Jane", "Jose"))
      // identical rows to the deserializing lambda filter and the
      // handwritten Column filter — whereField is the best of both
      assert(adults.ds.collect().toSet ===
        loaded.nodes[Person].where(_.age > 20L).ds.collect().toSet)
      assert(adults.ds.collect().toSet ===
        loaded.nodes[Person].filter(col("age") > 20L).ds.collect().toSet)
      // the fidelity pin: the typed predicate must reach the parquet scan
      // (inside the PushedFilters bracket, not merely post-scan)
      val plan = adults.ds.queryExecution.executedPlan.toString
      assert("PushedFilters: \\[[^\\]]*age".r.findFirstIn(plan).isDefined,
        s"typed field filter did not push down:\n$plan")
      // predicate operand type is pinned to the FIELD type
      assertTypeError(
        """import graft.graph.DemoTyped._
           import graft.typed._
           def bad(tg: TypedGraph) =
             tg.nodes[Person].whereField(_.age)(_ > "thirty")""")
      // only simple accessors can yield a column NAME — computed selectors
      // are rejected at compile time by the macro
      assertDoesNotCompile(
        """import graft.graph.DemoTyped._
           import graft.typed._
           def bad(tg: TypedGraph) =
             tg.nodes[Person].whereField(p => p.age + 1L)(_ > 30L)""")
    }
  }

  test("groupByField aggregates stay Catalyst-native and match untyped plans") {
    import TypedAggs._
    val grouped = tg.nodes[Person]
      .groupByField(_.name)
      .agg(avgOf(_.age), sumOf(_.age), minOf(_.age), maxOf(_.age),
        countAll.as("n_people"), countDistinctOf(_.age))
    // row-for-row equal to the untyped groupBy the facade compiles to
    val untyped = tg.nodes[Person].ds.toDF().groupBy(col("name"))
      .agg(avg(col("age")).as("avg_age"), sum(col("age")).as("sum_age"),
        min(col("age")).as("min_age"), max(col("age")).as("max_age"),
        count(lit(1)).as("n_people"), count_distinct(col("age")).as("n_distinct_age"))
    assert(grouped.collect().toSet === untyped.collect().toSet)
    assert(grouped.columns.toSeq ===
      Seq("name", "avg_age", "sum_age", "min_age", "max_age", "n_people",
        "n_distinct_age"))
    // the fidelity pin: partial + final HashAggregate, and NO object
    // serialization boundary anywhere in the plan (the failure mode of
    // KeyValueGroupedDataset typed aggs)
    val plan = grouped.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"no HashAggregate:\n$plan")
    assert("partial".r.findFirstIn(plan.toLowerCase).isDefined,
      s"no partial (map-side) aggregation:\n$plan")
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("DeserializeToObject"),
      s"typed agg crossed an object boundary:\n$plan")

    // aggregate field types are pinned: averaging a String is a compile
    // error (no Numeric[String]) — min/max accept it (Ordering exists)
    assertTypeError(
      """import graft.graph.DemoTyped._
         import graft.typed._, TypedAggs._
         def bad(tg: TypedGraph) =
           tg.nodes[Person].groupByField(_.name).agg(avgOf(_.name))""")
    assertCompiles(
      """import graft.graph.DemoTyped._
         import graft.typed._, TypedAggs._
         def ok(tg: TypedGraph) =
           tg.nodes[Person].groupByField(_.age).agg(minOf(_.name))""")
    // an aggregate built from ANOTHER node type cannot be applied
    // (countDistinctOf has no implicit constraints, so the ONLY error is
    // the source-type tag mismatch TypedAgg[Item] vs TypedAgg[Person])
    assertTypeError(
      """import graft.graph.DemoTyped._
         import graft.typed._, TypedAggs._
         def bad(tg: TypedGraph) =
           tg.nodes[Person].groupByField(_.name)
             .agg(countDistinctOf[Item, String](_.name))""")
    // computed key selectors are rejected by the macro, like whereField
    assertDoesNotCompile(
      """import graft.graph.DemoTyped._
         import graft.typed._, TypedAggs._
         def bad(tg: TypedGraph) =
           tg.nodes[Person].groupByField(p => p.age + 1L).agg(countAll)""")
  }

  test("ill-typed programs do not compile (Schema.hs:124-146 image)") {
    // traversing a relation from the wrong node type: `tool` is
    // Rel[Activity, Item, _]; a Person frontier can't take it
    assertTypeError(
      """import graft.graph.DemoTyped._
         import graft.typed._
         def bad(tg: TypedGraph) = tg.nodes[Person].related(tool)""")
    // reading an attribute that the node type doesn't declare
    assertTypeError(
      """import graft.graph.DemoTyped._
         import graft.typed._
         def bad(tg: TypedGraph) = tg.nodes[Person].ds.map(_.salary)""")
    // binding an Optional-cardinality read to the wrong shape: spouse
    // yields Option[Person], never Seq
    assertTypeError(
      """import graft.graph.DemoTyped._
         import graft.typed._
         def bad(tg: TypedGraph): Seq[Person] = tg.related("x", spouse)""")
    // chaining relations whose endpoint types don't line up:
    // possession ends at Item; hobby starts at Person
    assertTypeError(
      """import graft.graph.DemoTyped._
         import graft.typed._
         def bad(tg: TypedGraph) =
           tg.nodes[Person].related(possession).related(hobby)""")
    // and the well-typed equivalents DO compile
    assertCompiles(
      """import graft.graph.DemoTyped._
         import graft.typed._
         def ok(tg: TypedGraph) = tg.nodes[Person].related(hobby).related(tool)""")
    assertCompiles(
      """import graft.graph.DemoTyped._
         import graft.typed._
         def ok(tg: TypedGraph): Option[Person] = tg.related("x", spouse)""")
  }
  test("typed facade covers a TIMESTAMP_NTZ field end-to-end (fixture-encoding parity)") {
    // round-9 lesson: the driver fixture moved to timestamp[us] →
    // TIMESTAMP_NTZ, and nothing in the typed path had ever touched that
    // type. A LocalDateTime case-class field IS the NTZ encoder, so this
    // pins the whole loop: schema declaration, typed insert, parquet
    // persistence round-trip, and a whereField predicate that pushes down.
    import TypedSpec.{Reading, readingT, readingSchema}
    import java.time.LocalDateTime
    def at(d: Int, h: Int) = LocalDateTime.of(2024, 1, d, h, 0, 0)
    val tg0 = TypedGraph(PropertyGraph.empty(spark, readingSchema))
      .addAll(Seq(
        Reading("r:1", at(1, 8), 10L),
        Reading("r:2", at(2, 12), 20L),
        Reading("r:3", at(3, 16), 30L)))
    withTempDir("graft-typed-ntz") { dir =>
      tg0.g.save(dir)
      val loaded = TypedGraph(PropertyGraph.load(spark, dir))
      // the persisted attribute must come back as NTZ, not silently widened
      assert(loaded.nodes[Reading].ds.schema("at").dataType ===
        org.apache.spark.sql.types.TimestampNTZType)
      val late = loaded.nodes[Reading].whereField(_.at)(_ > at(1, 23))
      assert(late.ds.collect().map(_.id).sorted.toSeq === Seq("r:2", "r:3"))
      assert(loaded.nodes[Reading].whereField(_.at)(
        _.between(at(2, 0), at(2, 23))).ds.collect().map(_.value).toSeq === Seq(20L))
      // the NTZ predicate must reach the parquet scan like any other field
      val plan = late.ds.queryExecution.executedPlan.toString
      assert("PushedFilters: \\[[^\\]]*at".r.findFirstIn(plan).isDefined,
        s"NTZ field filter did not push down:\n$plan")
      // typed round-trip values survive exactly (no tz shift: NTZ is wall-clock)
      assert(loaded.node[Reading]("r:1") === Reading("r:1", at(1, 8), 10L))
    }
  }
}

object TypedSpec {
  // descriptor-mismatch fixtures (top-level: product encoders need TypeTags)
  final case class WidePerson(id: String, name: String, salary: Long)
  final case class WrongTyped(id: String, name: String, age: String)
  final case class Slim(id: String)
  // TIMESTAMP_NTZ coverage: LocalDateTime encodes as TimestampNTZType
  final case class Reading(id: String, at: java.time.LocalDateTime, value: Long)
  implicit val readingT: graft.typed.NodeType[Reading] =
    graft.typed.NodeType.of[Reading]("Reading")
  val readingSchema: graft.schema.GraphSchema = graft.schema.GraphSchema(
    nodeDefs = Seq(graft.schema.NodeDef("Reading", Seq(
      graft.schema.AttrDef("at", org.apache.spark.sql.types.TimestampNTZType),
      graft.schema.AttrDef("value", org.apache.spark.sql.types.LongType)))),
    relationDefs = Seq.empty)
}
