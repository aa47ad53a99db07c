package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.Pinned.PinSyntax

/** [[LocalPlans]]: an aggregate over a small local relation folds on the
  * driver, and its rows are exactly Spark's — the fold law over random
  * small frames against [[Regime.atScale]], which keeps Spark's plan; the
  * shapes that must fold and those that must not; and its installation,
  * once per session, through each path.
  */
class LocalPlansSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", IntegerType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("d", DecimalType(10, 2)),
    StructField("s", StringType)))

  private def frame(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, schema)

  private def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 4 -> g)

  private val genRow: Gen[Row] = for {
    k <- orNull(Gen.choose(1, 3))
    i <- orNull(Gen.oneOf(-2, 0, 5, Int.MaxValue))
    l <- orNull(Gen.oneOf(-7L, 0L, 3L, Long.MaxValue / 2))
    d <- orNull(Gen.oneOf("-1.50", "0.00", "12.25", "99999999.99").map(new java.math.BigDecimal(_)))
    s <- orNull(Gen.oneOf("10", "9", "-2.5", "0")) // numeric: sum and avg cast them
  } yield Row(k, i, l, d, s)

  /** The queries the law runs over a frame, by name. */
  private val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "count(*), count(col) with nulls" ->
      (_.agg(count(lit(1)), count(col("i")), count(col("s")))),
    "sum/min/max/avg over int" -> (_.agg(sum("i"), min("i"), max("i"), avg("i"))),
    "sum/min/max/avg over long" -> (_.agg(sum("l"), min("l"), max("l"), avg("l"))),
    "sum/min/max/avg over decimal" -> (_.agg(sum("d"), min("d"), max("d"), avg("d"))),
    "sum/min/max/avg over string" -> (_.agg(sum("s"), min("s"), max("s"), avg("s"))),
    "groupBy" -> (_.groupBy("k").agg(count(lit(1)), sum("l"), min("s"), max("d"), sum("d"))),
    "groupBy(..).count()" -> (_.groupBy("k", "s").count()),
    "distinct" -> (_.distinct()),
    "distinct then count" -> (_.select("k", "s").distinct().agg(count(lit(1)))),
    "Dataset.count()" -> (df => spark.range(1).select(lit(df.count()).as("n"))))

  /** Rows as a multiset, or an exception as its class and message. */
  private def answer(q: => DataFrame): Any =
    try q.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, n) => r -> n.size }
    catch { case e: Exception => (e.getClass.getName, e.getMessage) }

  private def folded(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12).withWorkers(1), p)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("fold law: folded rows equal Spark's over random small frames, empty ones included") {
    Seq("true", "false").foreach { ansi =>
      withConfs("spark.sql.ansi.enabled" -> ansi) {
        check(Prop.forAll(Gen.choose(0, 8).flatMap(Gen.listOfN(_, genRow))) { rows =>
          queries.forall { case (name, q) =>
            val local = answer(q(frame(rows)))
            val scaled = Regime.atScale(answer(q(frame(rows))))
            if (local != scaled) println(s"fold law, $name, ansi=$ansi: $rows\n  $local\n  $scaled")
            local == scaled
          }
        })
      }
    }
  }

  test("a sum overflow under ANSI raises Spark's own error on both paths") {
    withConfs("spark.sql.ansi.enabled" -> "true") {
      def overflow = Seq(Long.MaxValue, 1L).toDF("l").agg(sum("l"))
      assert(!folded(overflow))
      val local = answer(overflow)
      assert(local.isInstanceOf[(_, _)], s"no overflow error: $local")
      assert(Regime.atScale(answer(overflow)) === local)
      // the sum fits in row order but not in every order: left to Spark
      assert(!folded(Seq(Long.MaxValue, -1L, 1L).toDF("l").agg(sum("l"))))
    }
  }

  test("count, distinct, groupBy and Dataset.count over a local relation fold; others do not") {
    val ids = (1L to 40L).map(_ % 7).toDF("id")
    assert(folded(ids.agg(count(lit(1)))))
    assert(folded(ids.distinct()))
    assert(folded(ids.distinct().agg(count(lit(1)))))
    assert(folded(ids.groupBy("id").count()))
    assert(folded(ids.groupBy().count()))
    assert(folded(ids.agg(sum("id"), min("id"), max("id"))))
    assert(ids.distinct().count() === 7L)
    assert(folded(Seq.empty[Long].toDF("id").groupBy("id").count()))
    assert(Seq.empty[Long].toDF("id").agg(count(lit(1)), sum("id")).collect().toSeq ===
      Seq(Row(0L, null)))
    // each guard keeps Spark's plan
    def kept(df: DataFrame) =
      assert(df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Aggregate]),
        df.queryExecution.optimizedPlan.toString)
    kept(ids.agg(avg("id")))                                  // double buffer
    kept(ids.agg(count_distinct(col("id"))))                  // DISTINCT
    kept(ids.agg(first("id")))                                // row order
    kept(ids.agg(max_by(col("id"), col("id") % 2)))           // row order on ties
    kept(ids.agg(collect_list("id")))                         // imperative
    kept(ids.groupBy("id").agg((count(lit(1)) + rand()).as("r"))) // non-deterministic
    kept(Seq(1.0, -0.0, 0.0).toDF("x").groupBy("x").count())  // float key
    kept(ids.selectExpr("count(1) FILTER (WHERE id > 2)"))   // FILTER
    kept((0L to LocalPlans.MaxRows).toDF("id").agg(count(lit(1)))) // past the cap
    Regime.atScale(kept(ids.agg(count(lit(1)))))
    // a pinned table is no local relation
    Pinned.scope(kept(ids.pin(true).agg(count(lit(1)))))
  }

  test("the rule is installed once per session through each path") {
    def installs(s: SparkSession): Int = {
      val c = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      c.experimental.extraOptimizations.count(_ == LocalPlans) +
        c.sessionState.optimizer.extendedOperatorOptimizationRules.count(_ == LocalPlans)
    }
    assert(installs(spark) === 1)
    val live = spark.newSession()
    assert(installs(live) === 0)
    GraftExtensions.register(live)
    GraftExtensions.register(live)
    val threads = (1 to 4).map(_ => new Thread(() => GraftExtensions.installRules(live)))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(installs(live) === 1)
    assert(folded(live.createDataFrame(Seq(Row(1L), Row(1L)).asJava,
      StructType(Seq(StructField("id", LongType)))).agg(count(lit(1)))))
    val ext = SparkSession.builder().master("local[4]").appName("graft-rules-test")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false").create()
    GraftExtensions.register(ext)
    assert(installs(ext) === 1)
  }
}
