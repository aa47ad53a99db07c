package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Sketch

/** Laws of the sketch-prefiltered exact operators: the sketch may only
  * change HOW MUCH intermediate data flows, never the answer. Every test
  * deliberately under-sizes the sketch (coarse eps / high fpp) so false
  * positives actually occur and the exact repair pass is exercised — a
  * generously-sized sketch would make these laws pass vacuously.
  */
class SketchSpec extends SparkSpec {

  import spark.implicits._

  // Zipf-ish corpus: key k_i appears ~N/i times — a heavy head and a long
  // tail of near-threshold keys, the adversarial regime for a CMS
  // (tail keys sit just under the cut; any collision pushes them over)
  private lazy val zipf: DataFrame = {
    val rows = for {
      i <- 1 to 400
      n <- 1 to math.max(1, 2000 / i)
    } yield s"k_$i"
    rows.toDF("term")
  }

  private def naiveHeavy(df: DataFrame, threshold: Long): Set[(String, Long)] =
    df.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= threshold)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  test("heavyHitters equals the naive groupBy exactly, even with a coarse sketch") {
    for (threshold <- Seq(10L, 40L, 200L)) {
      val naive = naiveHeavy(zipf, threshold)
      // eps=0.05 → width ~55 buckets for ~400 distinct keys: collisions
      // guaranteed, so the prefilter WILL pass false positives.
      // Regime.atScale FORCES the probe branch — the zipf fixture's
      // vocabulary is small enough that the auto dispatch would (rightly)
      // pick the naive plan and make this law vacuous
      val sketched = Regime.atScale(
          Sketch.heavyHitters(zipf, "term", threshold, eps = 0.05))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(sketched === naive, s"threshold=$threshold diverged")
    }
  }

  // distributed copy for plan-shape assertions: over a LocalRelation the
  // optimizer (ConvertToLocalRelation) evaluates the probe filter at plan
  // time and it vanishes from the physical plan
  private lazy val zipfDist: DataFrame =
    zipf.repartition(2).localCheckpoint(true)

  test("regime dispatch: small vocabulary skips the probe, forced fanout keeps it") {
    // zipf: ~400 distinct keys, totalCount/threshold bound ~330 at
    // threshold=40 — the naive exchange is already heavy-set-sized, so the
    // auto dispatch must NOT spend a probe pass
    val auto = Sketch.heavyHitters(zipfDist, "term", 40L, eps = 0.05)
    assert(!auto.queryExecution.executedPlan.toString.contains("cms_at_least"),
      "small-vocab input should dispatch to the naive plan (no probe)")
    val forced = Regime.atScale(
      Sketch.heavyHitters(zipfDist, "term", 40L, eps = 0.05))
    assert(forced.queryExecution.executedPlan.toString.contains("cms_at_least"),
      "Regime.atScale must force the probe branch")
    // and both regimes agree exactly (the dispatch may only change cost)
    assert(auto.collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      forced.collect().map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("regime dispatch: expectedVocab hint above the floor engages the probe") {
    // ~5k distinct tail keys: without a hint (or with a sub-floor hint)
    // the one-pass naive plan runs; a hint above the floor switches to
    // the sketch plan — and both produce the identical exact answer
    val wide = spark.range(10000).select(
      when(pmod(col("id"), lit(2)) === 0, lit("hot"))
        .otherwise(concat(lit("t"), col("id").cast("string"))).as("term"))
      .repartition(2).localCheckpoint(true)
    val auto = Sketch.heavyHitters(wide, "term", 500L, eps = 0.05)
    assert(!auto.queryExecution.executedPlan.toString.contains("cms_at_least"),
      "no hint must dispatch to the one-pass naive plan")
    val hinted = Sketch.heavyHitters(wide, "term", 500L, eps = 0.05,
      expectedVocab = Some(Sketch.SmallVocabMax + 1))
    assert(hinted.queryExecution.executedPlan.toString.contains("cms_at_least"),
      "an above-floor hint must engage the probe plan")
    val subFloor = Sketch.heavyHitters(wide, "term", 500L, eps = 0.05,
      expectedVocab = Some(5000L)) // default floor 2M: hint below it
    assert(!subFloor.queryExecution.executedPlan.toString.contains("cms_at_least"))
    assert(auto.collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      hinted.collect().map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("probe runs codegen'd, not as a ScalaUDF") {
    val forced = Regime.atScale(
      Sketch.heavyHitters(zipfDist, "term", 40L, eps = 0.05))
    val p = forced.queryExecution.executedPlan.toString
    assert(p.contains("cms_at_least"), s"probe missing from plan:\n$p")
    assert(!p.contains("ScalaUDF"), s"probe fell back to a UDF:\n$p")
  }

  test("CMS prefilter is a superset of the true heavy set (no false negatives)") {
    val threshold = 40L
    val cms = zipf.stat.countMinSketch("term", 0.05, 0.9, 42)
    val trueHeavy = naiveHeavy(zipf, threshold).map(_._1)
    trueHeavy.foreach { k =>
      assert(cms.estimateCount(k) >= threshold,
        s"true heavy hitter $k undercounted — CMS one-sidedness violated")
    }
    // and the under-sizing did its job: at least one NON-heavy key passes
    // the prefilter (else the exact-repair law above proves nothing)
    val allKeys = zipf.select(col("term")).distinct().as[String].collect()
    val fps = allKeys.filterNot(trueHeavy)
      .count(k => cms.estimateCount(k) >= threshold)
    assert(fps > 0, "sketch too accurate for this law to bite — shrink eps")
  }

  test("heavyHittersByShare: threshold = ceil(share * N), share column exact") {
    val total = zipf.count()
    val minShare = 0.005
    val threshold = math.ceil(total * minShare).toLong
    val byShare = Regime.atScale(
        Sketch.heavyHittersByShare(zipf, "term", minShare, eps = 0.05))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(byShare === naiveHeavy(zipf, threshold))
  }

  test("heavyHitters rejects non-string keys loudly") {
    val numeric = (1 to 100).map(_.toLong % 7).toDF("term")
    val e = intercept[IllegalArgumentException] {
      Sketch.heavyHitters(numeric, "term", 5L)
    }
    assert(e.getMessage.contains("STRING key"))
  }

  // ---- bloomJoin: exact semi/anti under a deliberately saturated filter

  private lazy val big = (1 to 3000).map(i => (i.toLong, s"key_${i % 600}"))
    .toDF("row_id", "k")
  private lazy val small = (0 until 40).map(i => s"key_${i * 3}").toDF("k")

  private def rowSet(df: DataFrame): Set[(Long, String)] =
    df.select(col("row_id"), col("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("bloomJoin semi/anti equal the plain joins under a high-fpp filter") {
    // expectedKeys=10 for 40 actual keys at fpp 0.3: saturated filter,
    // false positives near-certain on the 560 non-matching keys
    val semi = Sketch.bloomJoin(big, small, "k", "semi",
      expectedKeys = 10L, fpp = 0.3)
    val anti = Sketch.bloomJoin(big, small, "k", "anti",
      expectedKeys = 10L, fpp = 0.3)
    assert(rowSet(semi) === rowSet(big.join(small.distinct(), Seq("k"), "left_semi")))
    assert(rowSet(anti) === rowSet(big.join(small.distinct(), Seq("k"), "left_anti")))
    // partition law: semi ∪ anti = big, disjoint
    assert(rowSet(semi).intersect(rowSet(anti)).isEmpty)
    assert(rowSet(semi).union(rowSet(anti)) === rowSet(big))
  }

  test("bloomJoin anti emits filter MISSES without consulting the join") {
    // a miss proves non-membership: every emitted row must genuinely not
    // match — checked by the plain-anti equality above; here pin the
    // volume claim the scaladoc makes: misses + hits = big row count
    val bf = small.stat.bloomFilter("k", 10L, 0.3)
    val bcHits = big.collect().count(r => bf.mightContain(r.getString(1)))
    assert(bcHits < big.count(),
      "every big row passed the filter — fpp law can't be observed")
  }

  test("CMS prefilter shrinks the aggregation exchange to ~the heavy set") {
    // the scale claim as a measured property, not a comment: the naive
    // plan's partial aggregation still shuffles one partial row per
    // (partition, distinct key) — vocabulary-sized when the tail is wide —
    // while the sketched plan's exchange carries only heavy + FP partials.
    // 100k rows: 20 heavy keys (~2.5k each) + ~50k singleton tail keys.
    val keyed = spark.range(100000).select(
      when(pmod(col("id"), lit(2)) === 0,
        concat(lit("h"), pmod(col("id"), lit(20)).cast("string")))
        .otherwise(concat(lit("t"), col("id").cast("string"))).as("term"))
      .repartition(4).localCheckpoint(true)
    val threshold = 1000L
    import org.apache.spark.sql.execution.SparkPlan
    def exchangeRows(df: DataFrame): Long = {
      df.collect()
      val root = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      // AQE wraps finished stages in QueryStageExec leaves — walk explicitly
      def exch(p: SparkPlan): Seq[Long] = p match {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.metrics("shuffleRecordsWritten").value +: e.children.flatMap(exch)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          exch(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          exch(r.child)
        case other => other.children.flatMap(exch)
      }
      exch(root).sum
    }
    val naiveRows = exchangeRows(
      keyed.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= threshold))
    // forced to scale: the 50k-key fixture models the big-vocab regime
    // at toy scale — without it the dispatcher would rightly pick the
    // one-pass naive plan and make this shrink law vacuous
    val sketchedRows = exchangeRows(Regime.atScale(
      Sketch.heavyHitters(keyed, "term", threshold, eps = 1e-4)))
    // at eps=1e-4 the overcount bound is ~10 on 100k instances — no tail
    // key near the 1000 cut survives, so the sketched exchange is ~20
    // keys × ≤4 partitions vs ~50k tail partials for the naive plan
    assert(naiveRows > 10000L,
      s"naive exchange carried only $naiveRows rows — fixture tail too narrow")
    assert(sketchedRows < naiveRows / 100,
      s"prefilter did not shrink the exchange: naive=$naiveRows sketched=$sketchedRows")
  }

  test("bloomJoin anti evaluates the big side exactly once") {
    // round-10 shape scanned `big` twice (miss branch + hit branch): in
    // t31 that pipeline is a full corpus shingle explode, and a
    // non-deterministic big side would break the partition law. Count
    // actual evaluations with an accumulator inside the key pipeline.
    val acc = spark.sparkContext.longAccumulator("bigEvals")
    val keyOf = udf { i: Long => acc.add(1L); s"key_${i % 600}" }
    val bigCounted = spark.range(3000)
      .select(col("id").as("row_id"), keyOf(col("id")).as("k"))
    val anti = Sketch.bloomJoin(bigCounted, small, "k", "anti",
      expectedKeys = 10L, fpp = 0.3)
    val n = anti.count()
    assert(acc.value === 3000L,
      s"big side evaluated ${acc.value} times for 3000 rows — must be once")
    // and it is still the exact anti join
    assert(n === big.join(small.distinct(), Seq("k"), "left_anti").count())
  }

  test("bloomJoin keeps null big-side keys in the anti output (plain LEFT ANTI law)") {
    val bigWithNull = big.unionByName(
      Seq((9999L, null.asInstanceOf[String])).toDF("row_id", "k"))
    val anti = Sketch.bloomJoin(bigWithNull, small, "k", "anti",
      expectedKeys = 10L, fpp = 0.3)
    val plain = bigWithNull.join(small.distinct(), Seq("k"), "left_anti")
    assert(anti.count() === plain.count())
    assert(anti.where(col("k").isNull).count() === 1L,
      "null key must survive anti (it matches nothing)")
    val semi = Sketch.bloomJoin(bigWithNull, small, "k", "semi",
      expectedKeys = 10L, fpp = 0.3)
    assert(semi.where(col("k").isNull).count() === 0L,
      "null key must not match in semi")
  }

  test("bloomJoin rejects unknown join types") {
    val e = intercept[IllegalArgumentException] {
      Sketch.bloomJoin(big, small, "k", "inner")
    }
    assert(e.getMessage.contains("semi"))
  }
}
