package graft

import org.apache.spark.sql.functions._

/** Runtime scale machinery the engine leans on at 100 TB, proven at test
  * scale (SURVEY.md §4.2): AQE-injected runtime Bloom-filter join pruning
  * (a selective dimension side sends a semi-join filter to the fact scan
  * instead of shipping every fact row to the shuffle) and dynamic
  * partition pruning (a dimension predicate prunes fact partitions at
  * runtime). Both are conf-gated Catalyst features — these tests pin that
  * our plan shapes remain eligible for them.
  */
class ScaleFeaturesSpec extends SparkSpec {

  private val dir = TestSpark.sf0001

  test("runtime bloom filter prunes the fact side of a selective join") {
    withConfs(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // local fixture sizes sit under the production thresholds — drop
      // them so the feature engages at test scale
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val o = spark.read.parquet(s"$dir/orders.parquet")
        .where(col("o_totalprice") > 400000)
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).count()
      val plan = j.queryExecution.optimizedPlan.toString.toLowerCase
      assert(plan.contains("bloom"),
        s"expected a runtime bloom filter on the fact scan:\n$plan")
      assert(j.collect().map(_.getLong(1)).sum > 0)
    }
  }

  test("dynamic partition pruning fires on a partitioned fact table") {
    withTempDir("graft-dpp") { tmp =>
      spark.read.parquet(s"$dir/orders.parquet")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").parquet(s"$tmp/orders_part")
      // the dim must come from a SCAN with a non-foldable predicate — a
      // literal would constant-fold into a static partition filter (also
      // fine, but then nothing is "dynamic")
      // the join key must match the partition column's type exactly — a
      // cast wrapped around o_year disqualifies the scan from DPP
      // the dim predicate must pass Catalyst's isLikelySelective test — a
      // literal equality qualifies, a bare boolean column does not
      spark.range(1992, 2000)
        .select(col("id").cast("int").as("y"),
          when(col("id") % 2 === 0, "even").otherwise("odd").as("cat"))
        .write.parquet(s"$tmp/years")
      // at fixture scale the cost heuristic sees no benefit — force the
      // fallback estimate so the rule's mechanics (not its costing) are
      // under test
      withConfs(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "50.0") {
        val fact = spark.read.parquet(s"$tmp/orders_part")
        val dim = spark.read.parquet(s"$tmp/years").where(col("cat") === "even")
        val j = fact.join(dim, col("o_year") === col("y"))
          .groupBy(col("o_orderstatus")).count()
        val plan = j.queryExecution.executedPlan.toString
        assert(plan.contains("dynamicpruning"),
          s"expected dynamic partition pruning on o_year:\n$plan")
        assert(j.collect().map(_.getLong(1)).sum > 0)
      }
    }
  }
}
