package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.queries.{CoverageQueries, Tables}

/** Bounds for the approximate sketches (no oracle possible) and the
  * source/sink format roundtrips from the SURVEY.md §2.3 scans/sinks row.
  */
class CoverageSpec extends SparkSpec {

  private val dir = TestSpark.sf0001

  test("approx_count_distinct within 5% of exact; approx median within data range") {
    val rows = CoverageQueries.queries("q34_approx_sketches")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_parts").toDouble
      val exact = r.getAs[Long]("exact_parts").toDouble
      assert(math.abs(approx - exact) / exact < 0.05,
        s"HLL error too large: approx=$approx exact=$exact")
      val med = r.getAs[Double]("approx_median_price")
      assert(med > 0)
    }
  }

  test("q40 generator spine ≡ WITH RECURSIVE spine (the unroll law)") {
    // the shipped q40 unrolls the calendar recursion into one sequence()
    // plan; the genuine recursive-CTE surface lives in q40Recursive —
    // same rows, bit for bit, including zero-order months
    val gen = CoverageQueries.queries("q40_recursive_cte")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    val rec = CoverageQueries.q40Recursive(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(gen === rec)
    assert(gen.size > 12, "spine should span the multi-year order range")
  }

  test("sources/sinks: parquet, csv, json, orc roundtrip losslessly") {
    withTempDir("graft_io") { tmp =>
      val src = Tables.t(spark, dir, "nation")
      val n = src.count()

      src.write.mode("overwrite").parquet(s"$tmp/nation_pq")
      val pq = spark.read.parquet(s"$tmp/nation_pq")
      assert(pq.count() === n)
      assert(pq.exceptAll(src).isEmpty && src.exceptAll(pq).isEmpty)

      src.write.mode("overwrite").option("header", "true").csv(s"$tmp/nation_csv")
      val csv = spark.read.option("header", "true").option("inferSchema", "true")
        .csv(s"$tmp/nation_csv")
      assert(csv.count() === n)
      assert(csv.select("n_name").exceptAll(src.select("n_name")).isEmpty)

      src.write.mode("overwrite").json(s"$tmp/nation_json")
      val js = spark.read.json(s"$tmp/nation_json")
      assert(js.count() === n)
      assert(js.select("n_name").exceptAll(src.select("n_name")).isEmpty)

      src.write.mode("overwrite").orc(s"$tmp/nation_orc")
      val orc = spark.read.orc(s"$tmp/nation_orc")
      assert(orc.count() === n)
      assert(orc.exceptAll(src).isEmpty && src.exceptAll(orc).isEmpty)
    }
  }

  test("schema_of_json infers the events props schema for dynamic parsing") {
    // the dynamic-schema flow SURVEY §2.3 declares: sample one JSON value,
    // infer its schema, then from_json the whole column with it
    val ev = Tables.t(spark, dir, "events")
    val sample = ev.select(col("props")).where(col("props").isNotNull)
      .limit(1).collect()(0).getString(0)
    val ddl = ev.select(schema_of_json(lit(sample)).as("s"))
      .limit(1).collect()(0).getString(0)
    assert(ddl.toUpperCase.startsWith("STRUCT"), s"unexpected schema: $ddl")
    // parse with the inferred schema; every non-null props row must parse
    val parsedCount = ev
      .select(from_json(col("props"), org.apache.spark.sql.types.DataType.fromDDL(ddl)).as("p"))
      .where(col("p").isNotNull).count()
    assert(parsedCount === ev.where(col("props").isNotNull).count())
  }

  test("xml source/sink roundtrip preserves rows (built-in since Spark 4)") {
    withTempDir("graft_xml") { tmp =>
      val src = Tables.t(spark, dir, "nation")
      src.write.mode("overwrite").option("rootTag", "nations")
        .option("rowTag", "nation").xml(s"$tmp/nation_xml")
      val re = spark.read.option("rowTag", "nation").xml(s"$tmp/nation_xml")
      assert(re.count() === src.count())
      assert(re.select("n_name").exceptAll(src.select("n_name")).isEmpty)
    }
  }

  test("text source/sink roundtrip preserves lines") {
    withTempDir("graft_text") { tmp =>
      val src = Tables.t(spark, dir, "nation").select(col("n_name").as("value"))
      src.write.mode("overwrite").text(s"$tmp/nation_txt")
      val re = spark.read.text(s"$tmp/nation_txt")
      assert(re.count() === src.count())
      assert(re.exceptAll(src).isEmpty && src.exceptAll(re).isEmpty)
    }
  }

  test("point lookup pushes filters to the parquet scan") {
    val df = Tables.t(spark, dir, "lineitem")
      .where(col("l_orderkey") === 42 && col("l_linenumber") === 1)
      .select(col("l_quantity"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("IsNotNull(l_orderkey)"),
      s"filters not pushed:\n$plan")
    df.collect() // executes
  }

  test("partitionBy sink enables partition pruning on read") {
    // the 100 TB layout contract: a filter on the partition column must
    // become a PartitionFilter (directory pruning — zero data read for
    // excluded partitions), not a post-scan predicate
    withTempDir("graft_part") { tmp =>
      val src = Tables.t(spark, dir, "lineitem")
      src.write.mode("overwrite").partitionBy("l_returnflag")
        .parquet(s"$tmp/lineitem_by_flag")
      val re = spark.read.parquet(s"$tmp/lineitem_by_flag")
      val filtered = re.where(col("l_returnflag") === "R")
      val plan = filtered.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") &&
        plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
          .contains("l_returnflag"),
        s"partition filter not pruned at scan:\n$plan")
      assert(filtered.count() ===
        src.where(col("l_returnflag") === "R").count())
    }
  }
}
