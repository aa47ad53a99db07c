package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev-only; the driver passes 2): comma-separated
    // query names to restrict the dump to — fast single-query iteration
    val (sfDir, outDir, only) = args match {
      case Array(s, o)         => (s, o, None)
      case Array(s, o, filter) => (s, o, Some(filter.split(',').toSet))
    }
    val selected = only.fold(SparkEntry.queries)(f =>
      SparkEntry.queries.filter { case (k, _) => f(k) })
    val selectedSql = only.fold(SparkEntry.oracleSql)(f =>
      SparkEntry.oracleSql.filter { case (k, _) => f(k) })
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the SQL catalog and LocalPlans, as a session built with
    // spark.sql.extensions=graft.GraftExtensions would have them
    GraftExtensions.register(spark)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      val target = java.nio.file.Paths.get(outDir, name)
      // consumed inside a pin scope: the pins the query makes are freed
      // when its result is written
      try Pinned.scope {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(target.toString)
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave a STALE result dir from a previous
        // run masquerading as this round's output
        Staged.deleteTree(target)
        // ...but it MUST leave a machine-readable marker: in round 9 twelve
        // broken queries were simply ABSENT from the correctness artifact
        // because their dirs vanished — an invisible failure. The driver
        // (and any human) can fold these into err rows.
        errors += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    if (errors.nonEmpty) {
      val body = errors
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/_errors.json"), body)
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: ${failed.mkString(", ")}")
    val json = selectedSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
