package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** A workload as the run drives it: build its state from the inputs
  * (repeatable; each call replaces the previous state), warm it up once
  * (first calls, reference outputs), run the measured loop until a
  * deadline, release what it holds through the engine's public paths. */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  /** Returns the number of whole rounds (passes) it ran. */
  def run(deadline: Long): Int
  def release(): Unit
  /** DuckDB oracle SQL for each reference output the warm-up wrote. */
  def oracles: Map[String, String]
  /** Closed-loop clients that run ops at once. */
  def clients: Int = 1
}

/** One measured run of one workload. Reads the inputs `run.py`
  * generated, sets the workload up once cold and then `Setups` times
  * warm (the last set-up is the one measured against), warms it up,
  * runs the closed loop for `--seconds`, releases what it holds, and
  * writes everything it observed to `<out>/run.json`.
  *
  *   perfbench.Main --workload W --data DIR --out DIR --seconds S --trace 0|1
  *                  [--script F]  (graph_serve)  [--order a,b,c]  (batch_analytics)
  */
object Main {
  /** Warm set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(spark, traced)

    val w: Workload = workload match {
      case "graph_serve" =>
        val script = Files.readAllLines(Paths.get(a("script")), StandardCharsets.UTF_8)
          .asScala.map(_.split("\t")).toIndexedSeq
        new Serve(spark, data, script, trace)
      case "batch_analytics" => new Batch(spark, data, out, a("order").split(",").toSeq, trace)
      case "stream_ingest" => new Ingest(spark, data, out, trace)
    }

    def timed(f: => Unit): Double = { val s0 = System.nanoTime(); f; (System.nanoTime() - s0) / 1e9 }
    // the first set-up pays class loading and first-call costs; it is
    // reported on its own, so that setup_s is a median of like samples
    val coldSetupS = timed(w.setup())
    val setupS = (0 until Setups).map(_ => timed(w.setup()))
    val warmupS = timed(w.warmup())
    // set-up garbage (superseded snapshots, dropped staged stores) holds
    // pinned blocks until the ContextCleaner sees it collected; collect
    // it now so the window starts from the same residency every run
    System.gc()
    trace.drain()
    val start = trace.now()
    val rounds = w.run(start + (seconds * 1e9).toLong)
    val end = trace.now()
    trace.drain()
    val peak = trace.peakPinned(start, trace.now())
    w.release()
    trace.drain()
    val residual = trace.pinned

    val record = Map(
      "workload" -> workload,
      "session_s" -> sessionS,
      "cold_setup_s" -> coldSetupS,
      "setup_s" -> setupS,
      "clients" -> w.clients,
      "warmup_s" -> warmupS,
      "window" -> Map("start" -> start, "end" -> end, "rounds" -> rounds),
      "pinned" -> Map("peak" -> peak, "residual" -> residual),
      "oracles" -> w.oracles,
      "env" -> Map(
        "nproc" -> cpus,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark" -> spark.version,
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
        "java" -> System.getProperty("java.version"))
    ) ++ trace.record
    trace.close()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(s"$out/run.json"), json.writeValueAsBytes(record))
    spark.stop()
  }
}
