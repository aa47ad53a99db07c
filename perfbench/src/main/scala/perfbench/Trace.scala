package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Everything the benchmark observes, kept in memory and written once at
  * the end of the run. All observation happens from outside the engine:
  * op samples and spans are recorded around calls into its public
  * functions, Spark work is attributed to a span through the job group
  * the span sets, micro-batch phases come from a StreamingQueryListener
  * and block residency from block-update and unpersist events.
  *
  * Op samples, micro-batch progress and block residency are recorded in
  * every run (they feed the end-to-end metrics). Spans and per-job
  * counters are recorded only when `traced`.
  */
final class Trace(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val origin: Long = System.nanoTime()
  def now(): Long = System.nanoTime() - origin

  import Trace._

  // ------------------------------------------------------------ op samples
  private val samples = new ConcurrentLinkedQueue[Sample]

  /** Time one op. `check` turns the op's result into None (correct) or
    * Some(reason); an exception or a wrong result marks the op failed. */
  def op[T](kind: String, label: String)(body: => T)(check: T => Option[String]): Unit = {
    val opId = nextId.getAndIncrement()
    val t0 = now()
    val outcome =
      try {
        val r = span(s"op.$kind", opId)(body)
        Right(r)
      } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = now()
    val err = outcome match {
      case Left(e)  => Some(e)
      case Right(r) => try check(r) catch { case e: Exception => Some(e.toString) }
    }
    samples.add(Sample(kind, label, t0, t1, err.isEmpty, err.getOrElse("")))
  }

  // ----------------------------------------------------------------- spans
  final class Span(val id: Long, val name: String, val parent: Long, val opId: Long,
      val start: Long, val startMs: Long) {
    @volatile var end: Long = -1L
    val pinnedAtStart: Long = pinnedBytes
    @volatile var pinnedAtEnd: Long = 0L
    val extra = mutable.LinkedHashMap.empty[String, Double]
  }
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val current = new ThreadLocal[Span]

  /** Run `body` inside a span named `name`. Untraced runs skip the
    * bookkeeping entirely. Jobs submitted by this thread while the span
    * is innermost carry its id as their job group. */
  def span[T](name: String, opId: Long = -1L)(body: => T): T =
    if (!traced) body
    else {
      val parent = current.get()
      val op = if (opId >= 0) opId else if (parent != null) parent.opId else -1L
      val s = new Span(nextId.getAndIncrement(), name,
        if (parent == null) -1L else parent.id, op, now(), System.currentTimeMillis())
      spans.add(s)
      current.set(s)
      sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.end = now()
        s.pinnedAtEnd = pinnedBytes
        current.set(parent)
        if (parent == null) sc.clearJobGroup()
        else sc.setJobGroup(s"pb-${parent.id}", parent.name, interruptOnCancel = false)
      }
    }

  /** Attach a counter to the innermost open span (traced runs only). */
  def note(key: String, v: Double): Unit =
    if (traced) Option(current.get()).foreach(_.extra(key) = v)

  // -------------------------------------------- Spark work per job group
  private final class Work {
    var jobs, stages, tasks = 0L
    var cpuNs, gcMs, shuffleW, spill = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val byGroup = mutable.HashMap.empty[String, Work]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("none")
      byGroup.synchronized {
        byGroup.getOrElseUpdate(g, new Work).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      byGroup.synchronized {
        stageGroup.get(e.stageInfo.stageId).foreach(g => byGroup(g).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = byGroup.synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val w = byGroup(g)
        w.tasks += 1
        w.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        Option(e.taskMetrics).foreach { m =>
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleW += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  // ------------------------------------------------------ block residency
  // RDD blocks only: cache, persist and localCheckpoint blocks, the ones
  // the engine pins and must release. Broadcast pieces are left to the
  // GC-driven ContextCleaner and would make residency a GC measurement.
  // An unpersisted RDD's blocks are dropped without per-block updates, so
  // the RDD-level unpersist event clears them.
  private val blocks = mutable.HashMap.empty[Int, mutable.HashMap[String, Long]]
  @volatile private var pinnedBytes = 0L
  private val pinnedSeries = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile private var blockEvents = 0L

  private def moved(): Unit = {
    pinnedSeries += ((now(), pinnedBytes))
    blockEvents += 1
  }

  private val blockListener = new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      info.blockId.asRDDId.foreach { id => blocks.synchronized {
        val rdd = blocks.getOrElseUpdate(id.rddId, mutable.HashMap.empty)
        val key = s"${info.blockManagerId.executorId}/${id.name}"
        val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        pinnedBytes += bytes - rdd.getOrElse(key, 0L)
        if (bytes == 0L) rdd.remove(key) else rdd(key) = bytes
        moved()
      } }
    }
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = blocks.synchronized {
      blocks.remove(e.rddId).foreach { rdd =>
        pinnedBytes -= rdd.values.sum
        moved()
      }
    }
  }
  def pinned: Long = pinnedBytes

  /** Highest pinned total observed in [from, to] (relative ns). */
  def peakPinned(from: Long, to: Long): Long = blocks.synchronized {
    val before = pinnedSeries.takeWhile(_._1 < from).lastOption.map(_._2).getOrElse(0L)
    (before +: pinnedSeries.collect { case (t, b) if t >= from && t <= to => b }).max
  }

  // ------------------------------------------------ micro-batch progress
  private val ticks = new ConcurrentLinkedQueue[Tick]
  private val runLabel = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]
  @volatile var streamLabel: String = "none"
  private val started, terminated = new AtomicLong(0)

  private val streamListener = new StreamingQueryListener {
    // onQueryStarted runs synchronously inside start(), on the thread that
    // is running the drain, so the label set around the drain is current
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      runLabel.put(e.runId, streamLabel)
      started.incrementAndGet()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        ticks.add(Tick(runLabel.getOrDefault(p.runId, "none"),
          d.getOrElse("triggerExecution", 0L), d, p.numInputRows, now()))
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.incrementAndGet()
  }

  sc.addSparkListener(blockListener)
  spark.streams.addListener(streamListener)
  if (traced) sc.addSparkListener(jobListener)

  /** Wait until the asynchronous listener buses have delivered what the
    * run produced: every started stream reported termination and no
    * block update arrived for a short quiet period. */
  def drain(timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var quiet = 0
    while (System.currentTimeMillis() < deadline && quiet < 3) {
      Thread.sleep(100)
      val n = blockEvents + ticks.size
      if (n == last && terminated.get() >= started.get()) quiet += 1 else quiet = 0
      last = n
    }
  }

  def close(): Unit = {
    sc.removeSparkListener(blockListener)
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  // --------------------------------------------------------------- record
  def record: Map[String, Any] = {
    val sampleRows = samples.asScala.toSeq.sortBy(_.start).map { s =>
      Seq(s.kind, s.label, s.start, s.end, s.ok, s.err)
    }
    val tickRows = ticks.asScala.toSeq.sortBy(_.at).map { t =>
      Map("label" -> t.label, "trigger_ms" -> t.triggerMs, "rows" -> t.rows,
        "at" -> t.at, "phases" -> t.phases)
    }
    val spanRows = if (!traced) Seq.empty else byGroup.synchronized {
      spans.asScala.toSeq.sortBy(_.start).map { s =>
        val w = byGroup.getOrElse(s"pb-${s.id}", new Work)
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.opId,
          "start" -> s.start, "end" -> s.end, "start_ms" -> s.startMs,
          "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
          "cpu_ns" -> w.cpuNs, "gc_ms" -> w.gcMs, "shuffle_write_bytes" -> w.shuffleW,
          "spill_bytes" -> w.spill,
          // launch and finish (epoch ms) of the span's own tasks
          "task_ms" -> w.intervals.map { case (a, b) => Seq(a, b) }.toSeq,
          "pinned_start" -> s.pinnedAtStart, "pinned_end" -> s.pinnedAtEnd,
          "pinned_peak" -> peakPinned(s.start, s.end),
          "extra" -> s.extra)
      }
    }
    Map("samples" -> sampleRows, "ticks" -> tickRows, "spans" -> spanRows)
  }
}

object Trace {
  final case class Sample(kind: String, label: String, start: Long, end: Long,
      ok: Boolean, err: String)
  final case class Tick(label: String, triggerMs: Long, phases: Map[String, Long],
      rows: Long, at: Long)
}
