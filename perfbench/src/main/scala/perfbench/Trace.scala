package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Order statistics over a sample. Percentiles are nearest-rank; the
  * median of an even-sized sample is the mean of its two middle values. */
object Stats {
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Minimal JSON rendering for the benchmark's own records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
}

/** One span: a named interval at a layer boundary. `key` groups spans of
  * one fix (its gps_id), one micro-batch (`<query>#<batchId>`) or one
  * query id. Times are epoch milliseconds. */
final case class Span(name: String, key: String, startMs: Double, durMs: Double) {
  def json: String = Json.obj(Seq("name" -> Json.str(name), "key" -> Json.str(key),
    "start_ms" -> Json.num(startMs), "dur_ms" -> Json.num(durMs)))
}

/** Spans kept in memory during the traced phase and written at the end. */
final class Spans {
  private val q = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = q.add(s)
  def timed[T](name: String, key: String)(body: => T): T = {
    val t0 = System.nanoTime(); val w0 = System.currentTimeMillis().toDouble
    try body finally add(Span(name, key, w0, (System.nanoTime() - t0) / 1e6))
  }
  def all: Seq[Span] = q.asScala.toSeq
  def durations(name: String): Seq[Double] = all.filter(_.name == name).map(_.durMs)
  def write(path: Path): Unit =
    Files.write(path, all.sortBy(_.startMs).map(_.json).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
}

/** Scheduler and executor counters from Spark's public SparkListener. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks, singleTaskStages = new AtomicLong
  val runMs, cpuNs, shuffleRead, shuffleWrite, spill, input, gcMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    if (e.stageInfo.numTasks == 1) singleTaskStages.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  /** The per-layer `spark.*` metrics of a phase of `wallS` seconds on
    * `cores` that did `units` units of work (query executions or
    * micro-batches): every total is per unit, so a phase that gets through
    * more work in its time does not read as costlier. `core_use` is the
    * share of the cores' time spent running tasks. */
  def metrics(wallS: Double, cores: Int, units: Long): Seq[(String, Double)] = {
    val n = math.max(1L, units).toDouble
    Seq(
      "spark.jobs" -> jobs.get / n,
      "spark.stages" -> stages.get / n,
      "spark.tasks" -> tasks.get / n,
      "spark.single_task_stages" -> singleTaskStages.get / n,
      "spark.executor_run_s" -> runMs.get / 1e3 / n,
      "spark.executor_cpu_s" -> cpuNs.get / 1e9 / n,
      "spark.core_use" -> (if (wallS > 0) runMs.get / 1e3 / (wallS * cores) else 0.0),
      "spark.shuffle_read_bytes" -> shuffleRead.get / n,
      "spark.shuffle_write_bytes" -> shuffleWrite.get / n,
      "spark.spill_bytes" -> spill.get / n,
      "spark.input_bytes" -> input.get / n,
      "spark.gc_s" -> gcMs.get / 1e3 / n)
  }
}

/** One completed micro-batch as StreamingQueryProgress reports it. */
final case class BatchProgress(query: String, batchId: Long, startMs: Double,
    durations: Map[String, Long], rows: Long, lagFiles: Long)

/** Micro-batch phases from Spark's public StreamingQueryListener. Queries
  * are named by the benchmark (`name(runId, ...)`), which also says how
  * to count the source files still waiting when a batch completes. */
final class StreamTrace extends StreamingQueryListener {
  private val names = mutable.Map.empty[UUID, (String, Long => Long)]
  private val seen = mutable.Map.empty[String, Long]
  private val batches = new ConcurrentLinkedQueue[BatchProgress]()

  /** `lag(rows)` returns the source files waiting once `rows` input rows
    * of the query have been counted since tracing began. */
  def name(runId: UUID, query: String, lag: Long => Long): Unit =
    synchronized(names(runId) = (query, lag))

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val named = synchronized(names.get(p.runId))
    if (p.numInputRows > 0) named.foreach { case (query, lag) =>
      val consumed = synchronized {
        val n = seen.getOrElse(query, 0L) + p.numInputRows
        seen(query) = n; n
      }
      batches.add(BatchProgress(query, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, lag(consumed)))
    }
  }

  /** Micro-batches with input, over every named query. */
  def batchCount: Int = batches.size

  def of(query: String): Seq[BatchProgress] =
    batches.asScala.toSeq.filter(_.query == query).sortBy(_.batchId)

  /** The per-layer `stream.<query>.*` metrics. Phase times are medians
    * per batch; trigger time also as p90 and total. */
  def metrics(query: String): Seq[(String, Double)] = {
    val bs = of(query)
    def phase(k: String) = bs.map(_.durations.getOrElse(k, 0L).toDouble)
    val trig = phase("triggerExecution")
    val p = s"stream.$query."
    Seq(
      p + "latest_offset_ms" -> Stats.median(phase("latestOffset")),
      p + "get_batch_ms" -> Stats.median(phase("getBatch")),
      p + "query_planning_ms" -> Stats.median(phase("queryPlanning")),
      p + "add_batch_ms" -> Stats.median(phase("addBatch")),
      p + "wal_commit_ms" -> Stats.median(phase("walCommit")),
      p + "commit_offsets_ms" -> Stats.median(phase("commitOffsets")),
      p + "trigger_ms_p50" -> Stats.median(trig),
      p + "trigger_ms_p90" -> Stats.pct(trig, 0.9),
      p + "trigger_ms_total" -> trig.sum,
      p + "batches" -> bs.size.toDouble,
      p + "rows_per_batch_p50" -> Stats.median(bs.map(_.rows.toDouble)),
      p + "source_lag_files" -> Stats.median(bs.map(_.lagFiles.toDouble)))
  }

  /** Spans for every batch: one per phase, keyed `<query>#<batchId>`. */
  def spans: Seq[Span] = batches.asScala.toSeq.flatMap { b =>
    b.durations.toSeq.map { case (k, v) =>
      Span(s"stream.${b.query}.$k", s"${b.query}#${b.batchId}", b.startMs, v.toDouble)
    }
  }
}

/** Everything the traced phase records from outside the program. */
final class Tracer {
  val spans = new Spans
  val spark = new SparkCounters
  val streams = new StreamTrace
}
