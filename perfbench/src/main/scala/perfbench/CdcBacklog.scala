package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.streaming.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** `cdc_backlog`: a seeded backlog of Debezium change events, drained in
  * capped triggers through cdcToLocationInstances into
  * JdbcOutboxSink(location_instances). */
final class CdcBacklog(spark: SparkSession, o: Opts) extends Workload {
  private val perFile = if (o.tiny) 2000 else 10000
  private val events = if (o.tiny) 10000 else 35000 * o.seconds
  private val filesPerTrigger = if (o.tiny) 2 else 5
  private val warmEvents = 2 * perFile
  private val warmDrainEvents = if (o.tiny) 2 * perFile else 10 * perFile

  /** Generated inputs: the backlog directory and the expected rows. */
  private def backlog(tag: String, seed: Long, n: Int): (Path, Path) = {
    val dir = o.work.resolve(s"backlog-$tag")
    val expected = o.work.resolve(s"expected-$tag.tsv")
    Main.python(o.gen("cdc.py"), "--seed", seed.toString, "--events", n.toString,
      "--per-file", perFile.toString, "--out", dir.toString,
      "--expected", expected.toString)(300)
    (dir, expected)
  }

  private val (warmDir, _) = backlog("warm", o.seed * 10 + 9, warmEvents)
  private val phases = ArrayBuffer.empty[(String, Path, TimedSink)]
  private var derby: Derby = _

  /** Drains `dir` into `table` with AvailableNow and the trigger file cap;
    * returns the drain's start and end (epoch ms). */
  private def drain(dir: Path, table: String, tag: String, tracer: Option[Tracer]): (TimedSink, Double, Double) = {
    derby.execute(SinkTables.locationInstances(table))
    val sink = new TimedSink(table, s"ledger_$table", derby)
    sink.spans = tracer.map(_.spans)
    val source = spark.readStream.option("maxFilesPerTrigger", filesPerTrigger.toString)
      .text(dir.toString)
    val t0 = System.currentTimeMillis().toDouble
    val q = Pipeline.start(Pipeline.cdcToLocationInstances(source),
      new Pipeline.RowSink {
        def write(batch: DataFrame, batchId: Long): Unit = sink.write(batch, batchId, "cdc")
      },
      o.work.resolve(s"ckpt-$tag").toString, Trigger.AvailableNow())
    val files = Files.list(dir).iterator().asScala.count(!_.getFileName.toString.startsWith("."))
    tracer.foreach(_.streams.name(q.runId, "cdc",
      rows => files - math.min(files.toLong, rows / perFile)))
    q.awaitTermination()
    (sink, t0, System.currentTimeMillis().toDouble)
  }

  def setup(rep: Int): Unit = {
    derby = new Derby(o.work.resolve(s"cdc-rep$rep-db"))
    derby.create(Nil)
    drain(warmDir, "warm_location_instances", s"warm$rep", None)
  }

  def teardown(): Unit = if (derby != null) derby.shutdown()

  /** One untimed drain, so the measured drain starts with the decode and
    * insert paths compiled. */
  override def warm(): Unit = {
    val (dir, _) = backlog("warm-drain", o.seed * 10 + 8, warmDrainEvents)
    drain(dir, "warm_drain_location_instances", "warm-drain", None)
  }

  def measure(phase: Int, tracer: Option[Tracer]): Phase = {
    val (dir, expected) = backlog(s"phase$phase", o.seed * 10 + phase, events)
    val table = s"location_instances_$phase"
    val (sink, t0, t1) = drain(dir, table, s"phase$phase", tracer)
    phases += ((table, expected, sink))
    // a row's apply latency runs from the start of the sink write that
    // inserted it: the last write to begin before the row's insert, as
    // the stream writes its batches one after another
    val starts = sink.writes.map(_.startMs).sorted.toArray
    val applied = derby.query(s"SELECT inserted_at FROM $table") { rs =>
      val at = SinkTables.insertedMs(rs, "inserted_at")
      val i = java.util.Arrays.binarySearch(starts, at)
      at - starts(if (i >= 0) i else math.max(0, -i - 2))
    }
    val rowsPerS = applied.size / ((t1 - t0) / 1e3)
    Phase(Stats.median(applied), Stats.pct(applied, 0.99), rowsPerS, Seq(
      ("cdc_rows_per_s", rowsPerS, "1/s"),
      ("cdc_apply_p50_ms", Stats.median(applied), "ms"),
      ("cdc_apply_p99_ms", Stats.pct(applied, 0.99), "ms"),
      ("cdc_drain_s", (t1 - t0) / 1e3, "s"),
      ("cdc_rows", applied.size.toDouble, "count")))
  }

  def verify(): Verdict = {
    val problems = ArrayBuffer.empty[String]
    var failed = 0L
    phases.foreach { case (table, expectedFile, _) =>
      if (o.inject.contains("dup_sink_row"))
        derby.execute(s"INSERT INTO $table (gps_id, geo_point, latitude, longitude) " +
          s"SELECT gps_id, geo_point, latitude, longitude FROM $table " +
          "WHERE gps_id = (SELECT MIN(gps_id) FROM " + table + ")")
      val got = derby.query(s"SELECT gps_id, geo_point, latitude, longitude FROM $table") { rs =>
        Seq(rs.getString(1), rs.getString(2), SinkTables.coord(rs.getDouble(3)),
          SinkTables.coord(rs.getDouble(4))).mkString("\t")
      }
      val want = Files.readAllLines(expectedFile).asScala.filter(_.nonEmpty)
      val diff = multisetDiff(want.toSeq, got)
      if (diff._1 > 0) { failed += diff._1; problems += s"${diff._1} expected rows missing from $table" }
      if (diff._2 > 0) { failed += diff._2; problems += s"${diff._2} unexpected or duplicate rows in $table" }
    }
    Verdict(phases.size.toLong * events, failed, problems.toSeq)
  }

  /** (rows of `want` absent from `got`, rows of `got` absent from `want`),
    * counting multiplicity. */
  private def multisetDiff(want: Seq[String], got: Seq[String]): (Long, Long) = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    want.foreach(r => counts(r) = counts.getOrElse(r, 0L) + 1)
    got.foreach(r => counts(r) = counts.getOrElse(r, 0L) - 1)
    (counts.values.filter(_ > 0).sum, -counts.values.filter(_ < 0).sum)
  }

  def layers(tracer: Tracer): Seq[(String, Double)] = {
    val (table, _, sink) = phases.last
    val rows = derby.count(table)
    val allRows = (Seq("warm_location_instances", "warm_drain_location_instances") ++
      phases.map(_._1)).map(derby.count).sum
    val input = tracer.streams.of("cdc").map(_.rows).sum
    Seq(
      "pipeline.cdc_dropped_rows" -> (input - rows).toDouble,
      "pipeline.cdc.stage_ms" -> Stats.median(tracer.streams.of("cdc").map { b =>
        b.durations.getOrElse("addBatch", 0L) - tracer.spans.all
          .filter(s => s.key == s"cdc#${b.batchId}" && s.name == s"sink.$table.write")
          .map(_.durMs).sum
      }),
      "derby.bytes_per_row" -> derby.bytes.toDouble / math.max(1L, allRows)) ++
      tracer.streams.metrics("cdc") ++ sink.metrics("location_instances")
  }
}
