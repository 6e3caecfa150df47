package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.streaming.{HttpIngress, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** One POST as the load generator reports it. */
final case class Post(seq: Long, kind: String, status: Int, dueUs: Long,
    ackMs: Double, lateMs: Double, gpsId: String)

object Post {
  def read(p: Path): Vector[Post] =
    Files.readAllLines(p).asScala.toVector.filter(_.nonEmpty).map { l =>
      val f = l.split("\t")
      Post(f(0).toLong, f(1), f(2).toInt, f(3).toLong, f(4).toDouble, f(5).toDouble, f(6))
    }
  /** Sequence number and creation time (epoch ms) encoded in a gps_id. */
  def parseId(gpsId: String): (Long, Double) = {
    val slash = gpsId.lastIndexOf('/')
    val t = java.time.Instant.parse(gpsId.substring(0, slash))
    (gpsId.substring(slash + 1).toLong, t.getEpochSecond * 1e3 + t.getNano / 1e6)
  }
}

/** The benchmark's stand-in for Debezium: after each committed ingress
  * batch it reads the new `gps_raw` rows (by their identity column) and
  * writes their after-images as one JSON-lines file, renamed into the
  * CDC directory atomically. */
final class CdcFeed(derby: Derby, out: Path, tmp: Path) {
  Files.createDirectories(out); Files.createDirectories(tmp)
  private var lastSeq = 0L
  private var files = 0
  val fileRows = ArrayBuffer.empty[Long]
  @volatile var spans: Option[Spans] = None

  def emit(batchId: Long): Unit = spans match {
    case Some(s) => s.timed("cdcfeed.emit", s"ingress#$batchId")(write())
    case None => write()
  }

  private def write(): Unit = {
    val rows = derby.query(
      "SELECT seq, id, deviceId, heading, speed, accuracy, altitude, latitude, longitude " +
        s"FROM gps_raw WHERE seq > $lastSeq ORDER BY seq") { rs =>
      val after = Seq("heading", "speed", "accuracy", "altitude", "latitude", "longitude")
        .zipWithIndex.map { case (f, i) => s""""$f":${rs.getDouble(i + 4)}""" }
        .mkString(s"""{"id":${Json.str(rs.getString(2))},"deviceId":${Json.str(rs.getString(3))},""", ",", "}")
      rs.getLong(1) -> ("""{"schema":{"type":"struct","name":"gps.public.gps_raw.Envelope"},""" +
        s""""payload":{"before":null,"after":$after,"op":"c","ts_ms":${System.currentTimeMillis()}}}""")
    }
    if (rows.nonEmpty) {
      files += 1
      val name = f"cdc-$files%06d.json"
      Files.write(tmp.resolve(name), rows.map(_._2).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      Files.move(tmp.resolve(name), out.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      lastSeq = rows.last._1
      fileRows += rows.size
    }
  }
}

/** `fleet_http`: an open-loop fleet POSTs fixes to `HttpIngress`; each fix
  * runs the whole chain spool → ingress stream → ingressWithDeadLetter →
  * JdbcOutboxSink(gps_raw, dead_letter) → CDC stand-in → CDC stream →
  * cdcToLocationInstances → JdbcOutboxSink(location_instances). */
final class FleetHttp(spark: SparkSession, o: Opts) extends Workload {
  private val rate = if (o.tiny) 100.0 else 50.0
  private val count = if (o.tiny) 1000 else (rate * o.seconds).toInt
  /** The ingress stream triggers on a fixed interval, longer than one
    * trigger takes at the offered rate, so every batch holds the same
    * span of arrivals and latency does not depend on how batch sizes
    * drift. The CDC stream triggers as soon as the feed writes a file. */
  private val IngressTriggerMs = 2000L

  private final class Env(rep: Int) {
    val dir: Path = o.work.resolve(s"fleet-rep$rep")
    val derby = new Derby(dir.resolve("db"))
    derby.create(Seq(
      """CREATE TABLE gps_raw (seq BIGINT GENERATED ALWAYS AS IDENTITY,
        |  id VARCHAR(64), deviceId VARCHAR(64), heading DOUBLE, speed DOUBLE,
        |  accuracy DOUBLE, altitude DOUBLE, latitude DOUBLE, longitude DOUBLE)""".stripMargin,
      "CREATE TABLE dead_letter (raw VARCHAR(4000), addr VARCHAR(128), reason VARCHAR(64))",
      SinkTables.locationInstances("location_instances")))
    val raw = new TimedSink("gps_raw", "ledger_gps_raw", derby)
    val dlq = new TimedSink("dead_letter", "ledger_dead_letter", derby)
    val loc = new TimedSink("location_instances", "ledger_location", derby)
    val spool: Path = dir.resolve("spool")
    val cdcDir: Path = dir.resolve("cdc")
    val feed = new CdcFeed(derby, cdcDir, dir.resolve("feed-tmp"))
    val endpoint: HttpIngress.Endpoint = HttpIngress.start(spool.toString, 0)

    val ingress: StreamingQuery = Pipeline.start(
      HttpIngress.spoolStream(spark, spool.toString),
      new Pipeline.RowSink {
        def write(batch: DataFrame, batchId: Long): Unit = {
          val (ok, dead) = Pipeline.ingressWithDeadLetter(batch)
          raw.write(ok.drop("addr"), batchId, "ingress")
          dlq.write(dead, batchId, "ingress")
          feed.emit(batchId)
        }
      },
      dir.resolve("ckpt-ingress").toString, Trigger.ProcessingTime(IngressTriggerMs))
    val cdc: StreamingQuery = Pipeline.start(
      Pipeline.cdcToLocationInstances(spark.readStream.text(cdcDir.toString)),
      new Pipeline.RowSink {
        def write(batch: DataFrame, batchId: Long): Unit = loc.write(batch, batchId, "cdc")
      },
      dir.resolve("ckpt-cdc").toString, Trigger.ProcessingTime(0L))

    val posts = ArrayBuffer.empty[Post]

    def files(d: Path): Seq[Path] = {
      val s = Files.list(d)
      try s.iterator().asScala.filterNot(_.getFileName.toString.startsWith(".")).toVector
      finally s.close()
    }
    def failure: Option[String] =
      Seq(ingress, cdc).flatMap(q => Option(q.exception.orNull)).headOption.map(_.toString)
    def stop(): Unit = {
      Seq(ingress, cdc).foreach(q => try q.stop() catch { case _: Exception => () })
      endpoint.stop()
      derby.shutdown()
    }
  }

  private var env: Env = _
  /** The POSTs of the last measured phase. */
  private var lastPosts = Vector.empty[Post]
  /** `counts()` as the traced phase began, so its layer counts leave out
    * the rows and files of earlier phases. */
  private var atTrace = Map.empty[String, Long]

  private def reasons(): Map[String, Long] =
    env.derby.query("SELECT reason, COUNT(*) FROM dead_letter GROUP BY reason")(
      rs => rs.getString(1) -> rs.getLong(2)).toMap

  private def counts(): Map[String, Long] =
    reasons().map { case (r, n) => s"dead_letter.$r" -> n } ++ Map(
      "spool_files" -> env.files(env.spool).size.toLong,
      "feed_rows" -> env.feed.fileRows.sum,
      "gps_raw" -> env.derby.count("gps_raw"),
      "location_instances" -> env.derby.count("location_instances"))

  /** Drives `n` POSTs at `r`/s through the load generator and waits until
    * every accepted fix has reached location_instances. */
  private def load(seed: Long, n: Int, r: Double, seqBase: Long, tag: String): Vector[Post] = {
    val out = env.dir.resolve(s"posts-$tag.tsv")
    Main.python(o.gen("fleet.py"), "--seed", seed.toString, "--port", env.endpoint.port.toString,
      "--count", n.toString, "--rate", r.toString, "--seq-base", seqBase.toString,
      "--out", out.toString)((n / r).toLong + 120)
    val posts = Post.read(out)
    env.posts ++= posts
    val ok = env.posts.count(p => p.kind == "ok" && p.status == 200)
    val incomplete = env.posts.count(p => p.kind == "incomplete" && p.status == 200)
    try Main.await(s"$tag fixes to reach location_instances", 90) {
      env.failure.foreach(e => throw new IllegalStateException(e))
      env.derby.count("location_instances") >= ok && env.derby.count("dead_letter") >= incomplete
    } catch { case e: IllegalStateException => System.err.println(e.getMessage) }
    posts
  }

  def setup(rep: Int): Unit = {
    env = new Env(rep)
    Main.await("streams to start", 60) {
      env.failure.foreach(e => throw new IllegalStateException(e))
      Seq(env.ingress, env.cdc).forall(q => q.isActive && !q.status.isTriggerActive &&
        Set("Waiting for data to arrive", "Waiting for next trigger")(q.status.message))
    }
  }

  def teardown(): Unit = if (env != null) env.stop()

  override def warm(): Unit =
    load(o.seed * 10 + 8, (rate * 3).toInt, rate, 900000L, "warm")

  def measure(phase: Int, tracer: Option[Tracer]): Phase = {
    val phaseStartMs = System.currentTimeMillis()
    if (tracer.isDefined) atTrace = counts()
    val spans = tracer.map(_.spans)
    Seq(env.raw, env.dlq, env.loc).foreach(_.spans = spans)
    env.feed.spans = spans
    tracer.foreach { t =>
      // every spooled file becomes one gps_raw or dead_letter row, and a
      // feed file is applied once location_instances holds all its rows
      t.streams.name(env.ingress.runId, "ingress", _ =>
        env.files(env.spool).size - env.derby.count("gps_raw") - env.derby.count("dead_letter"))
      t.streams.name(env.cdc.runId, "cdc", { _ =>
        val applied = env.derby.count("location_instances")
        env.files(env.cdcDir).size - env.feed.fileRows.scanLeft(0L)(_ + _).tail.count(_ <= applied)
      })
    }
    val base = (phase + 1) * 1000000L
    val posts = load(o.seed * 10 + phase, count, rate, base, s"phase$phase")
    // the streams' own cost per fix: for each stream, the median over the
    // phase's triggers with input of trigger time per fix they committed, as
    // the query reports the time once the trigger has finished. Fixes are
    // counted from the sinks' ledgers by batch id, not by the source's
    // input rows, which count every scan of the batch. A fix passes both
    // streams, so the chain's capacity is 1 / (ingress + cdc cost). The
    // median keeps the part-filled first and last triggers out.
    val streams = Seq(env.ingress -> Seq(env.raw, env.dlq), env.cdc -> Seq(env.loc))
    streams.foreach { case (q, _) =>
      Main.await("the last trigger to finish", 30)(!q.status.isTriggerActive) }
    val msPerFix = streams.map { case (q, sinks) =>
      val fixes = sinks.flatMap(_.committedRows.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
      Stats.median(q.recentProgress.toSeq.filter(p => p.numInputRows > 0 &&
        java.time.Instant.parse(p.timestamp).toEpochMilli >= phaseStartMs)
        .flatMap(p => fixes.get(p.batchId).filter(_ > 0)
          .map(n => p.durationMs.get("triggerExecution").doubleValue / n)))
    }.sum
    val capacity = if (msPerFix > 0) 1e3 / msPerFix else 0.0
    val arrived = env.derby.query("SELECT gps_id, inserted_at FROM location_instances") { rs =>
      (rs.getString(1), SinkTables.insertedMs(rs, "inserted_at"))
    }.flatMap { case (id, at) =>
      val (seq, createdMs) = Post.parseId(id)
      if (seq >= base && seq < base + count) Some((id, createdMs, at - createdMs, at)) else None
    }
    val toLocation = arrived.map(_._3)
    val acks = posts.filter(p => p.status == 200 || p.status == 400).map(_.ackMs)
    val firstDueMs = posts.map(_.dueUs).min / 1e3
    val lastAt = if (arrived.isEmpty) firstDueMs + 1 else arrived.map(_._4).max
    spans.foreach { s =>
      posts.foreach(p => s.add(Span("http.post", if (p.gpsId == "-") s"seq-${p.seq}" else p.gpsId,
        p.dueUs / 1e3, p.ackMs)))
      arrived.foreach { case (id, created, lat, _) => s.add(Span("fix.to_location", id, created, lat)) }
    }
    lastPosts = posts
    Phase(Stats.median(toLocation), Stats.pct(toLocation, 0.99), capacity,
      Seq(
        ("fix_ack_p50_ms", Stats.median(acks), "ms"),
        ("fix_ack_p99_ms", Stats.pct(acks, 0.99), "ms"),
        ("fix_to_location_p50_ms", Stats.median(toLocation), "ms"),
        ("fix_to_location_p99_ms", Stats.pct(toLocation, 0.99), "ms"),
        ("fix_capacity_per_s", capacity, "1/s"),
        ("fixes_delivered_per_s", arrived.size / ((lastAt - firstDueMs) / 1e3), "1/s"),
        ("fix_samples", toLocation.size.toDouble, "count")))
  }
  def verify(): Verdict = {
    val d = env.derby
    if (o.inject.contains("dup_sink_row")) {
      val c = d.connect()
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT gps_id, geo_point, latitude, longitude FROM location_instances FETCH FIRST 1 ROWS ONLY")
        rs.next()
        val st = c.prepareStatement(
          "INSERT INTO location_instances (gps_id, geo_point, latitude, longitude) VALUES (?, ?, ?, ?)")
        (1 to 4).foreach(i => st.setObject(i, rs.getObject(i)))
        st.executeUpdate()
      } finally c.close()
    }
    val posts = env.posts.toVector
    val problems = ArrayBuffer.empty[String]
    var failed = 0L
    def fail(n: Long, what: String): Unit = if (n > 0) { failed += n; problems += s"$n $what" }
    fail(posts.count(p => p.kind != "malformed" && p.status != 200), "valid POSTs not acknowledged")
    fail(posts.count(p => p.kind == "malformed" && p.status != 400), "malformed POSTs not answered 400")
    val acked = posts.filter(p => p.kind == "ok" && p.status == 200).map(_.gpsId).toSet
    def compare(table: String, col: String): Unit = {
      val ids = d.query(s"SELECT $col FROM $table")(_.getString(1))
      val set = ids.toSet
      fail(ids.size - set.size, s"duplicate gps_id rows in $table")
      fail((acked -- set).size, s"acknowledged fixes missing from $table")
      fail((set -- acked).size, s"rows in $table that were never acknowledged")
    }
    compare("gps_raw", "id")
    compare("location_instances", "gps_id")
    val dead = reasons()
    val incomplete = posts.count(p => p.kind == "incomplete" && p.status == 200).toLong
    fail(math.abs(dead.getOrElse("missing_required_fields", 0L) - incomplete),
      "dead-letter rows differing from acknowledged incomplete bodies")
    fail(dead.getOrElse("malformed_json", 0L), "malformed rows reached the dead-letter table")
    env.failure.foreach(e => fail(1, s"stream failed: $e"))
    Verdict(posts.size.toLong, failed, problems.toSeq)
  }

  /** Counts are the traced phase's own; `spool_bytes_per_fix` and
    * `derby.bytes_per_row` are over everything the run stored. */
  def layers(tracer: Tracer): Seq[(String, Double)] = {
    val d = env.derby
    val spool = env.files(env.spool)
    val spoolBytes = spool.map(Files.size(_)).sum
    val posts = lastPosts
    val sends = posts.map(p => p.dueUs / 1e3 + p.lateMs)
    val now = counts()
    def traced(k: String): Double = (now.getOrElse(k, 0L) - atTrace.getOrElse(k, 0L)).toDouble
    val rows = Seq("gps_raw", "dead_letter", "location_instances").map(d.count).sum
    def stage(query: String, children: Seq[String]): Double = Stats.median(
      tracer.streams.of(query).map { b =>
        val key = s"$query#${b.batchId}"
        b.durations.getOrElse("addBatch", 0L) -
          tracer.spans.all.filter(s => s.key == key && children.contains(s.name)).map(_.durMs).sum
      })
    Seq(
      "httpingress.posts" -> posts.size.toDouble,
      "httpingress.rejected_400" -> posts.count(_.status == 400).toDouble,
      "httpingress.errors_5xx" -> posts.count(p => p.status >= 500 || p.status < 0).toDouble,
      "httpingress.spool_files" -> traced("spool_files"),
      "httpingress.spool_bytes_per_fix" -> spoolBytes.toDouble / math.max(1, spool.size),
      "httpingress.ack_p50_ms" -> Stats.median(posts.map(_.ackMs)),
      "httpingress.ack_p99_ms" -> Stats.pct(posts.map(_.ackMs), 0.99),
      "pipeline.ok_rows" -> traced("gps_raw"),
      "pipeline.dead_letter_rows.malformed_json" -> traced("dead_letter.malformed_json"),
      "pipeline.dead_letter_rows.missing_required_fields" ->
        traced("dead_letter.missing_required_fields"),
      "pipeline.cdc_dropped_rows" -> (traced("feed_rows") - traced("location_instances")),
      "pipeline.ingress.stage_ms" -> stage("ingress",
        Seq("sink.gps_raw.write", "sink.dead_letter.write", "cdcfeed.emit")),
      "pipeline.cdc.stage_ms" -> stage("cdc", Seq("sink.location_instances.write")),
      "derby.bytes_per_row" -> d.bytes.toDouble / math.max(1L, rows),
      "loadgen.offered_per_s" -> (if (sends.size < 2) 0.0
        else (sends.size - 1) / ((sends.max - sends.min) / 1e3)),
      "loadgen.late_p99_ms" -> Stats.pct(posts.map(_.lateMs), 0.99),
      "cdcfeed.emit_ms" -> Stats.median(tracer.spans.durations("cdcfeed.emit"))) ++
      tracer.streams.metrics("ingress") ++ tracer.streams.metrics("cdc") ++
      env.raw.metrics("gps_raw") ++ env.dlq.metrics("dead_letter") ++
      env.loc.metrics("location_instances")
  }
}
