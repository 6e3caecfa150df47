package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.{Connection, DriverManager}

import scala.util.control.NonFatal

import graft.NoiseSentinel
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Run options, as run.py passes them. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    bench: Path, work: Path, out: Path, tiny: Boolean, inject: Option[String]) {
  def data: String = bench.resolve("data/sf0.001").toString
  def gen(script: String): String = bench.resolve("gen").resolve(script).toString
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("bench")).toAbsolutePath, Paths.get(m("work")).toAbsolutePath,
      Paths.get(m("out")).toAbsolutePath, m.get("scale").contains("tiny"),
      m.get("inject").filter(_.nonEmpty))
  }
}

/** What one measured phase of a workload yields. The three generic
  * numbers become the end-to-end metrics; `named` carries the workload's
  * own metric names (fix_ack_p50_ms, cdc_rows_per_s, ...). */
final case class Phase(latencyP50Ms: Double, latencyTailMs: Double,
    throughputPerS: Double, named: Seq[(String, Double, String)])

/** Output check of a whole run. */
final case class Verdict(attempted: Long, failed: Long, problems: Seq[String])

trait Workload {
  /** Bring the system from nothing to ready. Called several times; every
    * call but the last is followed by `teardown`. */
  def setup(rep: Int): Unit
  def teardown(): Unit
  /** Untimed work after set-up, so the first measured phase runs warm. */
  def warm(): Unit = ()
  /** One measured phase; `tracer` is set only in the traced phase. */
  def measure(phase: Int, tracer: Option[Tracer]): Phase
  def verify(): Verdict
  /** Workload-specific per-layer metrics, read after the traced phase. */
  def layers(tracer: Tracer): Seq[(String, Double)]
  /** Units of work the traced phase did, which the `spark.*` counters are
    * divided by: its micro-batches with input, unless a workload counts
    * otherwise. */
  def tracedUnits(tracer: Tracer): Long = tracer.streams.batchCount
}

/** Embedded on-disk Derby, the sink database of the stream workloads. */
final class Derby(val dir: Path) {
  val url: String = s"jdbc:derby:${dir.toAbsolutePath}"
  def connect(): Connection = DriverManager.getConnection(url)
  def create(ddl: Seq[String]): Unit = {
    val c = DriverManager.getConnection(url + ";create=true")
    try ddl.foreach(c.createStatement().execute) finally c.close()
  }
  def query[T](sql: String)(row: java.sql.ResultSet => T): Vector[T] = {
    val c = connect()
    try {
      val rs = c.createStatement().executeQuery(sql)
      val b = Vector.newBuilder[T]
      while (rs.next()) b += row(rs)
      b.result()
    } finally c.close()
  }
  def count(table: String): Long = query(s"SELECT COUNT(*) FROM $table")(_.getLong(1)).head
  def execute(sql: String): Unit = {
    val c = connect()
    try c.createStatement().execute(sql) finally c.close()
  }
  def shutdown(): Unit =
    try DriverManager.getConnection(url + ";shutdown=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports shutdown as an exception
  def bytes: Long = Main.treeBytes(dir)
}

object Main {
  val Cores = 4
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(o.work)
    // a generator must not outlive the harness, however the harness ends
    sys.addShutdownHook(ProcessHandle.current().descendants().forEach(p => { p.destroyForcibly(); () }))
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try run(spark, o)
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          2
      } finally spark.stop()
    System.exit(code)
  }

  private def run(spark: SparkSession, o: Opts): Int = {
    val lineitem = s"${o.data}/lineitem.parquet"
    NoiseSentinel.warmup(spark, lineitem)
    val noiseBefore = Seq.fill(3)(NoiseSentinel.sample(spark, lineitem))

    val w: Workload = o.workload match {
      case "fleet_http" => new FleetHttp(spark, o)
      case "cdc_backlog" => new CdcBacklog(spark, o)
      case "batch_surface" => new BatchSurface(spark, o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setups = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      val dt = (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps) w.teardown()
      dt
    }
    val setupS = Stats.median(setups)

    w.warm()
    val plain = w.measure(0, None)
    val heapMb = retainedHeapMb()
    val tracer = new Tracer
    val traced = if (!o.trace) None else {
      spark.sparkContext.addSparkListener(tracer.spark)
      spark.streams.addListener(tracer.streams)
      val t0 = System.nanoTime()
      val p = w.measure(1, Some(tracer))
      val wallS = (System.nanoTime() - t0) / 1e9
      BenchBus.drain(spark.sparkContext)
      spark.streams.removeListener(tracer.streams)
      spark.sparkContext.removeSparkListener(tracer.spark)
      Some((p, wallS))
    }
    val verdict = w.verify()
    val layers = if (o.trace) w.layers(tracer) else Nil
    w.teardown()
    val noiseAfter = Seq.fill(3)(NoiseSentinel.sample(spark, lineitem))
    val rssMb = peakRssMb()

    val failedFrac = verdict.failed.toDouble / math.max(1L, verdict.attempted)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("latency_p50_ms", plain.latencyP50Ms, "ms"),
      ("latency_tail_ms", plain.latencyTailMs, "ms"),
      ("throughput_per_s", plain.throughputPerS, "1/s"),
      ("heap_retained_mb", heapMb, "MB"))
    val named = Seq(("setup_s", setupS, "s")) ++ plain.named ++ Seq(("peak_rss_mb", rssMb, "MB"),
      ("heap_retained_mb", heapMb, "MB"), ("failed_frac", failedFrac, "ratio"))

    println("noise: " + Json.obj(Seq(
      "tier_before" -> Json.str(NoiseSentinel.tier(noiseBefore)),
      "tier_after" -> Json.str(NoiseSentinel.tier(noiseAfter)),
      "samples_s" -> (noiseBefore ++ noiseAfter).map(Json.num).mkString("[", ", ", "]"))))
    println(s"${o.workload}: " + metricsJson(named))
    verdict.problems.take(20).foreach(p => println(s"FAILED: $p"))

    val reported = traced match {
      case None => e2e
      case Some((p, wallS)) =>
        val overhead = Seq(
          ("overhead.latency_p50_ms", p.latencyP50Ms - plain.latencyP50Ms),
          ("overhead.latency_tail_ms", p.latencyTailMs - plain.latencyTailMs),
          ("overhead.throughput_per_s", p.throughputPerS - plain.throughputPerS))
        val got = (layers ++ tracer.spark.metrics(wallS, Cores, w.tracedUnits(tracer)) ++ overhead ++ Seq(
          "failed_frac" -> failedFrac,
          "noise.robust_drift" -> NoiseSentinel.robustDrift(noiseAfter))).toMap
        println(s"${o.workload} traced: " + metricsJson(p.named))
        val spansOut = o.work.resolve("spans.jsonl")
        val spans = new Spans
        (tracer.spans.all ++ tracer.streams.spans).foreach(spans.add)
        spans.write(spansOut)
        println(s"spans: ${spans.all.size} written to $spansOut")
        Layers.all.map { case (n, u) => (n, got.getOrElse(n, 0.0), u) }
    }
    val correct = verdict.failed == 0
    val result = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> verdict.attempted.toString,
      "failed" -> verdict.failed.toString,
      "metrics" -> metricsJson(reported)))
    Files.write(o.out, (result + "\n").getBytes(StandardCharsets.UTF_8))
    if (correct) 0 else 1
  }

  def metricsJson(ms: Seq[(String, Double, String)]): String =
    Json.obj(ms.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })

  /** Heap still in use after a full collection, in MB: what the system
    * keeps between phases (caches, stream state, logs). Spark's context
    * cleaner frees broadcast and shuffle blocks only after a collection
    * has found them unreachable, so collect, let it run, and collect
    * again. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Runs a generator script to completion, failing loudly on error. */
  def python(args: String*)(timeoutS: Long): Unit = {
    val p = new ProcessBuilder(("python3" +: args): _*)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
    try {
      if (!p.waitFor(timeoutS, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException(s"generator timed out: ${args.mkString(" ")}")
      if (p.exitValue() != 0)
        throw new IllegalStateException(s"generator failed (${p.exitValue()}): ${args.mkString(" ")}")
    } finally {
      if (p.isAlive) { p.destroyForcibly(); p.waitFor() }
    }
  }

  def await(what: String, timeoutS: Double)(done: => Boolean): Unit = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!done) {
      if (System.nanoTime() > end) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(20)
    }
  }
}
