package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{CacheScope, SparkEntry}
import graft.queries._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

object Families {
  /** The 12 family objects behind `SparkEntry.queries`, by name. */
  val all: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Scans" -> Scans.queries, "Projections" -> Projections.queries,
    "Joins" -> Joins.queries, "Aggregations" -> Aggregations.queries,
    "Windows" -> Windows.queries, "SortSetOps" -> SortSetOps.queries,
    "Scalars" -> Scalars.queries, "StreamTwins" -> StreamTwins.queries,
    "Llm" -> Llm.queries, "TextAnalysis" -> TextAnalysis.queries,
    "Profiling" -> Profiling.queries, "SqlSurface" -> SqlSurface.queries)
  val of: Map[String, String] = all.flatMap { case (f, qs) => qs.keys.map(_ -> f) }.toMap
}

/** Order-insensitive hash of a query result: columns in name order,
  * doubles by their IEEE bits, timestamps as epoch microseconds, rows
  * sorted, SHA-256. tools/record_expected.py hashes the DuckDB oracle's
  * results with this same code, through `RecordTool hash`. */
object ResultHash {
  private def dbl(d: Double): String =
    if (d.isNaN) "nan"
    else if (d == 0.0) "0"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: java.math.BigDecimal => dbl(b.doubleValue)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case b: Boolean => b.toString
    case s: String => Json.str(s)
    case t: java.sql.Timestamp => "ts" + micros(t.toInstant)
    case t: java.time.Instant => "ts" + micros(t)
    case t: java.time.LocalDateTime => "ts" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate
    case d: java.time.LocalDate => "d" + d
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => Json.str(other.toString)
  }

  def apply(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** The Spark side of tools/record_expected.py.
  *
  * `list <dataDir>` prints every query id with its family, its oracle SQL
  * and whether building it over `dataDir` registers a shared CacheScope
  * cache, as JSON lines. `hash <parquet>...` prints, for each parquet
  * file, its path, `ResultHash` and row count, tab-separated, so the
  * oracle's results are hashed by the code that hashes the engine's. */
object RecordTool {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lines = args.toSeq match {
      case Seq("list", data) =>
        val oracle = SparkEntry.oracleSql
        SparkEntry.queries.toSeq.sortBy(_._1).map { case (id, build) =>
          val before = CacheScope.sharedEvents
          try build(spark, data) catch { case NonFatal(_) => () }
          CacheScope.drain(blocking = true)
          Json.obj(Seq("id" -> Json.str(id), "family" -> Json.str(Families.of(id)),
            "oracle" -> oracle.get(id).map(Json.str).getOrElse("null"),
            "shared_cache" -> (CacheScope.sharedEvents > before).toString))
        }
      case "hash" +: files =>
        files.map { f =>
          val df = spark.read.parquet(f)
          val rows = df.collect().toSeq
          s"$f\t${ResultHash(df.columns.toSeq, rows)}\t${rows.size}"
        }
      case _ => throw new IllegalArgumentException("usage: RecordTool list <dataDir> | hash <parquet>...")
    }
    spark.stop()
    lines.foreach(println)
  }
}

/** `batch_surface`: a fixed set of query ids, one per family, run one
  * after another in one session in a seeded order. Query-local caches are
  * drained after each id; shared caches persist across ids and passes and
  * are drained only at the start of each set-up. An id that throws or
  * returns a wrong result is counted as failed and left out of every
  * timing. */
final class BatchSurface(spark: SparkSession, o: Opts) extends Workload {
  private val expected: Seq[(String, String)] = {
    val all = Files.readAllLines(o.bench.resolve("expected/batch_sf0.001.tsv")).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#")).map(_.split("\t")).map(f => f(0) -> f(2))
    if (o.tiny) all.take(3) else all
  }
  private val Throwing = "bench_throwing_id"
  private val builders: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries + (Throwing -> ((_: SparkSession, _: String) =>
      throw new IllegalStateException("injected failure")))
  private val ids: Seq[String] =
    expected.map(_._1) ++ (if (o.inject.contains("throwing_id")) Seq(Throwing) else Nil)
  private val want = expected.toMap

  private val failedIds = mutable.LinkedHashMap.empty[String, String]
  private var attempted = 0L
  private var failed = 0L

  /** One execution's phases (seconds) and whether it touched a shared cache. */
  private final case class Run(id: String, pass: Int, startMs: Double, constructS: Double,
      planS: Double, execS: Double, drainS: Double, sharedTouched: Boolean) {
    def totalS: Double = constructS + planS + execS
  }

  private def once(id: String, pass: Int): Option[Run] = {
    attempted += 1
    val shared0 = CacheScope.sharedEvents
    val startMs = System.currentTimeMillis().toDouble
    val r = try {
      val t0 = System.nanoTime()
      val df = builders(id)(spark, o.data)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val rows = df.collect().toSeq
      val t3 = System.nanoTime()
      val got = ResultHash(df.columns.toSeq, rows)
      if (!want.get(id).contains(got))
        throw new IllegalStateException(s"result hash $got != expected ${want.getOrElse(id, "none")}")
      Right((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    } catch { case NonFatal(e) => Left(e) }
    val d0 = System.nanoTime()
    CacheScope.drain(blocking = true)
    val drainS = (System.nanoTime() - d0) / 1e9
    r match {
      case Right((c, p, e)) =>
        Some(Run(id, pass, startMs, c, p, e, drainS, CacheScope.sharedEvents > shared0))
      case Left(e) =>
        failed += 1
        failedIds.getOrElseUpdate(id, s"$id: ${e.toString.take(300)}")
        None
    }
  }

  private def order(salt: Long): Seq[String] = new scala.util.Random(o.seed * 1000 + salt).shuffle(ids)

  /** Set-up starts from cold shared caches and builds every query's
    * DataFrame, which runs the eager cache fills; nothing is collected. */
  def setup(rep: Int): Unit = {
    CacheScope.drainShared(blocking = true)
    CacheScope.drain(blocking = true)
    order(-rep).foreach { id =>
      try builders(id)(spark, o.data)
      catch { case NonFatal(e) => failedIds.getOrElseUpdate(id, s"$id: ${e.toString.take(300)}") }
    }
  }

  /** One untimed pass, so lazy cache fills and first-run compilation are
    * paid before the measured passes. */
  override def warm(): Unit = order(-9).foreach(id => once(id, -9))

  def teardown(): Unit = ()

  private var traced = Vector.empty[Run]
  private var tracedPasses = 0
  private var tracedEvents = (0L, 0L)

  def measure(phase: Int, tracer: Option[Tracer]): Phase = {
    val shared0 = CacheScope.sharedEvents
    val local0 = CacheScope.localEvents
    val minPasses = if (o.tiny) 1 else 2
    val runs = mutable.ArrayBuffer.empty[Run]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val p0 = System.nanoTime()
      order(phase * 100 + pass).foreach(id => runs ++= once(id, pass))
      passTimes += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    val ok = runs.filterNot(r => failedIds.contains(r.id)).toVector
    tracer.foreach { t =>
      traced = ok; tracedPasses = pass
      tracedEvents = (CacheScope.sharedEvents - shared0, CacheScope.localEvents - local0)
      ok.foreach { r =>
        val key = s"${r.id}#${r.pass}"
        val (c, p, e) = (r.constructS * 1e3, r.planS * 1e3, r.execS * 1e3)
        t.spans.add(Span("query.construct", key, r.startMs, c))
        t.spans.add(Span("query.plan", key, r.startMs + c, p))
        t.spans.add(Span("query.exec", key, r.startMs + c + p, e))
        t.spans.add(Span("cachescope.drain", key, r.startMs + c + p + e, r.drainS * 1e3))
      }
    }
    // each id is summarised by its median over the passes, so the
    // percentiles are over queries, not over one query's repeats. The
    // gated tail is p90 over every execution instead: the p95 over 12 ids
    // is the slowest id alone, which swings far more between runs than
    // the median does
    val ms = ok.groupBy(_.id).values.map(rs => Stats.median(rs.map(_.totalS * 1e3))).toSeq
    val passS = Stats.median(passTimes.toSeq)
    Phase(Stats.median(ms), Stats.pct(ok.map(_.totalS * 1e3), 0.9), ids.size / passS, Seq(
      ("batch_pass_s", passS, "s"),
      ("batch_query_p50_s", Stats.median(ms) / 1e3, "s"),
      ("batch_query_p95_s", Stats.pct(ms, 0.95) / 1e3, "s"),
      ("batch_ids", ids.size.toDouble, "count"),
      ("batch_samples", ok.size.toDouble, "count"),
      ("batch_passes", pass.toDouble, "count")))
  }

  def verify(): Verdict = {
    CacheScope.drainShared(blocking = true)
    Verdict(attempted, failed, failedIds.values.toSeq)
  }

  /** Query executions in the traced phase. */
  override def tracedUnits(tracer: Tracer): Long = tracedPasses.toLong * ids.size

  /** Family phase times and CacheScope drain time are per pass; CacheScope
    * events per query execution. */
  def layers(tracer: Tracer): Seq[(String, Double)] = {
    val perPass = math.max(1, tracedPasses).toDouble
    val perRun = math.max(1L, tracedUnits(tracer)).toDouble
    Families.all.flatMap { case (f, _) =>
      val rs = traced.filter(r => Families.of.get(r.id).contains(f))
      Seq(s"queries.$f.construct_s" -> rs.map(_.constructS).sum / perPass,
        s"queries.$f.plan_s" -> rs.map(_.planS).sum / perPass,
        s"queries.$f.exec_s" -> rs.map(_.execS).sum / perPass)
    } ++ Seq(
      "cachescope.shared_events" -> tracedEvents._1 / perRun,
      "cachescope.local_events" -> tracedEvents._2 / perRun,
      "cachescope.drain_s" -> traced.map(_.drainS).sum / perPass,
      "cachescope.cached_ids" -> traced.filter(_.sharedTouched).map(_.id).distinct.size.toDouble)
  }
}
