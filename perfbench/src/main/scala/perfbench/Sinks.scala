package perfbench

import java.sql.ResultSet

import scala.collection.mutable

import graft.streaming.JdbcOutboxSink
import org.apache.spark.sql.DataFrame

/** DDL of the sink tables. `inserted_at` is filled by Derby as each row
  * is inserted, which is how the benchmark times a row's arrival without
  * touching the sink. */
object SinkTables {
  def locationInstances(name: String): String =
    s"""CREATE TABLE $name (gps_id VARCHAR(64), geo_point VARCHAR(128),
       |  latitude DOUBLE, longitude DOUBLE,
       |  inserted_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""".stripMargin

  /** Epoch milliseconds of `inserted_at`, with its sub-millisecond part. */
  def insertedMs(rs: ResultSet, col: String): Double = {
    val t = rs.getTimestamp(col)
    t.getTime.toDouble + (t.getNanos % 1000000) / 1e6
  }

  /** Text of a coordinate as both sides write it: six decimals. */
  def coord(v: Double): String = String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))
}

/** One `write` call: its batch id, start (epoch ms), duration (ms), and
  * whether it fell in the traced phase. */
final case class SinkWrite(batchId: Long, startMs: Double, durMs: Double, traced: Boolean)

/** A benchmark-side wrapper around one `JdbcOutboxSink`: records when each
  * `write` call starts and how long it takes, and in the traced phase adds
  * it as a span. Nothing is added inside the sink. */
final class TimedSink(val table: String, val ledger: String, derby: Derby) {
  val sink = new JdbcOutboxSink(derby.url, table, ledgerTable = ledger,
    numPartitions = TimedSink.Partitions)
  private val done = mutable.ArrayBuffer.empty[SinkWrite]
  @volatile var spans: Option[Spans] = None

  def write(df: DataFrame, batchId: Long, query: String): Unit = {
    val traced = spans
    val w0 = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try sink.write(df, batchId)
    finally {
      val w = SinkWrite(batchId, w0, (System.nanoTime() - t0) / 1e6, traced.isDefined)
      synchronized(done += w)
      traced.foreach(_.add(Span(s"sink.$table.write", s"$query#$batchId", w0, w.durMs)))
    }
  }

  def writes: Seq[SinkWrite] = synchronized(done.toVector)

  /** Rows committed per batch id, from the outbox ledger. */
  def committedRows: Map[Long, Long] =
    derby.query(s"SELECT batch_id, SUM(n_rows) FROM $ledger GROUP BY batch_id")(
      rs => rs.getLong(1) -> rs.getLong(2)).toMap

  /** Per-layer `sink.<table>.*` metrics over the traced phase's writes.
    * Rows and partitions come from the outbox ledger, which holds one row
    * per committed (batch, partition). Every write runs `Partitions`
    * partitions, and a partition whose (batch, partition) is already in
    * the ledger commits nothing, so the partitions without a ledger row of
    * their own are the sink's replay skips. */
  def metrics(metricTable: String): Seq[(String, Double)] = {
    val traced = writes.filter(_.traced)
    val ids = traced.map(_.batchId).toSet
    val led = derby.query(s"SELECT batch_id, n_rows FROM $ledger")(rs => (rs.getLong(1), rs.getLong(2)))
      .filter(r => ids.contains(r._1))
    val perBatch = led.groupBy(_._1).values.map(_.count(_._2 > 0).toDouble).toSeq
    val p = s"sink.$metricTable."
    Seq(
      p + "write_ms" -> Stats.median(traced.map(_.durMs)),
      p + "rows" -> led.map(_._2).sum.toDouble,
      p + "nonempty_partitions_per_batch" -> Stats.median(perBatch),
      p + "replay_skips" -> (traced.size.toLong * TimedSink.Partitions - led.size).toDouble,
      p + "ledger_rows" -> led.size.toDouble)
  }
}

object TimedSink {
  /** Partitions per write, the sink's default. */
  val Partitions = 16
}
