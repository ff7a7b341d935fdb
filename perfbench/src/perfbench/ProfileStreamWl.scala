package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.api.{Profiler, ProfileStore}
import graft.core.MetricConfig
import graft.streaming.ProfileStream

/** Event generator for the stream probe; serializable. File `f` holds hour
  * `f` of events, about 5 % of them stamped up to 30 minutes earlier
  * (out of order, often in the previous hour's window). */
final case class StreamGen(seed: Long, perFile: Int) {
  import ProfileStreamWl._

  def segment(i: Long): String = f"s${Rng.below(seed, 4, i, Segments)}%02d"

  def row(i: Long): Row = {
    val file = i / perFile
    var ts = Epoch + file * HourMs + (Rng.u01(seed, 1, i) * HourMs).toLong
    if (Rng.u01(seed, 2, i) < 0.05) ts -= (Rng.u01(seed, 3, i) * HourMs / 2).toLong
    Row(new java.sql.Timestamp(ts), segment(i), 10 * Rng.logistic(Rng.u01(seed, 5, i) * 0.998 + 0.001),
      Rng.below(seed, 6, i, 5000), "k" + Rng.below(seed, 7, i, 8))
  }
}

/** Rolling profiles over a backlog, run inside `profile_monitor`'s traced
  * run (it is not a workload of its own: its runs spread too much for a
  * gated one). A seeded backlog of
  * hourly parquet files is drained by `ProfileStream.toStore` with
  * one-hour windows, a segment column and `Trigger.AvailableNow`, one
  * file per micro-batch: a closed loop in which each batch starts after
  * the previous commit. Per-batch work outside executor tasks (planning,
  * offset and commit logs, small-file store appends) dominates. A round
  * drains the whole backlog into a fresh store and checkpoint; its
  * micro-batches are the round's latency samples. */
final class ProfileStreamWl(spark: SparkSession, seed: Long, clock: StreamClock) extends Workload {
  import ProfileStreamWl._

  private val gen = StreamGen(seed, RowsPerFile)
  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("seg", StringType),
    StructField("value", DoubleType), StructField("user", IntegerType),
    StructField("kind", StringType)))
  private val profiler = new Profiler(MetricConfig())
  private val total = Files.toLong * RowsPerFile

  private var dir = ""
  private var drains = 0
  /** Micro-batches with input, over every drain so far. */
  var batchesRun = 0L
  private var segRows = Map.empty[String, Long]
  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()

  def setup(dir: String): Unit = {
    this.dir = dir
    val g = gen
    spark.range(0, total, 1, Files)
      .mapPartitions(it => it.map(i => g.row(i)))(Encoders.row(schema))
      .write.parquet(s"$dir/backlog")
    segRows = (0L until total).groupBy(gen.segment).map { case (s, is) => s -> is.length.toLong }
    spark.conf.set("spark.sql.streaming.checkpointLocation", s"$dir/ckpt")
  }

  private case class Drain(store: String, rows: Long, batches: Seq[Double])

  /** Runs one drain to completion; returns its store and batch latencies. */
  private def drain(rec: Rec, source: String): Drain = {
    drains += 1
    val storePath = s"$dir/store-$drains"
    val sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(source)
    val q = ProfileStream.toStore(sdf, "ts", "1 hour", watermark = "30 minutes",
      storePath = storePath, datasetId = DatasetId, profiler = profiler,
      segmentColumns = Seq("seg"), trigger = Trigger.AvailableNow())
    q.awaitTermination()
    val ps = q.recentProgress.filter(_.numInputRows > 0).toSeq
    batchesRun += ps.length
    if (rec.traced) progress ++= ps
    Drain(storePath, ps.map(_.numInputRows).sum, clock.batchSeconds(q.runId, q.recentProgress.length)
      .zip(q.recentProgress).filter(_._2.numInputRows > 0).map(_._1))
  }

  private def checkDrain(d: Drain): Seq[String] = {
    val store = new ProfileStore(spark, d.store)
    val merged = store.readMerged(DatasetId, 0L, Long.MaxValue)
    val segs = store.readSegments(DatasetId, 0L, Long.MaxValue)
    val n = Seq("value", "user", "kind").map(c => merged.columns.get(c).flatMap(_.counts).map(_.n))
    val segN = segs.map { case (s, v) => s -> v.columns.get("value").flatMap(_.counts).map(_.n).getOrElse(-1L) }
    Seq(
      Option.when(d.rows != total)(s"drained ${d.rows} rows, backlog $total"),
      Option.when(n.exists(_ != Some(total)))(s"store merged n $n, backlog $total"),
      Option.when(segN != segRows)(s"per-segment n differs from the backlog")).flatten
  }

  private def discard(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(path))
  }

  /** A round is one drain of all the backlog's files. The probe in
    * `profile_monitor` sets the number of drains itself. The warm-up is
    * one drain: on the reference host the batches of a second drain take
    * about 0.75× as long as those of the first. */
  def nominalRoundSeconds: Double = 4.0

  /** One drain; its micro-batches are the samples of `round`. */
  def round(ph: Phase, rec: Rec): Unit = ph.roundOf {
    var d: Drain = null
    val wall = ph.op(rec, "stream_drain") { d = drain(rec, s"$dir/backlog"); d }(checkDrain)
    val batches = if (d != null) d.batches else Seq(wall) // a failed drain
    batches.foreach { b =>
      ph.add("round", b)
      ph.add("stream_batch", b)
    }
    ph.book(if (d != null) d.rows else 0L, wall)
    if (d != null) discard(d.store)
  }

  def opMetrics(ph: Phase): Map[String, Double] = Map(
    "stream_rows_per_s" -> ph.rows / ph.busy,
    "stream_batch_s_p50" -> Stats.median(ph.of("stream_batch")),
    "stream_batch_s_tail" -> Stats.tail(ph.of("stream_batch")))

  override def probes(rec: Tracer, ph: Phase): Map[String, Double] = {
    def ms(key: String) = Stats.median(progress.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)).toSeq)
    Map(
      "stream.trigger_ms" -> ms("triggerExecution"),
      "stream.add_batch_ms" -> ms("addBatch"),
      "stream.query_planning_ms" -> ms("queryPlanning"),
      "stream.get_batch_ms" -> ms("getBatch"),
      "stream.latest_offset_ms" -> ms("latestOffset"),
      "stream.wal_commit_ms" -> ms("walCommit"),
      "stream.commit_ms" -> ms("commitOffsets"),
      "stream.batches" -> progress.length.toDouble / math.max(1, rec.opCount("stream_drain")),
      "stream.rows_per_batch" -> Stats.median(progress.map(_.numInputRows.toDouble).toSeq))
  }
}

object ProfileStreamWl {
  val Files = 8
  val RowsPerFile = 10000
  val Segments = 16
  val DatasetId = "stream"
  val Epoch = 1704067200000L // 2024-01-01T00:00:00Z
  val HourMs = 3600000L
}
