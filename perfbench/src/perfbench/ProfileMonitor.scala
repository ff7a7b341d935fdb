package perfbench

import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.analysis.{Constraints, Drift}
import graft.api.{Profiler, ProfileStore}
import graft.core.MetricConfig
import graft.profile.{DatasetProfileView, ProfileSerde, Why1}

/** Row generator for profile_monitor; serializable. Each column's day is a
  * fixed multiset (one for days up to [[ProfileMonitor.DriftAfter]], a
  * shifted one after it for the drifted columns) in a seeded per-day
  * order, so a stable column's window distributions are identical and a
  * drifted column's differ by construction. */
final case class MonitorGen(seed: Long, rows: Int) {
  import ProfileMonitor._

  def value(col: String, day: Int, i: Int): Any = {
    val k = Rng.perm(seed, day * 100L + Columns.indexOf(col), rows)(i)
    val drifted = day > DriftAfter && Drifted(col)
    def p = (k + 0.5) / rows
    col match {
      case "m1" => Rng.logistic(p) + (if (drifted) 8.0 else 0.0)
      case "m2" => math.exp(Rng.logistic(p) / 2)
      case "m3" => k % 100 + (if (drifted) 300 else 0)
      case "m4" => k % 50
      case "c1" => (if (drifted) "z" else "a") + (k % 10)
      case "c2" => "s" + (k % 6)
      case "c3" => k % 4 == 0
      case "c4" => if (k < NullsC4) null else Rng.logistic(p)
    }
  }

  def row(day: Int, i: Int): Row = Row.fromSeq(Columns.map(value(_, day, i)) :+ day)
}

/** `profile_monitor`: driver-side monitoring over a profile store. Set-up
  * profiles [[ProfileMonitor.Days]] seeded daily tables into a fresh
  * `ProfileStore`, with drift planted in three columns after day
  * [[ProfileMonitor.DriftAfter]]. Each round appends one new day (profile
  * + `ProfileStore.write`) and then checks: `readMerged` of a trailing
  * 7-day window and of a reference window, `Drift.scores`,
  * `Constraints.report`, and a WHY1 round trip of the merged view. The
  * executor work is tiny; the two store reads dominate the check. The
  * traced run also drains a streamed backlog into a store of its own
  * ([[ProfileStreamWl]]) for the per-layer figures of
  * `graft.streaming.ProfileStream`. */
final class ProfileMonitor(spark: SparkSession, seed: Long, clock: StreamClock) extends Workload {
  import ProfileMonitor._

  private val gen = MonitorGen(seed, RowsPerDay)
  private val schema = StructType(Seq(
    StructField("m1", DoubleType), StructField("m2", DoubleType),
    StructField("m3", IntegerType), StructField("m4", IntegerType),
    StructField("c1", StringType), StructField("c2", StringType),
    StructField("c3", BooleanType), StructField("c4", DoubleType),
    StructField("day", IntegerType)))
  private val profiler = new Profiler(MetricConfig())
  private val constraints = Constraints(
    Constraints.noMissingValues("m1"),
    Constraints.noMissingValues("c4"),
    Constraints.meanBetweenRange("m1", -1.0, 1.0),
    Constraints.meanBetweenRange("m4", 24.0, 25.0),
    Constraints.isNonNegative("m3"),
    Constraints.isInRange("m3", 0.0, 99.0),
    Constraints.distinctNumberInRange("c2", 5.5, 6.5),
    Constraints.frequentStringsInReferenceSet("c1", (0 until 10).map("a" + _).toSet),
    Constraints.frequentStringsInReferenceSet("c2", (0 until 6).map("s" + _).toSet))
  /** Expected report on a drifted window, in constraint order. */
  private val expectedReport = Seq(true, false, false, true, true, false, true, false, true)

  private var dir = ""
  private var store: ProfileStore = _
  private var nextDay = Days

  def setup(dir: String): Unit = {
    this.dir = dir
    val g = gen
    val days = spark.range(0, Days.toLong * RowsPerDay, 1, 4)
      .mapPartitions(it => it.map(j => g.row((j / RowsPerDay).toInt, (j % RowsPerDay).toInt)))(
        Encoders.row(schema))
    days.write.parquet(s"$dir/days")
    spark.range(0, AppendPool.toLong * RowsPerDay, 1, AppendPool)
      .mapPartitions(it => it.map(j => g.row(Days + (j / RowsPerDay).toInt, (j % RowsPerDay).toInt)))(
        Encoders.row(schema))
      .write.partitionBy("day").parquet(s"$dir/pool")
    store = new ProfileStore(spark, s"$dir/store")
    val seeded = profiler.profileSegmented(spark.read.schema(schema).parquet(s"$dir/days"), Seq("day"))
    store.writeAll(seeded.toSeq.map { case (k, v) => v -> dayMs(k.head.toInt) }, DatasetId)
    nextDay = Days
  }

  private def dayMs(day: Int): Long = Epoch + day * DayMs

  private def append(rec: Rec): DatasetProfileView = {
    val day = nextDay
    val df = spark.read.schema(StructType(schema.dropRight(1)))
      .parquet(s"$dir/pool/day=${Days + (day - Days) % AppendPool}")
    val view = rec.span("profiler.profile")(profiler.profile(df))
    rec.span("store.write")(store.write(view, DatasetId, dayMs(day)))
    nextDay += 1
    view
  }

  private def merged(rec: Rec, fromDay: Int, toDay: Int): DatasetProfileView =
    if (!rec.traced) store.readMerged(DatasetId, dayMs(fromDay), dayMs(toDay + 1) - 1)
    else {
      val views = rec.span("store.read")(store.read(DatasetId, dayMs(fromDay), dayMs(toDay + 1) - 1))
      rec.span("view.merge")(views.map(_._2).foldLeft(DatasetProfileView.empty)(_ merge _))
    }

  private case class Check(target: DatasetProfileView, ref: DatasetProfileView,
      drift: Seq[Drift.DriftScore], report: Seq[Boolean], roundTrip: DatasetProfileView)

  private def check(rec: Rec): Check = {
    val last = nextDay - 1
    val target = merged(rec, last - 6, last)
    val ref = merged(rec, 0, RefDays - 1)
    val drift = rec.span("drift.scores")(Drift.scores(target, ref, DiscreteHellinger))
    val report = rec.span("constraints.report")(constraints.report(target)).map(_.passed)
    val bytes = rec.span("serde.why1_enc")(Why1.toBytes(target))
    val back = rec.span("serde.why1_dec")(Why1.fromBytes(bytes))
    Check(target, ref, drift, report, back)
  }

  private def checkAppend(v: DatasetProfileView): Seq[String] =
    Columns.flatMap { c =>
      val want = if (c == "c4") (RowsPerDay.toLong, NullsC4.toLong) else (RowsPerDay.toLong, 0L)
      v.columns.get(c).flatMap(_.counts).map(x => (x.n, x.nulls)) match {
        case Some(got) if got == want => Nil
        case got => Seq(s"append $c counts $got want $want")
      }
    }

  private def checkCheck(c: Check): Seq[String] = {
    def rows(v: DatasetProfileView) = Columns.map(n => v.columns.get(n).flatMap(_.counts).map(_.n))
    val flagged = c.drift.filter(_.category == Drift.DriftDetected).map(_.column).toSet
    Seq(
      Option.when(rows(c.target).exists(_ != Some(7L * RowsPerDay)))(s"target rows ${rows(c.target)}"),
      Option.when(rows(c.ref).exists(_ != Some(RefDays.toLong * RowsPerDay)))(s"ref rows ${rows(c.ref)}"),
      Option.when(flagged != Drifted)(s"drift flagged $flagged, planted $Drifted"),
      Option.when(c.report != expectedReport)(s"constraints ${c.report}"),
      Option.when(Columns.exists { n =>
        val a = c.target.columns(n); val b = c.roundTrip.columns.get(n)
        !b.exists(x => x.counts == a.counts && x.distribution.map(_.n) == a.distribution.map(_.n))
      })("WHY1 round trip changed counts")).flatten
  }

  def nominalRoundSeconds: Double = 1.45

  def round(ph: Phase, rec: Rec): Unit = ph.round(RowsPerDay) {
    ph.op(rec, "monitor_append")(append(rec))(checkAppend) +
      ph.op(rec, "monitor_check")(check(rec))(checkCheck)
  }

  def opMetrics(ph: Phase): Map[String, Double] = Map(
    "monitor_check_s_p50" -> Stats.median(ph.of("monitor_check")),
    "monitor_check_s_tail" -> Stats.tail(ph.of("monitor_check")),
    "monitor_append_s_p50" -> Stats.median(ph.of("monitor_append")))

  override def probes(rec: Tracer, ph: Phase): Map[String, Double] = {
    val last = nextDay - 1
    val target = store.readMerged(DatasetId, dayMs(last - 6), dayMs(last + 1) - 1)
    val grft = ProfileSerde.toBytes(target)
    // Files a check opens after partition pruning: both windows' date directories.
    val files = ((last - 6 to last) ++ (0 until RefDays)).map { d =>
      val p = new java.io.File(s"$dir/store/dataset_id=$DatasetId/date=${ProfileStore.dateOf(dayMs(d))}")
      Option(p.listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    }.sum
    Map(
      "view.summary_s" -> Workload.probe(ProbeReps)(target.summaryRows),
      "serde.grft1_enc_s" -> Workload.probe(ProbeReps)(ProfileSerde.toBytes(target)),
      "serde.grft1_dec_s" -> Workload.probe(ProbeReps)(ProfileSerde.fromBytes(grft)),
      "serde.profile_bytes" -> grft.length.toDouble,
      "store.files_read" -> files.toDouble) ++ streamProbe(rec, ph)
  }

  /** A warm-up drain, [[StreamDrains]] untraced drains for the batch
    * latencies and one traced drain for the micro-batch phases. Spark's
    * accounting books every micro-batch job of the traced run to kind
    * `stream`, so its figures are divided by all the drains' batches. */
  private def streamProbe(rec: Tracer, ph: Phase): Map[String, Double] = {
    val stream = new ProfileStreamWl(spark, seed, clock)
    stream.setup(s"$dir/stream")
    stream.warmUp(NoRec)
    val (sp, tp) = (new Phase, new Phase)
    (1 to StreamDrains).foreach(_ => stream.round(sp, NoRec))
    stream.round(tp, rec)
    ph.absorb(sp)
    ph.absorb(tp)
    rec.flush()
    Main.sparkFigures("stream_batch", rec.accounting(Seq("stream")), stream.batchesRun) ++
      stream.opMetrics(sp) ++ stream.probes(rec, ph)
  }
}

object ProfileMonitor {
  val Columns = Seq("m1", "m2", "m3", "m4", "c1", "c2", "c3", "c4")
  val Drifted = Set("m1", "m3", "c1")
  /** Hellinger, not the default sketch KS, for the discrete numeric
    * columns. On the 0/1 column `c3`, whose true rate is the same every
    * day, KS from the two KLL sketches reported DriftDetected in 2 of 6
    * seeds: KLL rank error at the single step, times sqrt(n_eff) ≈ 75, is
    * past the 5 % critical value. */
  val DiscreteHellinger = Map("c3" -> "hellinger", "m3" -> "hellinger", "m4" -> "hellinger")
  val Days = 60
  val DriftAfter = 45
  val RefDays = 30
  val RowsPerDay = 1000
  val NullsC4 = 20
  val AppendPool = 8
  val DatasetId = "monitor"
  val Epoch = 1704067200000L // 2024-01-01T00:00:00Z
  val DayMs = 86400000L
  val ProbeReps = 5
  val StreamDrains = 2
}
