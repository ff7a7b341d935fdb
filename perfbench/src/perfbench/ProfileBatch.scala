package perfbench

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}

import graft.api.Profiler
import graft.core.{MetricConfig, Namespace, ResolverSpec}
import graft.profile.{ColumnProfileView, DatasetProfileView}

/** One generated column. Its non-special values are a fixed multiset —
  * `card` repeating values, or all distinct when `card == 0` — placed on
  * rows by a seeded permutation, after `nulls`, `nan`, `posInf` and
  * `negInf` special rows. The seed moves values between rows, files and
  * segments; the multiset, and so every whole-table statistic, is the
  * same for every seed. That keeps the sketch checks deterministic: an
  * HLL estimate depends only on the value set. */
final case class GenCol(name: String, kind: String, nulls: Int, nan: Int, posInf: Int,
    negInf: Int, card: Int) {
  def specials: Int = nulls + nan + posInf + negInf
  def dataType: DataType = kind match {
    case "int" => IntegerType
    case "long" => LongType
    case "double" => DoubleType
    case "string" => StringType
    case "bool" => BooleanType
    case "ts" => TimestampType
  }
  def numeric: Boolean = Set("int", "long", "double")(kind)
}

/** Row generator for profile_batch; serializable, evaluated on executors. */
final case class BatchGen(seed: Long, n: Int, cols: Seq[GenCol], segments: Int) {
  private val perms = cols.indices.map(c => Rng.perm(seed, 100 + c, n))

  def segment(i: Long): Int = Rng.below(seed, 7, i, segments)

  /** Index into the column's layout: specials first, then base value k. */
  def slot(c: Int, i: Long): Int = perms(c)(i)

  /** The k-th base value of column `c` (k < n − specials). */
  def base(c: Int, k: Int): Any = {
    val col = cols(c)
    val m = n - col.specials
    def cyc = if (col.card == 0) k else k % col.card
    col.name match {
      case "i_low"   => cyc
      case "i_mid"   => cyc * 7 - 10000
      case "i_uniq"  => k * 1000003L + 17L
      case "i_neg"   => cyc - 500
      case "d_low"   => cyc * 0.25
      case "d_mid"   => Rng.cauchy((cyc + 0.5) / col.card)
      case "d_uniq"  => 10.0 * Rng.cauchy((k + 0.5) / m)
      case "d_logis" => Rng.logistic((cyc + 0.5) / col.card)
      case "s_low"   => s"cat_$cyc"
      case "s_mid"   => s"item_$cyc"
      case "s_uniq"  => "u" + java.lang.Integer.toHexString(k)
      case "b"       => k % 3 == 0
      case "s_text"  => s"a longer free-text value, variant number $cyc of a small set"
      case "ts_low"  => new java.sql.Timestamp((19000L + cyc) * 86400000L)
      case "ts_mid"  => new java.sql.Timestamp((1700000000L + cyc * 37L) * 1000L)
      case "ts_uniq" => new java.sql.Timestamp((1600000000L + k) * 1000L)
    }
  }

  def value(c: Int, i: Long): Any = {
    val col = cols(c)
    val s = slot(c, i)
    if (s < col.nulls) null
    else if (s < col.nulls + col.nan) Double.NaN
    else if (s < col.nulls + col.nan + col.posInf) Double.PositiveInfinity
    else if (s < col.specials) Double.NegativeInfinity
    else base(c, s - col.specials)
  }

  def row(i: Long): Row = Row.fromSeq(cols.indices.map(c => value(c, i)) :+ segment(i))
}

/** Exact statistics of one generated column, computed from its layout. */
final case class ColTruth(col: GenCol, n: Long, distinct: Long, trueCount: Long,
    min: Option[Double], max: Option[Double], sorted: Array[Double], freq: Map[String, Long])

/** `profile_batch`: the paper's core path. A seeded table of 16 profiled
  * columns (ints, doubles, strings, bool and timestamps at low, mid and
  * unique cardinality, with nulls, NaN and ±inf) plus a 64-value
  * segment column, written as several parquet files. The loop alternates
  * a whole-table `Profiler.profile` (map-side metric update is its largest
  * part; one KB-scale buffer per partition crosses the exchange) with
  * `Profiler.profileSegmented` (the same aggregates, but sketch state per
  * segment × partition, so ten times the shuffle bytes and a heavier
  * final merge). */
final class ProfileBatch(spark: SparkSession, seed: Long) extends Workload {
  import ProfileBatch._

  private val cols = Seq(
    GenCol("i_low", "int", Rows / 100, 0, 0, 0, 8),
    GenCol("i_mid", "int", Rows / 50, 0, 0, 0, 5000),
    GenCol("i_uniq", "long", 0, 0, 0, 0, 0),
    GenCol("i_neg", "int", 0, 0, 0, 0, 1000),
    GenCol("d_low", "double", Rows * 3 / 100, 0, 0, 0, 16),
    GenCol("d_mid", "double", Rows / 100, Rows / 200, Rows / 1000, Rows / 1000, 20000),
    GenCol("d_uniq", "double", Rows / 200, Rows / 500, Rows / 2000, Rows / 2000, 0),
    GenCol("d_logis", "double", 0, 0, 0, 0, 50000),
    GenCol("s_low", "string", Rows / 50, 0, 0, 0, 12),
    GenCol("s_mid", "string", Rows / 100, 0, 0, 0, 3000),
    GenCol("s_uniq", "string", 0, 0, 0, 0, 0),
    GenCol("b", "bool", Rows / 20, 0, 0, 0, 2),
    GenCol("s_text", "string", 0, 0, 0, 0, 16),
    GenCol("ts_low", "ts", Rows / 100, 0, 0, 0, 30),
    GenCol("ts_mid", "ts", Rows / 100, 0, 0, 0, 10000),
    GenCol("ts_uniq", "ts", 0, 0, 0, 0, 0))
  private val names = cols.map(_.name)
  private val schema = StructType(cols.map(c => StructField(c.name, c.dataType)) :+
    StructField("seg", IntegerType, nullable = false))
  private val gen = BatchGen(seed, Rows, cols, Segments)
  // HLL bounds at three standard deviations: the default one-sigma
  // interval misses the true count about a third of the time by design.
  private val profiler = new Profiler(MetricConfig(numStdDev = 3))

  private var path = ""
  private lazy val truth: Map[String, ColTruth] = cols.indices.map(c => names(c) -> colTruth(c)).toMap
  private var segRows = Map.empty[String, Long]
  private var segNulls = Map.empty[(String, String), Long]

  def setup(dir: String): Unit = {
    path = s"$dir/batch"
    val g = gen
    spark.range(0, Rows, 1, Files)
      .mapPartitions(it => it.map(i => g.row(i)))(Encoders.row(schema))
      .write.parquet(path)
    truth // computed once, inside the set-up time
    val segOf = Array.tabulate(Rows)(i => gen.segment(i))
    segRows = segOf.groupBy(identity).map { case (s, xs) => s.toString -> xs.length.toLong }
    segNulls = cols.indices.flatMap { c =>
      val counts = new Array[Long](Segments)
      var i = 0
      while (i < Rows) {
        if (gen.slot(c, i) < cols(c).nulls) counts(segOf(i)) += 1
        i += 1
      }
      counts.indices.map(s => (s.toString, names(c)) -> counts(s))
    }.toMap
  }

  private def colTruth(c: Int): ColTruth = {
    val col = cols(c)
    val m = Rows - col.specials
    val values = (0 until m).map(k => gen.base(c, k))
    val distinct = values.distinct.length.toLong +
      Seq(col.nan, col.posInf, col.negInf).count(_ > 0)
    val sorted =
      if (col.numeric) values.map {
        case i: Int => i.toDouble
        case l: Long => l.toDouble
        case d: Double => d
      }.toArray.sorted
      else Array.emptyDoubleArray
    val freq =
      if (col.card > 0 && col.card <= 16 && col.kind != "double") values.groupBy {
        case b: Boolean => if (b) "True" else "False"
        case v => String.valueOf(v)
      }.map { case (k, vs) => k -> vs.length.toLong }
      else Map.empty[String, Long]
    val trueCount = values.count(_ == true).toLong
    ColTruth(col, Rows, distinct, trueCount, sorted.headOption, sorted.lastOption, sorted, freq)
  }

  private def read(): DataFrame = spark.read.schema(schema).parquet(path)

  private def profileOnce(rec: Rec): DatasetProfileView =
    if (!rec.traced) profiler.profile(read(), Some(names))
    else {
      val df = read()
      val pdf = rec.span("profiler.construct")(profiler.profileDF(df, Some(names)))
      val row = rec.span("profiler.collect")(pdf.collect()(0))
      rec.span("profiler.parse")(Profiler.parseRow(row, 0, profiler.config.quantiles))
    }

  private def segmented(rec: Rec): Map[Seq[String], DatasetProfileView] =
    rec.span("profiler.profile_segmented")(profiler.profileSegmented(read(), Seq("seg")))

  def nominalRoundSeconds: Double = 2.0

  /** Successive rounds of one run took 7.7, 2.0, 2.0, 1.9, 1.7, 1.7 and
    * 1.5 s on the reference host: the second round is not yet on the
    * flatter part of the climb. */
  override def warmUpRounds: Int = 2

  def round(ph: Phase, rec: Rec): Unit = ph.round(2L * Rows) {
    ph.op(rec, "profile")(profileOnce(rec))(checkWhole) +
      ph.op(rec, "segmented_profile")(segmented(rec))(checkSegments)
  }

  def opMetrics(ph: Phase): Map[String, Double] = {
    val p50 = Stats.median(ph.of("profile"))
    Map(
      "profile_s_p50" -> p50,
      "profile_s_tail" -> Stats.tail(ph.of("profile")),
      "profile_cells_per_s" -> Rows.toDouble * cols.length / p50,
      "segmented_profile_s_p50" -> Stats.median(ph.of("segmented_profile")))
  }

  override def probes(rec: Tracer, ph: Phase): Map[String, Double] = {
    val noop = Workload.probe(ProbeReps) {
      read().select(names.map(F.col): _*).write.format("noop").mode("overwrite").save()
    }
    val ablations = Seq(
      "counts" -> Namespace.Counts, "types" -> Namespace.Types, "ints" -> Namespace.Ints,
      "kll" -> Namespace.Distribution, "hll" -> Namespace.Cardinality,
      "fi" -> Namespace.FrequentItems).map { case (label, ns) =>
      val p = new Profiler(MetricConfig(), ResolverSpec(byKind = _ => Seq(ns)))
      s"metrics.update_s.$label" -> Workload.probe(ProbeReps) {
        p.profileDF(read(), Some(names)).collect()
      }
    }
    (("scan.noop_s" -> noop) +: ablations).toMap
  }

  // ---- output checks ----

  private def checkWhole(view: DatasetProfileView): Seq[String] =
    names.flatMap { n =>
      view.columns.get(n) match {
        case None => Seq(s"$n missing")
        case Some(cv) => checkColumn(truth(n), cv)
      }
    }

  private def checkColumn(t: ColTruth, cv: ColumnProfileView): Seq[String] = {
    val col = t.col
    val nonNull = t.n - col.nulls
    val p = Seq.newBuilder[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) p += s"${col.name} $what: got $got want $want"
    cv.counts match {
      case None => p += s"${col.name} counts missing"
      case Some(c) =>
        expect("n", c.n, t.n); expect("nulls", c.nulls, col.nulls.toLong)
        expect("nan", c.nan, col.nan.toLong); expect("inf", c.inf, (col.posInf + col.negInf).toLong)
        expect("true", c.trueCount, t.trueCount)
    }
    cv.types.foreach { ty =>
      val got = col.kind match {
        case "double" => ty.fractional
        case "string" => ty.string
        case "bool" => ty.boolean
        case _ => ty.integral
      }
      expect("type count", got, if (col.kind == "double") nonNull - col.nan else nonNull)
    }
    if (col.kind == "int" || col.kind == "long") cv.ints match {
      case None => p += s"${col.name} ints missing"
      case Some(i) =>
        expect("min", i.min.map(_.toDouble), t.min); expect("max", i.max.map(_.toDouble), t.max)
    }
    cv.cardinality match {
      case None => p += s"${col.name} cardinality missing"
      case Some(h) =>
        if (t.distinct < h.lower || t.distinct > h.upper)
          p += s"${col.name} distinct ${t.distinct} outside HLL [${h.lower}, ${h.upper}]"
    }
    if (col.numeric) cv.distribution match {
      case None => p += s"${col.name} distribution missing"
      case Some(d) =>
        expect("dist n", d.n, t.sorted.length.toLong)
        expect("dist min", d.min, t.min); expect("dist max", d.max, t.max)
        val i = d.quantileRanks.indexOf(0.5)
        if (i < 0 || i >= d.quantiles.length) p += s"${col.name} no median"
        else {
          val q = d.quantiles(i)
          val eps = d.sketch.getNormalizedRankError(false) * KllTolerance
          val below = lowerBound(t.sorted, q).toDouble / t.sorted.length
          val atOrBelow = upperBound(t.sorted, q).toDouble / t.sorted.length
          if (atOrBelow < 0.5 - eps || below > 0.5 + eps)
            p += s"${col.name} median $q has rank [$below, $atOrBelow], tolerance $eps"
        }
    }
    if (t.freq.nonEmpty) cv.frequentItems match {
      case None => p += s"${col.name} frequent items missing"
      case Some(fi) =>
        val got = fi.items.map(it => it.value -> it.estimate).toMap
        t.freq.foreach { case (v, cnt) => expect(s"frequency of $v", got.get(v), Some(cnt)) }
    }
    p.result()
  }

  private def checkSegments(segs: Map[Seq[String], DatasetProfileView]): Seq[String] = {
    val keys = segs.keySet.map(_.head)
    if (keys != segRows.keySet) Seq(s"segments ${keys.size}, want ${segRows.size}")
    else segs.toSeq.flatMap { case (k, view) =>
      val s = k.head
      names.flatMap { n =>
        view.columns.get(n).flatMap(_.counts) match {
          case None => Seq(s"segment $s $n counts missing")
          case Some(c) =>
            (if (c.n != segRows(s)) Seq(s"segment $s $n n ${c.n} want ${segRows(s)}") else Nil) ++
              (if (c.nulls != segNulls((s, n))) Seq(s"segment $s $n nulls ${c.nulls}") else Nil)
        }
      }
    }
  }
}

object ProfileBatch {
  val Rows = 40000
  val Files = 8
  val Segments = 64
  val ProbeReps = 2
  /** Multiple of the sketch's own 99%-confidence rank error allowed for a
    * KLL median; see the benchmark README for why it is not 1. */
  val KllTolerance = 2.0

  /** Number of elements of sorted `a` strictly below `x`. */
  def lowerBound(a: Array[Double], x: Double): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (a(mid) < x) lo = mid + 1 else hi = mid }
    lo
  }

  /** Number of elements of sorted `a` at or below `x`. */
  def upperBound(a: Array[Double], x: Double): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (a(mid) <= x) lo = mid + 1 else hi = mid }
    lo
  }
}
