package perfbench

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}

import graft.analysis.{DriftExact, Outliers}
import graft.pipeline.{Dedup, Graph}

/** Row generator for the exact_analytics value table; serializable.
  * Heavy-tailed columns with ~1 % planted outliers per column and drift
  * planted in `y` on the target rows (`grp = 0`). */
final case class ExactGen(seed: Long) {
  def grp(i: Long): Int = Rng.below(seed, 10, i, 3)

  def value(c: Int, i: Long): Double = {
    val u = Rng.u01(seed, 20 + c, i) * 0.998 + 0.001
    if (Rng.u01(seed, 30 + c, i) < 0.01) {
      val sign = if (Rng.u01(seed, 40 + c, i) < 0.5) -1.0 else 1.0
      sign * (1e4 + 1e4 * Rng.u01(seed, 50 + c, i))
    } else c match {
      case 0 => Rng.cauchy(u)
      case 1 => 2 * Rng.logistic(u) + (if (grp(i) == 0) 3.0 else 0.0)
      case 2 => math.exp(Rng.logistic(u))
    }
  }

  def row(i: Long): Row = Row(value(0, i), value(1, i), value(2, i), grp(i))
}

/** `exact_analytics`: multi-job exact operators. Each round runs, in
  * order, `Outliers.madOutliers` and `DriftExact.ksStats` on a seeded
  * heavy-tailed table with planted outliers and a target/ref split, then
  * `Dedup.nearDupClusters` (64 permutations, 32 bands, threshold 0.5) on
  * a seeded corpus with planted near-duplicate clusters of 2 to 20
  * documents, and `Graph.pageRank` on the pairs it found. Their time
  * goes to eager driver jobs at construction and small-side collects. */
final class ExactAnalytics(spark: SparkSession, seed: Long) extends Workload {
  import ExactAnalytics._

  private val gen = ExactGen(seed)
  private val schema = StructType(Seq(StructField("x", DoubleType), StructField("y", DoubleType),
    StructField("z", DoubleType), StructField("grp", IntegerType)))
  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  private var dir = ""
  private var mad = Map.empty[String, (Double, Double, Long)]
  private var ks = Map.empty[String, (Double, Long, Long)]
  private var clusters = Set.empty[Set[Long]]
  private var ranks = Map.empty[Long, Long]
  private var lastClusters = 0L

  def setup(dir: String): Unit = {
    this.dir = dir
    val g = gen
    spark.range(0, Rows, 1, Files)
      .mapPartitions(it => it.map(i => g.row(i)))(Encoders.row(schema))
      .write.parquet(s"$dir/values")
    val (docs, planted) = corpus()
    spark.createDataFrame(spark.sparkContext.parallelize(docs, Files), docSchema)
      .write.parquet(s"$dir/docs")
    clusters = planted
    ranks = expectedRanks(planted)
    val cols = Seq("x", "y", "z").zipWithIndex
    mad = cols.map { case (c, j) => c -> madTruth(Array.tabulate(Rows)(i => gen.value(j, i))) }.toMap
    val target = Array.tabulate(Rows)(i => gen.grp(i) == 0)
    ks = cols.map { case (c, j) =>
      val v = Array.tabulate(Rows)(i => gen.value(j, i))
      c -> ksTruth(v.indices.filter(target).map(v).toArray, v.indices.filterNot(target).map(v).toArray)
    }.toMap
  }

  /** Documents of [[DocWords]] random words; planted clusters are a base
    * document and variants with two words replaced, so every pair in a
    * cluster has word-3-shingle Jaccard ≥ 0.65 and documents of different
    * clusters share almost no shingles. Ids are a seeded permutation. */
  private def corpus(): (Seq[Row], Set[Set[Long]]) = {
    val ids = Rng.perm(seed, 60, Docs)
    def word(stream: Long, i: Long) = "w" + Rng.below(seed, stream, i, Vocab)
    def doc(d: Int): Array[String] = Array.tabulate(DocWords)(w => word(61, d.toLong * DocWords + w))
    val texts = new Array[String](Docs)
    val planted = Set.newBuilder[Set[Long]]
    var d = 0
    var c = 0
    while (d < Docs * ClusteredShare / 100) {
      val size = math.min(2 + Rng.below(seed, 62, c, 19), Docs * ClusteredShare / 100 - d)
      val base = doc(d)
      (0 until size).foreach { m =>
        val words = base.clone()
        if (m > 0) (0 until 2).foreach { r =>
          words(Rng.below(seed, 63, (d + m) * 2L + r, DocWords)) = word(64, (d + m) * 2L + r)
        }
        texts(d + m) = words.mkString(" ")
      }
      if (size >= 2) planted += (d until d + size).map(x => ids(x).toLong + 1).toSet
      d += size
      c += 1
    }
    while (d < Docs) { texts(d) = doc(d).mkString(" "); d += 1 }
    (texts.indices.map(i => Row(ids(i).toLong + 1, texts(i))), planted.result())
  }

  private def read(): DataFrame = spark.read.schema(schema).parquet(s"$dir/values")
  private def docs(): DataFrame = spark.read.schema(docSchema).parquet(s"$dir/docs")

  private def timedPair[A, B](rec: Rec, name: String)(construct: => A)(action: A => B): B = {
    val a = rec.span(s"exact.$name.construct")(construct)
    rec.span(s"exact.$name.action")(action(a))
  }

  private def outliers(rec: Rec) = timedPair(rec, "outliers")(
    Outliers.madOutliers(read(), Seq("x", "y", "z")))(_.collect().toSeq)

  private def driftExact(rec: Rec) = timedPair(rec, "drift_exact")(
    DriftExact.ksStats(read(), Seq("x", "y", "z"), F.col("grp") === 0))(identity)

  private def dedup(rec: Rec) = timedPair(rec, "dedup")(
    Dedup.nearDupClusters(docs(), "text", "doc_id", numPerm = 64, bands = 32, threshold = 0.5))(
    _.collect().toSeq)

  /** PageRank over the pairs the dedup step found: each clustered
    * document linked to its cluster's keeper. */
  private def pageRank(rec: Rec, clustered: Seq[Row]) = timedPair(rec, "pagerank") {
    val edges = clustered.filter(r => r.getAs[Long]("doc_id") != r.getAs[Long]("component"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component")))
    Graph.pageRank(spark.createDataFrame(edges).toDF("a", "b"), "a", "b", iters = Iters)
  }(_.collect().toSeq)

  private def checkOutliers(rows: Seq[Row]): Seq[String] = {
    val got = rows.map(r => r.getAs[String]("col_name") ->
      (r.getAs[Double]("med"), r.getAs[Double]("mad"), r.getAs[Long]("n_outliers"))).toMap
    val n = rows.map(_.getAs[Long]("n")).distinct
    (if (n != Seq(Rows.toLong)) Seq(s"mad n $n") else Nil) ++
      (if (got != mad) Seq(s"mad $got want $mad") else Nil)
  }

  private def checkKs(got: Map[String, (Double, Long, Long)]): Seq[String] =
    if (got != ks) Seq(s"ks $got want $ks")
    else if (ks("y")._1 < 0.2 || ks("x")._1 > 0.05) Seq(s"planted drift not separated: $ks")
    else Nil

  private def checkDedup(rows: Seq[Row]): Seq[String] = {
    val found = rows.groupBy(_.getAs[Long]("component"))
      .map { case (_, rs) => rs.map(_.getAs[Long]("doc_id")).toSet }.toSet
    lastClusters = found.size
    val badKeep = rows.exists(r => r.getAs[Boolean]("keep") != (r.getAs[Long]("doc_id") == r.getAs[Long]("component")))
    (if (found != clusters) Seq(s"clusters: ${found.size} found, ${clusters.size} planted") else Nil) ++
      (if (badKeep) Seq("keep flag is not id == component") else Nil)
  }

  private def checkRanks(rows: Seq[Row]): Seq[String] = {
    val got = rows.map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank")).toMap
    if (got != ranks) Seq(s"pagerank differs on ${(got.keySet ++ ranks.keySet).count(k => got.get(k) != ranks.get(k))} vertices")
    else Nil
  }

  def round(ph: Phase, rec: Rec): Unit = ph.round(2L * Rows + 2L * Docs) {
    val a = ph.op(rec, "outliers")(outliers(rec))(checkOutliers)
    val b = ph.op(rec, "drift_exact")(driftExact(rec))(checkKs)
    var clustered = Seq.empty[Row]
    val c = ph.op(rec, "dedup") { clustered = dedup(rec); clustered }(checkDedup)
    val d = ph.op(rec, "pagerank")(pageRank(rec, clustered))(checkRanks)
    ph.add("dedup_graph", c + d)
    a + b + c + d
  }

  def nominalRoundSeconds: Double = 5.3

  /** Successive rounds of one run took 12.4, 6.8, 5.7, 5.4 and 5.1 s on
    * the reference host, so the measured rounds are the third and later. */
  override def warmUpRounds: Int = 2

  def opMetrics(ph: Phase): Map[String, Double] = Map(
    "outliers_s_p50" -> Stats.median(ph.of("outliers")),
    "drift_exact_s_p50" -> Stats.median(ph.of("drift_exact")),
    "dedup_graph_s_p50" -> Stats.median(ph.of("dedup_graph")))

  override def probes(rec: Tracer, ph: Phase): Map[String, Double] = {
    val pairs = Dedup.minHashNearDups(docs(), "text", "doc_id",
      numPerm = 64, bands = 32, threshold = 0.5).count()
    Map("dedup.pairs" -> pairs.toDouble, "dedup.clusters" -> lastClusters.toDouble)
  }
}

object ExactAnalytics {
  /** Odd, so every median is one order statistic. */
  val Rows = 6001
  val Files = 4
  val Docs = 600
  val DocWords = 60
  val Vocab = 20000
  val ClusteredShare = 30
  val Iters = 3
  val Scale = 1000000000000L
  val DampingPct = 85

  /** Exact type-7 median, MAD and MAD-fence outlier count, with the same
    * floating-point expressions `Outliers.madOutliers` documents. */
  def madTruth(v: Array[Double], k: Double = 3.0, scale: Double = 1.4826): (Double, Double, Long) = {
    def median(a: Array[Double]): Double = {
      val s = a.sorted
      val h = 0.5 * (s.length - 1)
      val f = h - math.floor(h)
      (1.0 - f) * s(math.floor(h).toInt) + f * s(math.ceil(h).toInt)
    }
    val med = median(v)
    val mad = median(v.map(x => math.abs(x - med)))
    val lo = med - k * (scale * mad)
    val hi = med + k * (scale * mad)
    (med, mad, v.count(x => x < lo || x > hi).toLong)
  }

  /** Exact two-sample KS as (D, nTarget, nRef), D from the integral
    * numerator max |cumT·nRef − cumR·nTarget| as `DriftExact` defines it. */
  def ksTruth(t: Array[Double], r: Array[Double]): (Double, Long, Long) = {
    val a = t.sorted; val b = r.sorted
    val na = a.length.toLong; val nb = b.length.toLong
    var i = 0; var j = 0; var num = 0L
    while (i < a.length || j < b.length) {
      val x = if (j >= b.length || (i < a.length && a(i) <= b(j))) a(i) else b(j)
      while (i < a.length && a(i) == x) i += 1
      while (j < b.length && b(j) == x) j += 1
      num = math.max(num, math.abs(i * nb - j * na))
    }
    (num.toDouble / (na * nb).toDouble, na, nb)
  }

  /** Fixed-point PageRank of disjoint stars — every member of a cluster
    * linked to the cluster's smallest id — in the integer arithmetic
    * `Graph.pageRank` documents: a centre of degree s − 1 and its leaves
    * of degree 1, so one (centre, leaf) pair of ranks per cluster size. */
  def expectedRanks(clusters: Set[Set[Long]]): Map[Long, Long] = {
    val n = clusters.toSeq.map(_.size.toLong).sum
    val base = (Scale * (100L - DampingPct) / 100L) / n
    clusters.toSeq.flatMap { c =>
      val leaves = c.size - 1L
      var centre = Scale / n
      var leaf = Scale / n
      (0 until Iters).foreach { _ =>
        val next = base + (DampingPct * (leaves * leaf)) / 100L
        leaf = base + (DampingPct * (centre / leaves)) / 100L
        centre = next
      }
      c.toSeq.map(id => id -> (if (id == c.min) centre else leaf))
    }.toMap
  }
}
