package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** CPU time the hypervisor gave to other guests while this machine's
  * CPUs wanted to run, from the counters in /proc/stat (zeros where there
  * are none). */
object Steal {
  /** (steal, busy) CPU ticks since boot; busy counts user, nice, system,
    * irq, softirq and steal, not idle or I/O wait. */
  def ticks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (f(7), f(0) + f(1) + f(2) + f(5) + f(6) + f(7))
    } catch { case _: Exception => (0L, 0L) }

  /** Stolen share of busy CPU time between two [[ticks]] readings, in %. */
  def pct(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 > from._2) 100.0 * (to._1 - from._1) / (to._2 - from._2) else 0.0
}

/** Peak heap use over an interval: the peaks of the JVM's heap memory
  * pools, reset at its start and summed at its end. */
object Heap {
  import scala.jdk.CollectionConverters._
  private def pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeaks(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def liveMb: Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
}

/** Samples and failure accounting of one timed phase, kept per round.
  * A round in which the hypervisor stole more than [[Phase.StealLimitPct]]
  * of the busy CPU time is "stolen", and [[Workload.run]] may run
  * another in its place. Every round is checked, but only the `planned`
  * rounds with the least steal count in [[of]], [[rows]] and [[busy]]. */
final class Phase(planned: Int = Int.MaxValue) {
  private final class Round {
    val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    var rows = 0L
    var busy = 0.0
    var stealPct = 0.0
  }
  private val rounds = mutable.ArrayBuffer[Round]()
  private var current = new Round // ops outside any round (warm-up)

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  private def stolen(r: Round) = r.stealPct > Phase.StealLimitPct
  private def kept: Seq[Round] = rounds.sortBy(_.stealPct).take(planned).toSeq
  def cleanRounds: Int = rounds.count(r => !stolen(r))
  def stolenRounds: Int = rounds.count(stolen)
  def allRounds: Int = rounds.length
  def leftOut: Int = rounds.length - kept.length
  def stealPcts: Seq[Double] = rounds.map(_.stealPct).toSeq

  def add(key: String, seconds: Double): Unit =
    current.samples.getOrElseUpdate(key, mutable.ArrayBuffer[Double]()) += seconds
  def of(key: String): Seq[Double] = kept.flatMap(_.samples.getOrElse(key, Nil))
  /** Samples of `key` in every round, stolen ones included. */
  def count(key: String): Int = rounds.map(_.samples.get(key).fold(0)(_.length)).sum
  /** Input rows consumed and wall seconds the measured operations were busy. */
  def rows: Long = kept.map(_.rows).sum
  def busy: Double = kept.map(_.busy).sum

  /** Books `rowsDone` input rows and `seconds` of busy time to the round. */
  def book(rowsDone: Long, seconds: Double): Unit = {
    current.rows += rowsDone
    current.busy += seconds
  }

  /** Runs `body` as one round and reads the steal over it. The round
    * ends, untimed, with a full collection, so every round starts from a
    * collected heap. */
  def roundOf(body: => Unit): Unit = {
    val r = new Round
    rounds += r
    current = r
    val steal0 = Steal.ticks()
    try body finally {
      r.stealPct = Steal.pct(steal0, Steal.ticks())
      current = new Round
    }
    System.gc()
  }

  /** A round whose `ops` return their summed wall seconds: its latency is
    * booked as the sample `round`. */
  def round(rowsDone: Long)(ops: => Double): Unit = roundOf {
    val seconds = ops
    add("round", seconds)
    book(rowsDone, seconds)
  }

  /** Books the attempted and failed operations of `other` here too. */
  def absorb(other: Phase): Unit = {
    attempted += other.attempted
    failed += other.failed
    other.failures.foreach(f => if (failures.length < 20) failures += f)
  }

  def fail(what: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += what
  }

  /** Runs one operation: times `run`, then verifies its result outside the
    * timed interval. A throw from either side, or a `check` that returns a
    * non-empty problem list, counts the operation as failed. Returns the
    * seconds `run` took. */
  def op[T](rec: Rec, kind: String)(run: => T)(check: T => Seq[String]): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(rec.op(kind)(run)) catch { case e: Exception => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    add(kind, dt)
    res match {
      case Left(e) => fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) =>
        val problems = try check(v) catch { case e: Exception => Seq(s"check threw $e") }
        if (problems.nonEmpty) fail(s"$kind: ${problems.take(3).mkString("; ")}")
    }
    dt
  }
}

object Phase {
  /** Steal share of busy CPU time above which a round is run again: on
    * the 4-vCPU reference host a quiet round sees about 1 %, and rounds
    * with 8–20 % ran up to 1.5× as long. */
  val StealLimitPct = 2.0
}

/** One benchmark workload: seeded inputs written in `setup`, then a
  * closed loop of rounds, each starting after the previous completed. */
trait Workload {
  /** Writes this workload's inputs under `dir` from the seed and keeps
    * their ground truth. The last call's inputs are the ones measured. */
  def setup(dir: String): Unit
  /** Seconds one round takes on the reference host (4 vCPUs). A run of
    * `--seconds s` measures `max(1, round(s / nominal))` rounds, so every
    * run of a workload measures the same work whatever the host's speed. */
  def nominalRoundSeconds: Double
  /** Runs one round of checked operations into `ph`. */
  def round(ph: Phase, rec: Rec): Unit
  /** Metric name → value for the workload-specific op figures. */
  def opMetrics(ph: Phase): Map[String, Double]
  /** Traced-only probes of single layers, run after the traced phase.
    * Checked operations a probe runs count their failures into `ph`. */
  def probes(rec: Tracer, ph: Phase): Map[String, Double] = Map.empty

  /** Untimed rounds before the measured ones. Enough that the measured
    * rounds start near the end of the JIT climb: on the reference host
    * a workload's rounds get faster for its first few rounds. */
  def warmUpRounds: Int = 1

  /** Untimed rounds on the inputs: JIT, codegen and caches. */
  def warmUp(rec: Rec): Unit = {
    val ph = new Phase
    (1 to warmUpRounds).foreach(_ => round(ph, rec))
    require(ph.failed == 0, s"warm-up failed: ${ph.failures.mkString(" | ")}")
  }

  /** Runs `rounds` rounds that no steal hit. Stolen rounds are replaced
    * by up to half as many again, rounded down, which bounds a run's
    * length on a host that steals all the time; then the least stolen
    * `rounds` of them count. */
  def run(rounds: Int, rec: Rec): Phase = {
    val ph = new Phase(rounds)
    val limit = rounds + rounds / 2
    while (ph.cleanRounds < rounds && ph.allRounds < limit) round(ph, rec)
    ph
  }

  /** For the traced run: untraced and traced rounds in turn, `rounds` of
    * each, the traced one first in every other pair, so that both sides
    * see about the same JIT state. */
  def runPaired(rounds: Int, tracer: Rec): (Phase, Phase) = {
    val (plain, traced) = (new Phase(rounds), new Phase(rounds))
    (1 to rounds).foreach { i =>
      if (i % 2 == 0) round(plain, NoRec)
      round(traced, tracer)
      if (i % 2 == 1) round(plain, NoRec)
    }
    (plain, traced)
  }
}

object Workload {
  val Names = Seq("profile_batch", "profile_monitor", "exact_analytics")

  def apply(name: String, spark: SparkSession, seed: Long, clock: StreamClock): Workload = name match {
    case "profile_batch"   => new ProfileBatch(spark, seed)
    case "profile_monitor" => new ProfileMonitor(spark, seed, clock)
    case "exact_analytics" => new ExactAnalytics(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Seconds `body` takes. */
  def time(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of `reps` timed runs of `body` (for the traced probes). */
  def probe(reps: Int)(body: => Any): Double = Stats.median((1 to reps).map(_ => time(body)))
}
