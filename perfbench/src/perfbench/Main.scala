package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>`.
  *
  * Starts Spark at `local[nproc]`, writes the workload's inputs
  * [[SetupReps]] times from the seed (the last inputs are kept), warms up
  * on them, then runs the closed loop untraced for the number of rounds
  * that `--seconds` buys at the workload's nominal round time, plus
  * replacements for rounds CPU steal hit. `setup_s` is Spark's start-up (JVM start
  * included), the median input write and the warm-up. With `--trace 1`
  * untraced and traced rounds alternate instead, as many of each, and the
  * single-layer probes follow. Writes one JSON result record to `--out`. */
object Main {
  val SetupReps = 3

  /** End-to-end metrics: name → unit. Every workload reports every one.
    * Times are wall seconds; rounds hit by CPU steal may be run again,
    * and the least stolen ones count (see [[Workload.run]]). No tail: a
    * run measures 2 to 12 rounds, too few for a percentile with ten
    * samples above it. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "round_s_p50" -> "s", "heap_peak_mb" -> "MB")

  private val SparkKinds: Seq[(String, Seq[String])] = Seq(
    "profile" -> Seq("profile"), "segmented_profile" -> Seq("segmented_profile"),
    "monitor_append" -> Seq("monitor_append"), "monitor_check" -> Seq("monitor_check"),
    "stream_batch" -> Seq("stream"), "exact" -> Seq("outliers", "drift_exact", "dedup", "pagerank"))
  private val SparkFields = Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "map_task_s" -> "s", "reduce_task_s" -> "s", "shuffle_write_bytes" -> "bytes",
    "shuffle_read_bytes" -> "bytes", "spill_bytes" -> "bytes", "gc_s" -> "s",
    "result_bytes" -> "bytes", "peak_exec_mem_mb" -> "MB")
  private val ExactOps = Seq("outliers", "drift_exact", "dedup", "pagerank")

  /** Per-layer metrics: name → unit. Every workload reports every one; a
    * layer a workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "profile_s_p50" -> "s", "profile_s_tail" -> "s", "profile_cells_per_s" -> "cells/s",
    "segmented_profile_s_p50" -> "s", "monitor_check_s_p50" -> "s", "monitor_check_s_tail" -> "s",
    "monitor_append_s_p50" -> "s", "stream_rows_per_s" -> "rows/s", "stream_batch_s_p50" -> "s",
    "stream_batch_s_tail" -> "s", "outliers_s_p50" -> "s", "drift_exact_s_p50" -> "s",
    "dedup_graph_s_p50" -> "s", "ops_failed_share" -> "share",
    "profiler.construct_s" -> "s", "profiler.parse_s" -> "s", "scan.noop_s" -> "s") ++
    Seq("counts", "types", "ints", "kll", "hll", "fi").map(n => s"metrics.update_s.$n" -> "s") ++
    SparkKinds.flatMap { case (k, _) => SparkFields.map { case (f, u) => s"spark.$k.$f" -> u } } ++
    Seq("view.merge_s" -> "s", "view.summary_s" -> "s", "serde.grft1_enc_s" -> "s",
      "serde.grft1_dec_s" -> "s", "serde.why1_enc_s" -> "s", "serde.why1_dec_s" -> "s",
      "serde.profile_bytes" -> "bytes", "store.write_s" -> "s", "store.read_s" -> "s",
      "store.files_read" -> "count", "drift.scores_s" -> "s", "constraints.report_s" -> "s") ++
    Seq("trigger_ms", "add_batch_ms", "query_planning_ms", "get_batch_ms", "latest_offset_ms",
      "wal_commit_ms", "commit_ms").map(n => s"stream.$n" -> "ms") ++
    Seq("stream.batches" -> "count", "stream.rows_per_batch" -> "count") ++
    ExactOps.flatMap(o => Seq(s"exact.$o.construct_s" -> "s", s"exact.$o.action_s" -> "s",
      s"exact.$o.jobs" -> "count")) ++
    Seq("dedup.pairs" -> "count", "dedup.clusters" -> "count", "trace.overhead_pct" -> "%")

  private val PerLayerUnits = PerLayer.toMap

  private def options(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  /** The session every run uses: local[nproc], all scratch under `work`. */
  def startSpark(work: String): SparkSession = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = options(args)
    val workload = opts("workload")
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val loadBefore = graft.PerfStamp.loadAvg()
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = startSpark(work)
    val sparkStart = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val clock = new StreamClock
    spark.streams.addListener(clock)
    try {
      val wl = Workload(workload, spark, seed, clock)
      val gens = (1 to SetupReps).map(r => Workload.time(wl.setup(s"$work/input-$r")))
      val warm = Workload.time(wl.warmUp(NoRec))
      System.err.println(f"perfbench: spark start $sparkStart%.3f s, inputs ${gens.mkString(" ")} s, warm-up $warm%.3f s")
      val setup = sparkStart + Stats.median(gens) + warm

      System.gc() // the measured rounds start from a collected heap
      Heap.resetPeaks()
      val rounds = math.max(1, math.round(seconds / wl.nominalRoundSeconds).toInt)
      val (ph, traced) =
        if (!trace) (wl.run(rounds, NoRec), None)
        else {
          val t = new Tracer(spark)
          val (plain, tph) = wl.runPaired(rounds, t)
          (plain, Some(t -> tph))
        }
      val heapPeak = Heap.peakMb
      val round = ph.of("round")
      System.err.println(s"perfbench: rounds ${round.map(r => f"$r%.3f").mkString(" ")}, " +
        s"steal % ${ph.stealPcts.map(r => f"$r%.2f").mkString(" ")}")
      val e2e = Map("setup_s" -> setup, "round_s_p50" -> Stats.median(round), "heap_peak_mb" -> heapPeak)
      val opFigures = wl.opMetrics(ph)

      val failedPh = Seq(ph) ++ traced.map(_._2)
      val (metrics, units) = traced match {
        case None => (e2e, EndToEnd.toMap)
        case Some((t, tph)) =>
          val probed = wl.probes(t, tph)
          t.flush()
          val layers = perLayer(t, ph, tph, opFigures ++ probed)
          Files.write(Paths.get(s"$work/trace-spans.jsonl"),
            t.spanLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
          t.close()
          (layers, PerLayerUnits)
      }
      val attempted = failedPh.map(_.attempted).sum
      val failed = failedPh.map(_.failed).sum
      val bad = metrics.collect { case (k, v) if v.isNaN || v.isInfinite => k }
      require(bad.isEmpty, s"metrics without a finite value: ${bad.mkString(", ")}")

      val report =
        (if (trace) Nil else EndToEnd.map { case (n, u) => s"$workload $n ${e2e(n)} $u" }) ++
          Seq(s"$workload rows_per_s ${ph.rows / ph.busy} rows/s",
            s"$workload heap_live_mb ${Heap.liveMb} MB (after the last round's collection)",
            s"$workload rounds ${ph.allRounds} run, ${ph.stolenRounds} with steal over " +
              s"${Phase.StealLimitPct}%, ${ph.leftOut} left out") ++
          opFigures.toSeq.sortBy(_._1).map { case (n, v) => s"$workload $n $v ${PerLayerUnits(n)}" } ++
          Seq(s"$workload ops_failed_share ${failed.toDouble / math.max(1L, attempted)} share " +
            s"($failed of $attempted ops failed)") ++
          failedPh.flatMap(_.failures).map(f => s"$workload FAILED $f")
      val loadAfter = graft.PerfStamp.loadAvg()
      val stamp = Map(
        "load_before" -> Json.num(loadBefore), "load_after" -> Json.num(loadAfter),
        "nproc" -> nproc.toString, "jdk" -> Json.str(System.getProperty("java.version")),
        "spark" -> Json.str(spark.version), "workload" -> Json.str(workload),
        "seed" -> seed.toString, "seconds" -> Json.num(seconds), "trace" -> (if (trace) "1" else "0"),
        "rounds_stolen" -> ph.stolenRounds.toString)
      val record = Json.obj(Seq(
        "correct" -> (if (failed == 0) "true" else "false"),
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(units(k))))
        }),
        "stamp" -> Json.obj(stamp.toSeq),
        "report" -> report.map(Json.str).mkString("[", ",", "]")))
      Files.write(Paths.get(opts("out")), (record + "\n").getBytes(StandardCharsets.UTF_8))
    } finally {
      spark.stop()
    }
  }

  /** Spark's accounting for op kind `k` as per-layer figures, per
    * operation of the kind (`ops` of them). */
  def sparkFigures(k: String, a: Acct, ops: Long): Map[String, Double] = {
    def per(n: Double) = if (ops == 0) 0.0 else n / ops
    Seq("jobs" -> per(a.jobs.toDouble), "stages" -> per(a.stages.toDouble),
      "tasks" -> per(a.tasks.toDouble),
      "map_task_s" -> per(a.mapTaskMs / 1e3), "reduce_task_s" -> per(a.reduceTaskMs / 1e3),
      "shuffle_write_bytes" -> per(a.shuffleWriteBytes.toDouble),
      "shuffle_read_bytes" -> per(a.shuffleReadBytes.toDouble),
      "spill_bytes" -> per(a.spillBytes.toDouble), "gc_s" -> per(a.gcMs / 1e3),
      "result_bytes" -> per(a.resultBytes.toDouble),
      "peak_exec_mem_mb" -> a.peakExecMem / 1048576.0).map { case (f, v) => s"spark.$k.$f" -> v }.toMap
  }

  /** `figures` holds the workload's op figures and its probes' results;
    * they win over the generic figures computed here. */
  private def perLayer(t: Tracer, ph: Phase, tph: Phase,
      figures: Map[String, Double]): Map[String, Double] = {
    def med(span: String) = { val xs = t.spanSeconds(span); if (xs.isEmpty) 0.0 else Stats.median(xs) }
    def per(n: Double, d: Long) = if (d == 0) 0.0 else n / d
    // Micro-batch jobs carry the query's id, not a job group: the stream
    // probe books them itself.
    val spark = SparkKinds.filterNot(_._1 == "stream_batch").flatMap { case (k, kinds) =>
      sparkFigures(k, t.accounting(kinds), t.opCount(kinds.head))
    }.toMap
    val exact = ExactOps.flatMap { o =>
      Seq(s"exact.$o.construct_s" -> med(s"exact.$o.construct"), s"exact.$o.action_s" -> med(s"exact.$o.action"),
        s"exact.$o.jobs" -> per(t.accounting(Seq(o)).jobs.toDouble, t.opCount(o)))
    }
    val spans = Seq("profiler.construct_s" -> "profiler.construct", "profiler.parse_s" -> "profiler.parse",
      "view.merge_s" -> "view.merge", "serde.why1_enc_s" -> "serde.why1_enc",
      "serde.why1_dec_s" -> "serde.why1_dec", "store.write_s" -> "store.write",
      "store.read_s" -> "store.read", "drift.scores_s" -> "drift.scores",
      "constraints.report_s" -> "constraints.report").map { case (m, s) => m -> med(s) }
    val overhead = (Stats.median(tph.of("round")) / Stats.median(ph.of("round")) - 1) * 100
    val failedShare = (ph.failed + tph.failed).toDouble / math.max(1L, ph.attempted + tph.attempted)
    val measured = spark ++ exact ++ spans ++ figures ++
      Map("ops_failed_share" -> failedShare, "trace.overhead_pct" -> overhead)
    val unknown = measured.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"unregistered per-layer metrics: $unknown")
    PerLayer.map { case (n, _) => n -> measured.getOrElse(n, 0.0) }.toMap
  }
}

/** Minimal JSON writing for the result record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
