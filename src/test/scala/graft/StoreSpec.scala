package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
import org.apache.spark.sql.{functions => F}

import graft.api.{Profiler, ProfileStore}
import graft.profile.ProfileSerde

/** Profile serde + parquet store. */
class StoreSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "store-spec-").toString

  test("GRFT1 serde round-trips every metric summary exactly") {
    val li = table("lineitem")
    val view = new Profiler().profile(li)
    val back = ProfileSerde.fromBytes(ProfileSerde.toBytes(view))
    assert(back.columns.keySet == view.columns.keySet)
    assert(back.summaryRows == view.summaryRows)
    // sketch payloads stay usable after the round trip
    val c = "l_quantity"
    val d0 = view.columns(c).distribution.get
    val d1 = back.columns(c).distribution.get
    assert(d1.sketch.getMaxItem == d0.sketch.getMaxItem)
    assert(view.columns("l_returnflag").frequentItems.get.items ==
      back.columns("l_returnflag").frequentItems.get.items)
  }

  test("store write/readMerged over a date range equals the whole profile") {
    val li = table("lineitem")
    val p = new Profiler()
    val store = new ProfileStore(spark, tmpDir())
    val day0 = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli
    (0 until 3).foreach { i =>
      store.write(p.profile(li.filter(F.col("l_orderkey") % 3 === i)),
        "li", day0 + i * 86400000L)
    }
    val merged = store.readMerged("li", day0, day0 + 2 * 86400000L)
    val whole = p.profile(li)
    for (c <- whole.columns.keys) {
      assert(merged.columns(c).counts == whole.columns(c).counts, c)
      assert(merged.columns(c).ints == whole.columns(c).ints, c)
      (merged.columns(c).distribution, whole.columns(c).distribution) match {
        case (Some(m), Some(w)) =>
          assert(m.n == w.n, c); assert(m.min == w.min, c); assert(m.max == w.max, c)
          assert(math.abs(m.mean - w.mean) < 1e-9 * math.max(1.0, math.abs(w.mean)), c)
        case (m, w) => assert(m.isEmpty == w.isEmpty, c)
      }
    }
    // date-range pruning: a window covering only day 0 sees 1/3 of rows
    val d0only = store.readMerged("li", day0, day0)
    assert(d0only.columns("l_orderkey").counts.get.n < whole.columns("l_orderkey").counts.get.n)
  }

  test("file writer/reader round trip") {
    val view = new graft.api.Profiler().profile(table("nation"))
    val path = tmpDir() + "/profile.bin"
    ProfileSerde.writeTo(view, path)
    assert(ProfileSerde.readFrom(path).summaryRows == view.summaryRows)
  }

  test("validator actions fire only on failing conditions") {
    import graft.analysis.{Condition, Conditions, ValidatorActions}
    val fired = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = Conditions.validate(table("orders"), Seq(
      Condition("always_ok", F.lit(true)),
      Condition("price_tiny", F.col("o_totalprice") <= 1000.0)),
      identityColumn = "o_orderkey")
    ValidatorActions.withActions(results,
      Seq(r => fired += r.condition))
    assert(fired.toSeq == Seq("price_tiny"))
    intercept[IllegalStateException] {
      ValidatorActions.withActions(results, Seq(ValidatorActions.raiseAction))
    }
  }

  test("model-performance wrapper: merge law + serde round trip") {
    import graft.analysis.ModelPerf
    val orders = table("orders")
    val tl = F.when(F.col("o_orderstatus") === "F", "1").otherwise("0")
    val pl = F.when(F.col("o_totalprice") < 150000.0, "1").otherwise("0")
    val whole = ModelPerf.confusionMatrix(orders, tl, pl)
    val a = ModelPerf.confusionMatrix(orders.filter(F.col("o_orderkey") % 2 === 0), tl, pl)
    val b = ModelPerf.confusionMatrix(orders.filter(F.col("o_orderkey") % 2 =!= 0), tl, pl)
    assert(a.merge(b).cells.view.mapValues(_._1).toMap ==
      whole.cells.view.mapValues(_._1).toMap)
    val reg = ModelPerf.regression(table("lineitem"),
      F.col("l_extendedprice"), F.col("l_extendedprice") * 1.1)
    val view = ModelPerf.attach(
      new graft.api.Profiler().profile(orders, Some(Seq("o_orderkey"))),
      confusion = Some(whole), regression = Some(reg))
    val rt = ProfileSerde.fromBytes(ProfileSerde.toBytes(view))
    assert(rt.modelPerformance == view.modelPerformance)
    // estimator sanity: uniform reference accuracy => estimate equals it
    val est = graft.analysis.AccuracyEstimator.estimate(
      Map("s" -> whole), Map("s" -> 100L))
    assert(est.segments.head.refAccuracy == est.estimatedAccuracy)
  }

  test("embedding metric: distance bundles + closest counts") {
    import graft.pipeline.Embeddings
    val emb = table("embeddings")
    val refs = Embeddings.referencesFromCorpus(emb, "vec_id", "embedding", 3)
    val view = Embeddings.profile(emb, "embedding", refs)
    val subs = view.subMetrics("embedding")
    assert(subs.keySet == Set("ref0_distance", "ref1_distance", "ref2_distance", "closest"))
    val n = emb.count()
    assert(subs("ref0_distance").distribution.get.n == n)
    // each reference vector is its own closest reference (distance 0)
    assert(subs("ref0_distance").distribution.get.min.get == 0.0)
    val closestTotal = subs("closest").frequentItems.get.items.map(_.estimate).sum
    assert(closestTotal == n)
  }

  test("segmented distributed write + readSegments") {
    val li = table("lineitem")
    val p = new Profiler()
    val store = new ProfileStore(spark, tmpDir())
    val seg = p.profileSegmentedDF(li, Seq("l_returnflag"))
    val ts = java.time.Instant.parse("2024-03-05T00:00:00Z").toEpochMilli
    store.writeSegmented(seg, 1, "li_seg", ts)
    val segs = store.readSegments("li_seg", ts, ts)
    val expected = li.select("l_returnflag").distinct()
      .collect().map(_.getString(0)).toSet
    assert(segs.keySet == expected)
    val totalN = segs.values.map(_.columns("l_quantity").counts.get.n).sum
    assert(totalN == li.count())
  }

  test("compact collapses per-day rows, preserves reads, leaves other data alone") {
    val li = table("lineitem")
    val p = new Profiler()
    val dir = tmpDir()
    val store = new ProfileStore(spark, dir)
    val day0 = java.time.Instant.parse("2024-04-01T00:00:00Z").toEpochMilli
    // 3 appends into day 0, 2 into day 1, plus an untouched sibling dataset
    (0 until 3).foreach { i =>
      store.write(p.profile(li.filter(F.col("l_orderkey") % 3 === i)),
        "li_c", day0 + i * 1000L)
    }
    (0 until 2).foreach { i =>
      store.write(p.profile(li.limit(10)), "li_c", day0 + 86400000L + i * 1000L)
    }
    store.write(p.profile(li.limit(5)), "li_other", day0)
    val before = store.readMerged("li_c", day0, day0 + 2 * 86400000L)
    store.compact("li_c", day0, day0 + 2 * 86400000L)
    // one row per (date, segment) now
    val rows = store.read("li_c", day0, day0 + 2 * 86400000L)
    assert(rows.length === 2)
    // merged rows keep each group's earliest dataset_ts
    assert(rows.map(_._1).toSet === Set(day0, day0 + 86400000L))
    // reads are merge-equivalent: exact metrics unchanged
    val after = store.readMerged("li_c", day0, day0 + 2 * 86400000L)
    for (c <- before.columns.keys) {
      assert(after.columns(c).counts === before.columns(c).counts, c)
      assert(after.columns(c).ints === before.columns(c).ints, c)
    }
    // the sibling dataset's partition was not rewritten
    val other = store.read("li_other", day0, day0)
    assert(other.length === 1)
    assert(other.head._2.columns("l_quantity").counts.get.n === 5L)
  }

  test("compact merges segmented rows per (date, segment)") {
    val li = table("lineitem")
    val p = new Profiler()
    val store = new ProfileStore(spark, tmpDir())
    val ts = java.time.Instant.parse("2024-04-10T00:00:00Z").toEpochMilli
    val seg = p.profileSegmentedDF(li, Seq("l_returnflag"))
    store.writeSegmented(seg, 1, "li_cs", ts)
    store.writeSegmented(seg, 1, "li_cs", ts + 1000L) // second append, same day
    val before = store.readSegments("li_cs", ts, ts + 1000L)
    store.compact("li_cs", ts, ts + 1000L)
    val segs = store.readSegments("li_cs", ts, ts + 1000L)
    assert(segs.keySet === before.keySet)
    // one row per segment remains; counts doubled rows merge-equivalently
    val nSegs = segs.size
    assert(store.read("li_cs", ts, ts + 1000L).length === nSegs)
    segs.foreach { case (k, v) =>
      assert(v.columns("l_quantity").counts.get.n ===
        before(k).columns("l_quantity").counts.get.n, k)
    }
  }

  test("NULL segment values stay distinct from the string 'null'") {
    import spark.implicits._
    val df = Seq((null: String, 1.0), ("null", 2.0), ("null", 3.0))
      .toDF("seg", "value")
    val p = new Profiler()
    val segDF = p.profileSegmentedDF(df, Seq("seg"))
    val store = new ProfileStore(spark, tmpDir())
    val ts = java.time.Instant.parse("2024-03-06T00:00:00Z").toEpochMilli
    store.writeSegmented(segDF, 1, "nulls", ts)
    val segs = store.readSegments("nulls", ts, ts)
    assert(segs.size == 2, s"got keys ${segs.keySet}")
    assert(segs("null").columns("value").counts.get.n == 2)
    val nullKey = segs.keySet.find(_ != "null").get
    assert(segs(nullKey).columns("value").counts.get.n == 1)
  }

  test("metadata strings beyond the 64KB writeUTF bound round-trip") {
    val big = "x" * 100000
    val view = graft.profile.DatasetProfileView(
      Map("c" -> graft.profile.ColumnProfileView(
        counts = Some(graft.profile.CountsSummary(1, 0, 0, 0, 0)))),
      metadata = Map("note" -> big))
    val back = graft.profile.ProfileSerde.fromBytes(graft.profile.ProfileSerde.toBytes(view))
    assert(back.metadata("note") == big)
  }

  private val Day = 86400000L

  /** 40 daily profiles of one dataset ("daily"), from one segmented
    * profiling job; `day0` is the first day. More dates than Spark's
    * parallel-listing threshold (32). */
  private lazy val (dailyDir, day0) = {
    val dir = tmpDir()
    val d0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val rows = spark.range(40 * 50).select(
      (F.col("id") % 40).as("day"), F.col("id").as("v"), (F.col("id") * 7 % 13).as("w"))
    val byDay = new Profiler().profileSegmented(rows, Seq("day"))
    new ProfileStore(spark, dir).writeAll(
      byDay.toSeq.map { case (k, view) => view -> (d0 + k.head.toLong * Day) }, "daily")
    (dir, d0)
  }

  test("range reads of an absent dataset or an empty window return nothing") {
    val store = new ProfileStore(spark, dailyDir)
    assert(store.read("absent", day0, day0 + 10 * Day).isEmpty)
    assert(store.readSegments("absent", day0, day0 + 10 * Day).isEmpty)
    assert(store.readMerged("absent", day0, day0 + 10 * Day).columns.isEmpty)
    // a window before the first and one after the last written date
    assert(store.read("daily", day0 - 10 * Day, day0 - Day).isEmpty)
    assert(store.read("daily", day0 + 50 * Day, day0 + 60 * Day).isEmpty)
    // a reversed window
    assert(store.read("daily", day0 + 5 * Day, day0).isEmpty)
  }

  test("a store root that does not exist fails with PATH_NOT_FOUND") {
    val store = new ProfileStore(spark, tmpDir() + "/absent")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      store.read("daily", 0L, Day)
    }
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("dataset ids that need path escaping are found under their escaped directory") {
    val dir = tmpDir()
    val store = new ProfileStore(spark, dir)
    val view = new Profiler().profile(table("nation"), Some(Seq("n_nationkey")))
    val ids = Seq("ds one", "a=b", "a", "p%q", "x/y")
    ids.zipWithIndex.foreach { case (id, i) =>
      store.writeAll(Seq.fill(i + 1)(view -> day0), id)
    }
    ids.zipWithIndex.foreach { case (id, i) =>
      assert(new java.io.File(dir, s"dataset_id=${escapePathName(id)}").isDirectory, id)
      assert(store.read(id, day0, day0).length == i + 1, id)
    }
  }

  test("an open-ended read (0, Long.MaxValue) returns every profile") {
    val store = new ProfileStore(spark, dailyDir)
    val all = store.read("daily", 0L, Long.MaxValue)
    assert(all.map(_._1) == (0 until 40).map(d => day0 + d * Day))
    assert(store.readMerged("daily", 0L, Long.MaxValue).columns("v").counts.get.n == 40 * 50)
  }

  test("a window of more than 32 dates merges like a pruned whole-store read") {
    val store = new ProfileStore(spark, dailyDir)
    val (from, to) = (day0 + 2 * Day, day0 + 36 * Day + 1000L)
    val (lo, hi) = (ProfileStore.dateOf(from), ProfileStore.dateOf(to))
    // the root-listing reader: Spark discovers every partition, then prunes
    val pruned = spark.read.parquet(dailyDir)
      .filter(F.col("dataset_id") === "daily")
      .filter(F.col("date") >= lo && F.col("date") <= hi)
      .filter(F.col("dataset_ts") >= from && F.col("dataset_ts") <= to)
      .select("dataset_ts", "profile").collect()
      .map(r => r.getLong(0) -> ProfileSerde.fromBytes(r.getAs[Array[Byte]](1)))
      .sortBy(_._1)
    assert(store.read("daily", from, to).map(_._1) == pruned.map(_._1).toSeq)
    val whole = pruned.map(_._2).foldLeft(graft.profile.DatasetProfileView.empty)(_ merge _)
    val merged = store.readMerged("daily", from, to)
    assert(merged.columns("v").counts.get.n == 35 * 50)
    assert(merged.columns.keySet == whole.columns.keySet)
    // KLL compaction is randomized, so compare the exact fields
    for ((c, w) <- whole.columns; m = merged.columns(c)) {
      assert(m.counts == w.counts && m.types == w.types && m.ints == w.ints, c)
      assert(m.distribution.map(d => (d.n, d.min, d.max)) ==
        w.distribution.map(d => (d.n, d.min, d.max)), c)
      assert(m.cardinality.map(_.estimate) == w.cardinality.map(_.estimate), c)
    }
  }

  test("a 7-day readMerged on a 40-day store runs exactly one Spark job") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val store = new ProfileStore(spark, dailyDir)
    val sc = spark.sparkContext
    val (readGroup, flushGroup) = ("store-spec-read", "store-spec-flush")
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`readGroup`)  => jobs.incrementAndGet()
          case Some(`flushGroup`) => flushed.countDown()
          case _                  =>
        }
    }
    dailyDir // write the store before listening
    sc.addSparkListener(listener)
    val merged = try {
      sc.setJobGroup(readGroup, "readMerged")
      val m = try store.readMerged("daily", day0 + 10 * Day, day0 + 17 * Day - 1)
        finally sc.clearJobGroup()
      // the listener bus is FIFO: once the flush job's start arrives,
      // every job the read started has been seen
      sc.setJobGroup(flushGroup, "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      m
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 1, s"${jobs.get} jobs for one 7-day read")
    assert(merged.columns("v").counts.get.n == 7 * 50)
  }
}
