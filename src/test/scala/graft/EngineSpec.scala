package graft

import graft.core.Field
import graft.frontier.{Canonical, Politeness, Scheduler, SeenSet}
import graft.ops.{ExportImportOp, VerifyOp}
import graft.synth.Synth
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CanonicalSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def canon(url: String): String =
    Seq(Tuple1(url)).toDF("url").select(Canonical.canonicalUrl($"url")).head.getString(0)

  test("canonicalization contract") {
    assert(canon("https://EX.com:443/a?b=2&a=1#f") == "https://ex.com/a?a=1&b=2")
    assert(canon("http://ex.com:80/a") == "http://ex.com/a")
    assert(canon("http://ex.com:8080/a") == "http://ex.com:8080/a")
    assert(canon("https://ex.com.") == "https://ex.com/")
    assert(canon("HTTP://User@Ex.Com/P?z=1") == "http://ex.com/P?z=1") // path case kept
  }
}

class SeenSetSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("bloom probe + anti-join confirm ≡ exact anti-join at any fpp") {
    val candidates = (0L until 2000L).map(k => (k, s"url-$k")).toDF("url_key", "url")
    val seen = (0L until 2000L by 3).toDF("url_key")
    val expected = SeenSet.dedupeExact(candidates, seen, "url_key")
      .select("url_key").as[Long].collect().sorted
    for (fpp <- Seq(0.5, 0.01)) { // even absurd fpp must not change results
      val buckets = SeenSet.buildBuckets(seen, "url_key", 8, 1000, fpp)
      val got = SeenSet.probeAndConfirm(candidates, seen, "url_key", buckets, 8)
        .select("url_key").as[Long].collect().sorted
      assert(got.sameElements(expected), s"fpp=$fpp")
    }
  }
}

class PolitenessSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("schedule is deterministic across partitioning (north rule W3)") {
    val frontier = Scheduler.canonicalize(
      Synth.frontierSeed(spark, 3000, nHosts = 50).toDF()
        .select($"url", $"priority_band"))
    val robots = Synth.robots(spark, 50).toDF()
    def run(parts: Int) =
      Politeness.schedule(Politeness.applyRobots(frontier.repartition(parts), robots))
        .select("canonical_url", "host_seq", "scheduled_ms")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(run(1).sameElements(run(16)))
  }

  test("robots disallow prefixes drop URLs; delay defaults when no entry") {
    val f = Scheduler.canonicalize(Seq(
      ("https://h1.example.test/private0/x", 0),
      ("https://h1.example.test/ok", 0),
      ("https://unknown.example.test/ok", 0)).toDF("url", "priority_band"))
    val robots = Seq(("h1.example.test", 100, Seq("/private0")))
      .toDF("host", "crawl_delay_ms", "disallow_prefixes")
    val out = Politeness.applyRobots(f, robots)
      .select("canonical_url", "crawl_delay_ms").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.size == 2)
    assert(out("https://h1.example.test/ok") == 100L)
    assert(out("https://unknown.example.test/ok") == Politeness.DefaultDelayMs)
  }

  test("applyRobotsMap (crawl-lifetime broadcast) == applyRobots (join), runRoundCached == runRound") {
    val raw = Synth.frontierSeed(spark, 3000, nHosts = 40).toDF()
      .select($"url", $"priority_band")
    val robots = Synth.robots(spark, 40).toDF()
    val bc = Politeness.robotsBroadcast(robots)
    val f = Scheduler.canonicalize(raw)
    val a = Politeness.applyRobots(f, robots)
      .select("canonical_url", "crawl_delay_ms")
    val b = Politeness.applyRobotsMap(f, bc)
      .select("canonical_url", "crawl_delay_ms")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val seen = Scheduler.loadSeen(spark, "/tmp/none")
    val r1 = Scheduler.runRound(raw, seen, robots)
      .select("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    val r2 = Scheduler.runRoundCached(raw, seen, bc)
      .select("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    assert(r1.exceptAll(r2).isEmpty && r2.exceptAll(r1).isEmpty)
  }

  test("fused probe-free round == agg-dedupe composition, incl. a hot host") {
    // half the frontier on one degenerate host → the hot leg is active;
    // the fused round must equal capPerHost over the plain composition
    val raw = Synth.frontierSeed(spark, 3000, nHosts = 40).toDF()
      .select($"url", $"priority_band")
      .unionByName(spark.range(900).toDF("i").select(
        concat(lit("https://hot.example.test/u/"), $"i").as("url"),
        lit(0).as("priority_band")))
    val robots = Synth.robots(spark, 40).toDF()
    val cols = Seq("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    val got = Scheduler.runRound(raw, Scheduler.loadSeen(spark, "/tmp/none"),
        robots, maxPerHostPerRound = 500)
      .select(cols.map(col): _*)
    val want = Politeness.fetchBatches(Politeness.schedule(Politeness.capPerHost(
        Politeness.applyRobots(
          Scheduler.dedupeWithinBatch(Scheduler.canonicalize(raw)), robots), 500)), 100)
      .select(cols.map(col): _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("dedupeWithinHostAgg == dedupeWithinHost on the bare cold-leg schema") {
    // band ties (min url wins), band differences (min band wins), a
    // boundary band (99999), several hosts, and null-url rows — the
    // all-null canonical group must collapse to ONE null row with the
    // min band in BOTH forms
    val rows = Seq(
      ("https://a.test/x?v=1", 3, "a.test", "https://a.test/x"),
      ("https://a.test/x?v=0", 3, "a.test", "https://a.test/x"), // tie: min url
      ("https://a.test/x", 7, "a.test", "https://a.test/x"),     // loses on band
      ("https://a.test/y", 99999, "a.test", "https://a.test/y"), // band boundary
      ("https://b.test/x", 0, "b.test", "https://b.test/x"),     // same canonical, other host
      (null, 9, null, null),
      (null, 5, null, null), // null group winner: band 5
      ("https://b.test/z", 1, "b.test", "https://b.test/z")
    ).toDF("url", "priority_band", "host", "canonical_url")
    val cols = Seq("url", "priority_band", "host", "canonical_url").map(col)
    val win = Scheduler.dedupeWithinHost(rows).select(cols: _*)
    val agg = Scheduler.dedupeWithinHostAgg(rows).select(cols: _*)
    assert(win.exceptAll(agg).isEmpty && agg.exceptAll(win).isEmpty)
    assert(agg.count() == 5)
    val nullRow = agg.where(col("url").isNull).collect()
    assert(nullRow.length == 1 && nullRow.head.getInt(1) == 5)
  }

  test("clustered round on a bucketed frontier == repartitioned round, fewer exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val raw = Synth.frontierSeed(spark, 3000, nHosts = 40).toDF()
      .select($"url", $"priority_band")
      .withColumn("host", Canonical.hostOf($"url"))
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    spark.sql("DROP TABLE IF EXISTS graft_test_frontier")
    raw.repartition(4, $"host").write.mode("overwrite").bucketBy(4, "host")
      .option("path", s"$dir/frontier").saveAsTable("graft_test_frontier")
    val table = spark.table("graft_test_frontier")
    val robots = Synth.robots(spark, 40).toDF()
    val seen = Scheduler.loadSeen(spark, "/tmp/none")
    val cols = Seq("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    val clustered = Scheduler.runRound(table, seen, robots,
      frontierHostClustered = true)
    val plain = Scheduler.runRound(raw, seen, robots)
    val a = clustered.select(cols.map(col): _*)
    val b = plain.select(cols.map(col): _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // the bucketed scan's hashpartitioning(host) must eliminate the
    // cold leg's full-frontier exchange (hot-leg exchanges remain);
    // AQE off for the inspection — AdaptiveSparkPlanExec hides the
    // exchanges until execution
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def nEx(df: org.apache.spark.sql.DataFrame, clustered: Boolean) =
        Scheduler.runRound(df, seen, robots, frontierHostClustered = clustered)
          .queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }.size
      assert(nEx(table, true) < nEx(raw, false),
        s"clustered=${nEx(table, true)} plain=${nEx(raw, false)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("knownHotHosts (write-time lineage metrics) == per-round hot count; supersets are no-ops") {
    // skewed input: one over-cap host + many cold hosts
    val raw = Synth.frontierSeed(spark, 2000, nHosts = 20).toDF()
      .select($"url", $"priority_band")
      .unionByName((1 to 800).toDF("i").select(
        concat(lit("https://hot.example.test/u/"), $"i").as("url"),
        lit(0).as("priority_band")))
      .withColumn("host", Canonical.hostOf($"url"))
    val robots = Synth.robots(spark, 20).toDF()
    val seen = Scheduler.loadSeen(spark, "/tmp/none")
    val cols = Seq("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    val cap = 500
    // hotSpreadRows pinned to the cap: this test exercises the SALTED
    // spread leg driven by metrics vs counts (with the auto threshold a
    // 900-row host would just take the cold leg's post-schedule cap
    // filter — covered by the warm-host test below)
    val metrics = Scheduler.hotHosts(raw, maxPerHostPerRound = cap,
      hotSpreadRows = cap)
    assert(metrics.contains("hot.example.test"))
    val counted = Scheduler.runRound(raw, seen, robots, maxPerHostPerRound = cap,
        hotSpreadRows = cap)
      .select(cols.map(col): _*)
    val fromMetrics = Scheduler.runRound(raw, seen, robots,
        maxPerHostPerRound = cap, knownHotHosts = Some(metrics),
        hotSpreadRows = cap)
      .select(cols.map(col): _*)
    assert(counted.exceptAll(fromMetrics).isEmpty &&
      fromMetrics.exceptAll(counted).isEmpty)
    // a write-time SUPERSET (metrics captured before some cold host's
    // URLs were consumed) must not change the output: capping a
    // below-cap host is a no-op
    val superset = Scheduler.runRound(raw, seen, robots,
        maxPerHostPerRound = cap, hotSpreadRows = cap,
        knownHotHosts = Some(metrics ++ Array("h00003.example.test")))
      .select(cols.map(col): _*)
    assert(counted.exceptAll(superset).isEmpty &&
      superset.exceptAll(counted).isEmpty)
  }

  test("frontierHostClustered stays a performance contract when it LIES") {
    // the flag's doc promises: if the input is NOT actually clustered,
    // the output is unchanged (Catalyst used to self-heal via the
    // declared window/agg distributions; the fused pass now self-heals
    // via its own planned-partitioning check + repartition). A
    // round-robin-partitioned frontier with the flag set must equal the
    // honest run — pre-check, hosts straddle partitions and the fused
    // scan would emit duplicate host_seq values and uncollapsed dups.
    val raw = Synth.frontierSeed(spark, 2500, nHosts = 30).toDF()
      .select($"url", $"priority_band")
      .withColumn("host", Canonical.hostOf($"url"))
    val lying = raw.repartition(13) // round-robin: hosts straddle
    val robots = Synth.robots(spark, 30).toDF()
    val seen = Scheduler.loadSeen(spark, "/tmp/none")
    val cols = Seq("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    val a = Scheduler.runRound(lying, seen, robots, frontierHostClustered = true)
      .select(cols.map(col): _*)
    val b = Scheduler.runRound(raw, seen, robots)
      .select(cols.map(col): _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("fused pass survives null priority_band rows") {
    // a nullable band must not crash the Option[Int] encoder, and the
    // null band orders FIRST within its host — same as the window form
    val raw = Synth.frontierSeed(spark, 800, nHosts = 10).toDF()
      .select($"url", $"priority_band")
      .unionByName(Seq(("https://h00001.example.test/nullband", null.asInstanceOf[Integer]))
        .toDF("url", "priority_band").select($"url", $"priority_band".cast("int")))
    val robots = Synth.robots(spark, 10).toDF()
    val seen = Scheduler.loadSeen(spark, "/tmp/none")
    val out = Scheduler.runRound(raw, seen, robots)
    val nullRow = out.where($"canonical_url".contains("nullband"))
      .select($"priority_band", $"host_seq").collect()
    assert(nullRow.length == 1 && nullRow.head.isNullAt(0))
    // nulls-first politeness order: the null-band row is its host's seq 1
    assert(nullRow.head.getLong(1) == 1L)
  }

  test("fused pass accepts a LONG priority_band column (pre-fusion parity)") {
    // a spark.range/pmod-derived frontier carries a BIGINT band; the
    // pre-fusion agg/window dedupe paths accepted it, so the fused
    // .as[FusedIn] (Option[Int] field) must cast rather than fail
    // analysis with an up-cast error
    val raw = Synth.frontierSeed(spark, 600, nHosts = 8).toDF()
      .select($"url", $"priority_band")
    val robots = Synth.robots(spark, 8).toDF()
    val seen = Scheduler.loadSeen(spark, "/tmp/none")
    val cols = Seq("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    val a = Scheduler.runRound(raw.withColumn("priority_band",
        $"priority_band".cast("long")), seen, robots)
      .select(cols.map(col): _*)
    val b = Scheduler.runRound(raw, seen, robots).select(cols.map(col): _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("warm host (over cap, under spread threshold): cold-leg filter == spread leg") {
    // one warm host (800 rows, cap 300) + cold hosts + null-url rows:
    // the auto spread threshold keeps the warm host in the exchange-free
    // cold leg, capped by the post-schedule host_seq filter; forcing
    // hotSpreadRows = cap routes it through the salted spread leg. Both
    // forms must emit identical rows — including batch_id, which derives
    // from host_seq (the filter must preserve the capPerHost-then-
    // schedule numbering exactly).
    val raw = Synth.frontierSeed(spark, 1500, nHosts = 25).toDF()
      .select($"url", $"priority_band")
      .unionByName((1 to 800).toDF("i").select(
        concat(lit("https://warm.example.test/u/"), $"i").as("url"),
        ($"i" % 3).as("priority_band")))
      .unionByName(Seq((null.asInstanceOf[String], 1)).toDF("url", "priority_band"))
    val robots = Synth.robots(spark, 25).toDF()
    val seen = Scheduler.loadSeen(spark, "/tmp/none")
    val cols = Seq("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    val cap = 300
    val filtered = Scheduler.runRound(raw, seen, robots, maxPerHostPerRound = cap)
      .select(cols.map(col): _*)
    val spreadLeg = Scheduler.runRound(raw, seen, robots, maxPerHostPerRound = cap,
        hotSpreadRows = cap)
      .select(cols.map(col): _*)
    assert(filtered.exceptAll(spreadLeg).isEmpty &&
      spreadLeg.exceptAll(filtered).isEmpty)
    // the warm host actually got capped
    val warmRows = Scheduler.runRound(raw, seen, robots, maxPerHostPerRound = cap)
      .where($"host" === "warm.example.test").count()
    assert(warmRows == cap)
  }

  test("fused seen round (both tables host-clustered) == probe path, zero exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // skewed frontier + a hot host + null-url rows
    val raw = Synth.frontierSeed(spark, 3000, nHosts = 40).toDF()
      .select($"url", $"priority_band")
      .unionByName((1 to 900).toDF("i").select(
        concat(lit("https://hot.example.test/u/"), $"i").as("url"),
        lit(0).as("priority_band")))
      .unionByName(Seq((null.asInstanceOf[String], 2), (null.asInstanceOf[String], 5))
        .toDF("url", "priority_band"))
      .withColumn("host", Canonical.hostOf($"url"))
    // seen set = every other canonical the frontier contains (has host)
    val seenPlain = Scheduler.canonicalize(raw.drop("host"))
      .where(xxhash64($"canonical_url") % 2 === 0)
      .select($"host", $"url_key").distinct()
    val dir = java.nio.file.Files.createTempDirectory("graft-fused").toString
    spark.sql("DROP TABLE IF EXISTS graft_test_fused_frontier")
    raw.repartition(4, $"host").write.mode("overwrite").bucketBy(4, "host")
      .option("path", s"$dir/frontier").saveAsTable("graft_test_fused_frontier")
    Scheduler.saveSeenClustered(seenPlain, s"$dir/seen", buckets = 4)
    val table = spark.table("graft_test_fused_frontier")
    val seenTable = Scheduler.loadSeenClustered(spark, s"$dir/seen", buckets = 4)
    val robots = Synth.robots(spark, 40).toDF()
    val cols = Seq("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    val fused = Scheduler.runRound(table, seenTable, robots,
        maxPerHostPerRound = 500, frontierHostClustered = true,
        seenHostClustered = true)
      .select(cols.map(col): _*)
    val probe = Scheduler.runRound(raw, seenPlain, robots,
        maxPerHostPerRound = 500)
      .select(cols.map(col): _*)
    assert(fused.exceptAll(probe).isEmpty && probe.exceptAll(fused).isEmpty)
    // cold-leg plan: with a high cap (no hot host) and AQE off, the
    // fused round over two host-clustered tables must plan ZERO shuffle
    // exchanges — the anti-join, dedupe agg and politeness window are
    // all satisfied by the storage layout
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val nEx = Scheduler.runRound(table, seenTable, robots,
          maxPerHostPerRound = 100000, frontierHostClustered = true,
          seenHostClustered = true)
        .queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.size
      assert(nEx == 0, s"expected zero exchanges, got $nEx")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("fused seen round preserves extra frontier columns (hot host included)") {
    // a frontier carrying columns beyond (url, band, host) — e.g. depth —
    // must keep them through the FUSED round's cold leg exactly like the
    // probe path does: the agg dedupe would silently drop extras and the
    // hot-leg union would then throw on the schema mismatch
    val raw = Synth.frontierSeed(spark, 1200, nHosts = 20).toDF()
      .select($"url", $"priority_band")
      .unionByName((1 to 400).toDF("i").select(
        concat(lit("https://hot.example.test/u/"), $"i").as("url"),
        lit(0).as("priority_band")))
      .withColumn("host", Canonical.hostOf($"url"))
      .withColumn("depth", (xxhash64($"url") % 5).cast("int"))
    val seenPlain = Scheduler.canonicalize(raw.drop("host", "depth"))
      .where(xxhash64($"canonical_url") % 2 === 0)
      .select($"host", $"url_key").distinct()
    val dir = java.nio.file.Files.createTempDirectory("graft-fused-extra").toString
    spark.sql("DROP TABLE IF EXISTS graft_test_fused_extra")
    raw.repartition(4, $"host").write.mode("overwrite").bucketBy(4, "host")
      .option("path", s"$dir/frontier").saveAsTable("graft_test_fused_extra")
    Scheduler.saveSeenClustered(seenPlain, s"$dir/seen", buckets = 4)
    val robots = Synth.robots(spark, 20).toDF()
    val fused = Scheduler.runRound(spark.table("graft_test_fused_extra"),
      Scheduler.loadSeenClustered(spark, s"$dir/seen", buckets = 4), robots,
      maxPerHostPerRound = 200, frontierHostClustered = true,
      seenHostClustered = true)
    assert(fused.columns.contains("depth"), "extra column dropped by fused round")
    val cols = Seq("canonical_url", "depth", "host_seq", "scheduled_ms")
    val probe = Scheduler.runRound(raw.drop("depth")
        .withColumn("depth", (xxhash64($"url") % 5).cast("int")),
      seenPlain, robots, maxPerHostPerRound = 200)
    val f = fused.select(cols.map(col): _*)
    val p = probe.select(cols.map(col): _*)
    assert(f.exceptAll(p).isEmpty && p.exceptAll(f).isEmpty)
  }

  test("appendSeenClustered grows the seen table in place, fused round stays zero-exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val raw = Synth.frontierSeed(spark, 2500, nHosts = 30).toDF()
      .select($"url", $"priority_band")
      .withColumn("host", Canonical.hostOf($"url"))
    val canon = Scheduler.canonicalize(raw.drop("host"))
    // round-1 seen = xxhash%3==0 third; round-2 delta = %3==1 third
    val seen1 = canon.where(xxhash64($"canonical_url") % 3 === 0)
      .select($"host", $"url_key").distinct()
    val delta = canon.where(xxhash64($"canonical_url") % 3 === 1)
      .select($"host", $"url_key").distinct()
    val dir = java.nio.file.Files.createTempDirectory("graft-append").toString
    spark.sql("DROP TABLE IF EXISTS graft_test_append_frontier")
    raw.repartition(4, $"host").write.mode("overwrite").bucketBy(4, "host")
      .option("path", s"$dir/frontier").saveAsTable("graft_test_append_frontier")
    Scheduler.saveSeenClustered(seen1, s"$dir/seen", buckets = 4)
    // append includes some already-seen keys (overlap is harmless dupes)
    Scheduler.appendSeenClustered(delta.unionByName(seen1.limit(50)),
      s"$dir/seen", buckets = 4)
    val table = spark.table("graft_test_append_frontier")
    val seenTable = Scheduler.loadSeenClustered(spark, s"$dir/seen", buckets = 4)
    val robots = Synth.robots(spark, 30).toDF()
    val cols = Seq("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    val fused = Scheduler.runRound(table, seenTable, robots,
        maxPerHostPerRound = 500, frontierHostClustered = true,
        seenHostClustered = true)
      .select(cols.map(col): _*)
    val probe = Scheduler.runRound(raw, seen1.unionByName(delta),
        robots, maxPerHostPerRound = 500)
      .select(cols.map(col): _*)
    assert(fused.exceptAll(probe).isEmpty && probe.exceptAll(fused).isEmpty)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val nEx = Scheduler.runRound(table, seenTable, robots,
          maxPerHostPerRound = 100000, frontierHostClustered = true,
          seenHostClustered = true)
        .queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.size
      assert(nEx == 0, s"append broke bucketed co-location: $nEx exchanges")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("robotsBroadcast refuses a table past the size guard") {
    val robots = Synth.robots(spark, 50).toDF()
    val e = intercept[IllegalArgumentException] {
      Politeness.robotsBroadcast(robots, maxHosts = 10L)
    }
    assert(e.getMessage.contains("per-round broadcast join"))
  }

  test("robotsStage auto-fallback: identical round output on either side of the guard") {
    // 50 hosts vs maxHosts 49/50: one side takes the map-broadcast form,
    // the other falls back to the per-round join — same rows either way,
    // and neither throws (the point of the auto form)
    val raw = Synth.frontierSeed(spark, 2500, nHosts = 50).toDF()
      .select($"url", $"priority_band")
    val robots = Synth.robots(spark, 50).toDF()
    val seen = Scheduler.loadSeen(spark, "/tmp/none")
    val cols = Seq("canonical_url", "host_seq", "scheduled_ms", "batch_id")
    val viaMap = Scheduler.runRoundStaged(raw, seen,
        Politeness.robotsStage(robots, maxHosts = 50L))
      .select(cols.map(col): _*)
    val viaJoin = Scheduler.runRoundStaged(raw, seen,
        Politeness.robotsStage(robots, maxHosts = 49L))
      .select(cols.map(col): _*)
    assert(viaMap.exceptAll(viaJoin).isEmpty && viaJoin.exceptAll(viaMap).isEmpty)
  }

  test("full round: dedupe removes injected ~10% duplicates; batches respect budget") {
    val raw = Synth.frontierSeed(spark, 2000, nHosts = 30).toDF()
      .select($"url", $"priority_band")
    val robots = Synth.robots(spark, 30).toDF()
    val out = Scheduler.runRound(raw, Scheduler.loadSeen(spark, "/tmp/none"), robots,
      perHostBudget = 5)
    val n = out.count()
    val distinctCanon = out.select("canonical_url").distinct().count()
    assert(n == distinctCanon) // deduped
    assert(n < 2000)           // duplicates actually existed and were removed
    val maxPerBatch = out.groupBy("host", "batch_id").count()
      .agg(max("count")).head.getLong(0)
    assert(maxPerBatch <= 5)
  }
}

class ExportImportSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("export → import round-trip incl. empty and exact-multiple payloads") {
    val df = Seq((1L, "x" * 200), (2L, ""), (3L, "y" * 64), (4L, "short"))
      .toDF("id", "payload")
    val rt = ExportImportOp.roundTrip(df, "id", "payload")
    assert(rt.count() == 4)
    assert(rt.where(!col("ok")).count() == 0)
  }

  test("corrupted chunk fails the checksum handshake (import.rs:190-222)") {
    val df = Seq((1L, "hello world payload")).toDF("id", "payload")
    val chunks = ExportImportOp.exportChunks(df, "id", "payload")
      .withColumn("chunk", concat(col("chunk"), lit("CORRUPT")))
    val declared = ExportImportOp.exportBlockEnd(df, "id", "payload")
    val rebuilt = ExportImportOp.importReassemble(chunks)
    val ok = rebuilt.join(declared, Seq("id"))
      .select(md5(col("payload").cast("binary")) === col("payload_md5")).head.getBoolean(0)
    assert(!ok)
  }
}

class VerifyOpSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("seeded generator records verify clean (reference functional baseline, " +
    "test_decode.rs:122-125)") {
    val records = Synth.warcRecordsDf(spark, round = 0)
    assert(VerifyOp.problems(records).count() == 0)
    assert(VerifyOp.missingReferences(records).count() == 0)
    assert(VerifyOp.segmentProblems(records).count() == 0)
  }

  test("missing references: anti-join rows incl. null ids and null targets; " +
    "decoded once, no cache entry left") {
    def rec(pos: Long, fields: (String, String)*) =
      (pos, "f", "WARC/1.1", fields.map { case (n, v) => Field(n, v) })
    val input = Seq(
      rec(1, "WARC-Record-ID" -> "<a>", "WARC-Concurrent-To" -> "<b>",
        "WARC-Concurrent-To" -> "<zz>"),
      rec(2, "WARC-Record-ID" -> "<b>", "warc-refers-to" -> "<a>",
        "WARC-Warcinfo-ID" -> "<missing>"),
      rec(3, "WARC-Refers-To" -> "<a>", "WARC-Refers-To" -> "<gone>"), // no id
      rec(4, "WARC-Record-ID" -> null, "WARC-Concurrent-To" -> "<b>"), // null id
      rec(5, "WARC-Record-ID" -> "<e>", "WARC-Refers-To" -> null), // null target
      rec(6, "WARC-Record-ID" -> "<a>", "WARC-Warcinfo-ID" -> "<zz>"), // duplicate id
      rec(7, "WARC-Record-ID" -> "<g>", "WARC-Record-ID" -> "<zz>") // first id counts
    )
    // every read of the input counts its rows: one call must read it once
    val reads = spark.sparkContext.longAccumulator("missing-refs reads")
    val df = spark.sparkContext.parallelize(input, 2).map { r => reads.add(1); r }
      .toDF("position", "file", "version", "fields")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2),
        Option(r.getString(3)))).sortBy(_.toString).toSeq
    val kind = "referenced_record_missing"
    assert(rows(VerifyOp.missingReferences(df)) == Seq(
      (1L, Some("<a>"), kind, Some("WARC-Concurrent-To -> <zz>")),
      (2L, Some("<b>"), kind, Some("WARC-Warcinfo-ID -> <missing>")),
      (3L, None, kind, Some("WARC-Refers-To -> <gone>")),
      (5L, Some("<e>"), kind, None),
      (6L, Some("<a>"), kind, Some("WARC-Warcinfo-ID -> <zz>"))).sortBy(_.toString))
    assert(reads.sum == input.size)
    assert(rows(VerifyOp.missingReferences(df, Seq("WARC-Refers-To"))) == Seq(
      (3L, None, kind, Some("WARC-Refers-To -> <gone>")),
      (5L, Some("<e>"), kind, None)).sortBy(_.toString))
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore)
  }

  test("positions are exact cumulative serialized offsets (test_decode.rs:77-78)") {
    val recs = Synth.warcRecords(round = 1, n = 20)
    var expect = 0L
    recs.foreach { r =>
      assert(r.position == expect)
      expect += graft.core.HeaderSerde.recordLength(r.version, r.fields, r.bytes.length.toLong)
    }
  }

  test("block digest comparison catches corruption (verify.rs:813-832)") {
    val recs = Synth.warcRecords(round = 0, n = 10)
    val bad = recs.head.copy(bytes = recs.head.bytes :+ 0x00.toByte)
    val all = bad +: recs.tail
    val mismatches = all.count { r =>
      val declared = r.fields.find(_.name == "WARC-Block-Digest").get.value
      !graft.core.Digests.computeText("sha1", r.bytes).contains(declared)
    }
    assert(mismatches == 1)
  }

  test("segment gap and total-length checks (verify.rs:266-319)") {
    def seg(pos: Long, origin: String, n: Long, len: Long, total: Option[Long],
            tpe: String = "continuation") = {
      val base = Seq(Field("WARC-Record-ID", s"<urn:s:$pos>"), Field("WARC-Type", tpe),
        Field("WARC-Date", "2025-01-01T00:00:00Z"), Field("Content-Length", len.toString),
        Field("WARC-Segment-Number", n.toString),
        Field("WARC-Segment-Origin-ID", origin)) ++
        total.map(t => Field("WARC-Segment-Total-Length", t.toString))
      (pos, "f", "WARC/1.1", base)
    }
    val df = Seq(
      seg(1, "<o:good>", 1, 10, None), seg(2, "<o:good>", 2, 20, Some(30L)),
      seg(3, "<o:gap>", 1, 10, None), seg(4, "<o:gap>", 3, 10, Some(20L)),
      seg(5, "<o:len>", 1, 10, None), seg(6, "<o:len>", 2, 10, Some(99L))
    ).toDF("position", "file", "version", "fields")
    val p = VerifyOp.segmentProblems(df).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(p.contains(("<o:gap>", "missing_segment")))
    assert(p.contains(("<o:len>", "mismatched_segment_length")))
    assert(!p.exists(_._1 == "<o:good>"))
  }
}

class SynthAndMultimodalSpec extends AnyFunSuite {
  import graft.pipeline.Multimodal

  test("synthesizer is deterministic (same seed → identical rows)") {
    val a = Synth.makeImage(42, 7)
    val b = Synth.makeImage(42, 7)
    assert(a.bytes.sameElements(b.bytes) && a.caption == b.caption && a.phash == b.phash)
    assert(!Synth.makeImage(43, 7).bytes.sameElements(a.bytes))
  }

  test("images decode; jpeg meets the PSNR≥40dB gate vs source pixels " +
    "(BASELINE.json per-row invariant)") {
    for (i <- 0L until 12L) {
      val row = Synth.makeImage(42, i)
      val img = Multimodal.decode(row.bytes)
      assert(img.isDefined, s"row $i (${row.fmt}) must decode")
      assert(img.get.getWidth == row.w && img.get.getHeight == row.h)
      if (row.fmt == "jpeg") {
        // re-encode decoded pixels and compare round-trip stability
        val re = Multimodal.encode(img.get, "jpeg")
        val p = Multimodal.psnr(img.get, Multimodal.decode(re).get)
        assert(p >= 40.0, s"jpeg row $i psnr=$p")
      }
    }
  }

  test("fidelity gate: identical tables pass, corrupted caption fails") {
    import TestSpark.spark
    val imgs = Synth.images(spark, 30).toDF()
    assert(Multimodal.fidelityProblems(imgs, imgs).count() == 0)
    val broken = imgs.withColumn("caption",
      when(col("image_id") === "img-00000003", lit("WRONG")).otherwise(col("caption")))
    val probs = Multimodal.fidelityProblems(imgs, broken).collect()
    assert(probs.length == 1 && probs.head.getString(0) == "img-00000003")
  }

  test("phash: stable under jpeg re-encode, far for different images") {
    val a = Synth.makeImage(42, 0) // png
    val img = Multimodal.decode(a.bytes).get
    val jpeg = Multimodal.decode(Multimodal.encode(img, "jpeg")).get
    assert(Multimodal.hamming64(Multimodal.phash64(img), Multimodal.phash64(jpeg)) <= 4)
    val other = Multimodal.decode(Synth.makeImage(42, 9).bytes).get
    assert(Multimodal.hamming64(Multimodal.phash64(img), Multimodal.phash64(other)) > 4)
  }

  test("frontier seed has injected duplicates and host skew") {
    import TestSpark.spark
    import spark.implicits._
    val seeds = Synth.frontierSeed(spark, 5000, nHosts = 200)
    val urls = seeds.select("url").as[String].collect()
    assert(urls.distinct.length < urls.length) // dups exist
    val hostCounts = urls.groupBy(u => u.split('/')(2)).view.mapValues(_.length).toMap
    assert(hostCounts.values.max > 3 * (urls.length / hostCounts.size)) // skew exists
  }
}
