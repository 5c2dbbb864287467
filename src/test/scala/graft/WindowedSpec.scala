package graft

import graft.operators.Windowed
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WindowedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("retentionCohorts: hand-built triangle, distinct-period counting, NULL exclusion") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // weeks (Mon): W0 = 2024-01-01, W1 = 2024-01-08, W2 = 2024-01-15
    val events = Seq[(Option[Long], java.sql.Timestamp)](
      // user 1: joins W0, active W0 twice (counts once), W1, W2
      (Some(1L), ts("2024-01-01 10:00:00")), (Some(1L), ts("2024-01-03 10:00:00")),
      (Some(1L), ts("2024-01-09 10:00:00")), (Some(1L), ts("2024-01-16 10:00:00")),
      // user 2: joins W0, active W0 only
      (Some(2L), ts("2024-01-02 10:00:00")),
      // user 3: joins W1, active W1 and W2
      (Some(3L), ts("2024-01-08 10:00:00")), (Some(3L), ts("2024-01-15 10:00:00")),
      // NULL user excluded entirely
      (None, ts("2024-01-01 10:00:00"))
    ).toDF("user_id", "ts")
    val out = Windowed.retentionCohorts(events, "user_id", "ts", "week")
      .collect().map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // cohort W0 = users {1, 2}; W1 = {3}
    assert(out(("2024-01-01", 0L)) == ((2L, 2L, 1.0)), "index 0 is the whole cohort")
    assert(out(("2024-01-01", 1L)) == ((1L, 2L, 0.5)), "user 1 retained in W1")
    assert(out(("2024-01-01", 2L)) == ((1L, 2L, 0.5)))
    assert(out(("2024-01-08", 0L)) == ((1L, 1L, 1.0)))
    assert(out(("2024-01-08", 1L)) == ((1L, 1L, 1.0)))
    assert(out.size == 5, "only cells with activity; NULL user contributes nowhere")
  }

  test("retentionCohorts week index survives a DST transition (calendar arithmetic)") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      // US DST starts 2024-03-10: the week of Mar 11 begins 7d-1h of
      // wall-clock seconds after the week of Mar 4 — a fixed 604800 s
      // divisor would floor that to index 0
      val events = Seq(
        (1L, ts("2024-03-04 12:00:00")),
        (1L, ts("2024-03-11 12:00:00"))
      ).toDF("user_id", "ts")
      val idx = Windowed.retentionCohorts(events, "user_id", "ts", "week")
        .select("period_index").collect().map(_.getLong(0)).toSet
      assert(idx == Set(0L, 1L),
        s"the DST-shortened week must still index as 1, got $idx")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("retentionCohorts rejects unknown units") {
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("user_id", "ts")
    intercept[IllegalArgumentException](
      Windowed.retentionCohorts(df, "user_id", "ts", "fortnight"))
  }

  test("sessionStats: hand-computed card over a planted session layout") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      // user 1: one 2-event session (120s), then a gap > 300s, then a bounce
      (1L, t(0), 10L), (1L, t(2), 11L), (1L, t(10), 12L),
      // user 2: single bounce session
      (2L, t(0), 20L)
    ).toDF("user_id", "ts", "event_id")
    val r = Windowed.sessionStats(ev, "user_id", "ts", gapSeconds = 300,
      tieBreakCol = Some("event_id")).collect()(0)
    assert(r.getAs[Long]("n_sessions") == 3 &&
      r.getAs[Long]("n_bounce_sessions") == 2)
    assert(r.getAs[Double]("avg_events") == round6(4.0 / 3))
    assert(r.getAs[Double]("avg_duration_sec") == 40.0 &&
      r.getAs[Double]("p50_duration_sec") == 0.0 &&
      r.getAs[Double]("max_duration_sec") == 120.0)
  }
  private def round6(x: Double) = math.rint(x * 1e6) / 1e6

  test("funnel: ordered step chains, same-ts admits, out-of-order excluded") {
    def t(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 00:0$s:00")
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, t("1"), "view"), (1L, t("2"), "click"), (1L, t("3"), "purchase"),
      // user 2: purchase BEFORE click -> stops at click
      (2L, t("1"), "view"), (2L, t("3"), "click"), (2L, t("2"), "purchase"),
      // user 3: view only
      (3L, t("1"), "view"),
      // user 4: same-timestamp chain counts (>=)
      (4L, t("5"), "view"), (4L, t("5"), "click"), (4L, t("5"), "purchase"),
      // user 5: clicks without ever viewing -> not in the funnel at all
      (5L, t("1"), "click"), (5L, t("2"), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val out = Windowed.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
      .orderBy("step_idx").collect()
    assert(out.map(r => (r.getString(1), r.getLong(2))).toSeq ==
      Seq(("view", 4L), ("click", 3L), ("purchase", 2L)))
    assert(out(0).isNullAt(3) && out(0).getDouble(4) == 1.0,
      "first step: NULL conv_from_prev, 1.0 conv_from_first")
    assert(out(1).getDouble(3) == 0.75 && out(2).getDouble(4) == 0.5)
    // a later re-view does NOT resurrect an out-of-order purchase:
    // user 2's purchase at t2 predates their click at t3 forever
    assert(out(2).getLong(2) == 2L)
    intercept[IllegalArgumentException](
      Windowed.funnel(ev, "user_id", "ts", "event_type", Seq("view", "view")))
  }

  test("funnelTimings: adjacent-pair latencies over converting users only") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      (1L, t(0), "view"), (1L, t(1), "click"), (1L, t(5), "purchase"),
      (2L, t(0), "view"), (2L, t(3), "click"),  // no purchase
      (3L, t(0), "view")                        // view only
    ).toDF("user_id", "ts", "event_type")
    val out = Windowed.funnelTimings(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase")).orderBy("step_idx").collect()
    // view->click: users 1 (60s) and 2 (180s); click->purchase: user 1 (240s)
    assert(out(0).getLong(3) == 2 && out(0).getDouble(4) == 120.0 &&
      out(0).getDouble(5) == 120.0 && out(0).getDouble(6) == 180.0)
    assert(out(1).getLong(3) == 1 && out(1).getDouble(4) == 240.0)
    // a dead pair reports 0 users with NULL timings
    val dead = Windowed.funnelTimings(ev, "user_id", "ts", "event_type",
      Seq("purchase", "error")).collect()(0)
    assert(dead.getLong(3) == 0 && dead.isNullAt(4))
  }

  test("rollingAgg: partial head frames, 3-row stats in (ts, tie) order") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:01"), 1L, 10.0),
      (1L, ts("2024-01-01 00:00:02"), 2L, 20.0),
      (1L, ts("2024-01-01 00:00:03"), 3L, 60.0),
      (1L, ts("2024-01-01 00:00:04"), 4L, 20.0),
      (2L, ts("2024-01-01 00:00:01"), 5L, 7.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val out = Windowed.rollingAgg(ev, "user_id", "ts", "value", nRows = 3,
      tieBreakCol = "event_id")
      .collect().map(r => r.getLong(2) ->
        ((r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getLong(7)))).toMap
    assert(out(1L) == ((10.0, 10.0, 10.0, 1L)), "head frame is partial, not padded")
    assert(out(2L) == ((15.0, 10.0, 20.0, 2L)))
    assert(out(3L) == ((30.0, 10.0, 60.0, 3L)))
    assert(out(4L) == ((round6((20.0 + 60.0 + 20.0) / 3), 20.0, 60.0, 3L)),
      "frame slides: the first row fell out")
    assert(out(5L) == ((7.0, 7.0, 7.0, 1L)), "keys never mix")
  }

  test("cumulativeNewKeys: first-seen buckets, running total, NULLs excluded") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (Option(1L), Option(ts("2024-01-01 10:00:00"))), // u1 first day 1
      (Option(1L), Option(ts("2024-01-03 10:00:00"))), // later activity ignored
      (Option(2L), Option(ts("2024-01-01 11:00:00"))), // u2 first day 1
      (Option(3L), Option(ts("2024-01-03 09:00:00"))), // u3 first day 3
      (Option.empty[Long], Option(ts("2024-01-01 09:00:00")))
    ).toDF("user_id", "ts")
    val out = Windowed.cumulativeNewKeys(ev, "user_id", "ts", "day")
      .collect().map(r => r.getTimestamp(0).toString.take(10) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map("2024-01-01" -> ((2L, 2L)), "2024-01-03" -> ((1L, 3L))))
  }

  test("attributionLinear: equal split, window edges, orphan conversions drop") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: two touches inside the 1h lookback, one outside
      (1L, ts("2024-01-01 09:30:00"), "view", 0.0, 1L),
      (1L, ts("2024-01-01 09:50:00"), "click", 0.0, 2L),
      (1L, ts("2024-01-01 08:00:00"), "view", 0.0, 3L), // 2h before: out
      (1L, ts("2024-01-01 10:00:00"), "purchase", 10.0, 4L),
      // a second purchase whose [09:15, 10:15] window holds BOTH touches
      (1L, ts("2024-01-01 10:15:00"), "purchase", 4.0, 5L),
      // user 2: conversion with no touches -> contributes nothing
      (2L, ts("2024-01-01 10:00:00"), "purchase", 99.0, 6L)
    ).toDF("user_id", "ts", "event_type", "value", "event_id")
    val out = Windowed.attributionLinear(ev, "user_id", "ts", "event_type",
      "value", "event_id", "purchase", Seq("view", "click"), 3600.0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((2L, 5.0 + 2.0)),
      "half of purchase 1 plus half of purchase 2")
    assert(out(2L) == ((2L, 5.0 + 2.0)))
    assert(!out.contains(3L), "touch outside every lookback drops")
    assert(out.size == 2, "the orphan conversion credits nobody")
  }

  test("funnelWithin: step deadlines drop slow converters, no re-entry") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: view -> click in 30 s -> inside the 60 s deadline
      (1L, t("2024-01-01 00:00:00"), "view"),
      (1L, t("2024-01-01 00:00:30"), "click"),
      // user 2: click only after 2 minutes -> misses the deadline,
      // and a later click can NEVER re-qualify
      (2L, t("2024-01-01 00:00:00"), "view"),
      (2L, t("2024-01-01 00:02:00"), "click"),
      (2L, t("2024-01-01 00:05:00"), "click")
    ).toDF("user_id", "ts", "event_type")
    val out = Windowed.funnelWithin(ev, "user_id", "ts", "event_type",
      Seq("view", "click"), maxStepSeconds = 60.0)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(out == Map("view" -> 2L, "click" -> 1L),
      "only the fast converter advances; the unconstrained funnel " +
        "would count both")
    val loose = Windowed.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click")).collect().map(r => r.getString(1) -> r.getLong(2))
      .toMap
    assert(loose("click") == 2L, "sanity: without the deadline both convert")
  }

  test("rfmCard: metrics and deterministic tile directions") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-10 00:00:00"), 10.0), // most recent, 1 event
      (2L, ts("2024-01-01 00:00:00"), 1.0),
      (2L, ts("2024-01-05 00:00:00"), 2.0) // 2 events, 3.0 total
    ).toDF("user_id", "ts", "value")
    val out = Windowed.rfmCard(ev, "user_id", "ts", "value", nTiles = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getDouble(3), r.getInt(4),
          r.getInt(5), r.getInt(6)))).toMap
    assert(out(1L) == ((0.0, 1L, 10.0, 1, 2, 1)),
      "most recent -> r 1; fewest events -> f 2; biggest spend -> m 1")
    assert(out(2L) == ((5 * 86400.0, 2L, 3.0, 2, 1, 2)))
  }

  test("rfmCardSharded equals rfmCard: real events, monster ties, tile-boundary straddle; no unpartitioned window; Auto routes") {
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), Option(r.get(3)), r.getInt(4),
          r.getInt(5), r.getInt(6)))).toMap
    // real events at several tile counts and bucket geometries (small
    // bucket counts force multi-bucket prefixes; 2 buckets stresses
    // the degenerate geometry)
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    for (t <- Seq(2, 5); vb <- Seq(2, 16); kb <- Seq(2, 16)) {
      val want = asMap(Windowed.rfmCard(e, "user_id", "ts", "value", t))
      val got = asMap(Windowed.rfmCardSharded(e, "user_id", "ts", "value",
        t, vBuckets = vb, kBuckets = kb))
      assert(got == want, s"nTiles=$t vBuckets=$vb kBuckets=$kb diverges")
    }
    // monster TIE: 60% of keys have frequency 1 (the billion-key RFM
    // reality) and a shared value sum, so whole tie families straddle
    // tile boundaries and the within-tie key rank decides every score;
    // NULL monetary family included (keys whose every value is NULL)
    val big = spark.range(20000).select(col("id").as("user_id"),
      timestamp_millis(lit(1700000000000L) +
        (col("id") % 1000) * 60000L).as("ts"),
      when(col("id") % 50 === 0, lit(null).cast("double"))
        .otherwise((col("id") % 3).cast("double")).as("value"))
    val dup = big.filter(col("user_id") % 5 === 4) // 20% get a 2nd event
      .withColumn("ts", timestamp_millis(lit(1700000100000L)))
    val monster = big.unionByName(dup)
    val want = asMap(Windowed.rfmCard(monster, "user_id", "ts", "value", 5))
    val sharded = Windowed.rfmCardSharded(monster, "user_id", "ts", "value", 5,
      vBuckets = 8, kBuckets = 8)
    assert(asMap(sharded) == want, "sharded path diverges on monster ties")
    // the whole point: NO unpartitioned window anywhere in the plan
    sharded.collect()
    val unpartitioned = PlanWalk.nodes(sharded).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty,
      s"sharded card must not plan an unpartitioned window, found ${unpartitioned.size}")
    // the front door picks from the exact key count: past a lowered
    // threshold (24,000 keys > 100) the sharded plan, at the default
    // threshold the plain three-window card
    val autoSharded = Windowed.rfmCardWith(monster, "user_id", "ts", "value",
      5, plainMaxKeys = 100L, vBuckets = 8, kBuckets = 8)
    assert(asMap(autoSharded) == want)
    assert(!PlanWalk.nodes(autoSharded).exists {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.isEmpty
      case _ => false
    }, "past the key threshold the card must route to the sharded plan")
    val autoPlain = Windowed.rfmCard(monster, "user_id", "ts", "value", 5)
    autoPlain.collect()
    assert(PlanWalk.nodes(autoPlain).exists {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.isEmpty
      case _ => false
    }, "below the threshold the plain three-window card is the right plan")
  }

  test("rfmCardSharded: STRING keys — prefix geometry, monster ties, Auto routes, no unpartitioned window") {
    def asMapS(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getLong(2), Option(r.get(3)), r.getInt(4),
          r.getInt(5), r.getInt(6)))).toMap
    // the boundary-key bucket is MONOTONE in the key's binary order
    // (the whole correctness argument) — incl. multi-byte UTF-8 and
    // prefix pairs, whatever boundaries the sample picked
    val keys = Seq("", "a", "a0", "ab", "abcdef", "abcdefg", "abcdeg",
      "b", "u1", "u10", "u100", "u2", "zzzzzzzz", "é", "é1", "☃")
    val keyDf = keys.toDF("k")
    val ranked = keyDf
      .select(col("k"),
        Windowed.stringKeyBoundaryBuckets(keyDf, col("k"), 4).as("r"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keys.sorted.sliding(2).foreach { case Seq(a, b) =>
      assert(ranked(a) <= ranked(b), s"bucket must not decrease: '$a' -> '$b'")
    }
    // real events under a string key whose BINARY order differs from
    // the numeric order ("u10" < "u2"): sharded == plain, several
    // geometries
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("user_key", concat(lit("u"), col("user_id").cast("string")))
    for (vb <- Seq(2, 8); kb <- Seq(2, 8)) {
      val want = asMapS(Windowed.rfmCard(e, "user_key", "ts", "value", 5))
      val got = asMapS(Windowed.rfmCardSharded(e, "user_key", "ts", "value",
        5, vBuckets = vb, kBuckets = kb))
      assert(got == want, s"string key diverges at vBuckets=$vb kBuckets=$kb")
    }
    // crafted string-tie monster: EVERY key shares a >6-byte prefix
    // while frequency=1 ties span the whole frame and whole tie
    // families straddle tile boundaries; NULL-monetary families
    // included (boundary keys split shared-prefix populations fine —
    // the point here is exactness under monster ties)
    val tie = spark.range(3000).select(
      concat(lit("user::"), col("id").cast("string")).as("user_key"),
      timestamp_millis(lit(1700000000000L) +
        (col("id") % 500) * 60000L).as("ts"),
      when(col("id") % 40 === 0, lit(null).cast("double"))
        .otherwise((col("id") % 2).cast("double")).as("value"))
    val want = asMapS(Windowed.rfmCard(tie, "user_key", "ts", "value", 5))
    val sharded = Windowed.rfmCardSharded(tie, "user_key", "ts", "value", 5,
      vBuckets = 8, kBuckets = 8)
    assert(asMapS(sharded) == want, "shared-prefix monster ties diverge")
    sharded.collect()
    assert(!PlanWalk.nodes(sharded).exists {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.isEmpty
      case _ => false
    }, "string-key sharded card must not plan an unpartitioned window")
    // the front door takes string keys to the sharded plan past the
    // threshold too
    val auto = Windowed.rfmCardWith(tie, "user_key", "ts", "value", 5,
      plainMaxKeys = 100L, vBuckets = 8, kBuckets = 8)
    assert(asMapS(auto) == want)
    assert(!PlanWalk.nodes(auto).exists {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.isEmpty
      case _ => false
    }, "past the key threshold string keys must route to the sharded plan")
  }

  test("stringKeyBoundaryBuckets: prefixed populations SPREAD even with outlier keys (r20, VERDICT r19 #1)") {
    // a prefixed id population PLUS adversarial outlier keys — the
    // exact shape that broke every numeric-rank geometry: `""` and
    // `zzz` drive the global min/max LCP to 0, so the r19 LCP-strip
    // ranked bytes 0-6 again and every customer_* id collapsed into
    // one rank value and ONE quantile cell (single-task tie window)
    val keys = spark.range(5000).select(
      when(col("id") === 0, lit(""))
        .when(col("id") === 1, lit("admin"))
        .when(col("id") === 2, lit("zzz"))
        .otherwise(concat(lit("customer_"),
          lpad(col("id").cast("string"), 6, "0"))).as("k"))
    val kbCol = Windowed.stringKeyBoundaryBuckets(keys, col("k"), 256)
    val hist = keys.select(kbCol.as("kb")).groupBy("kb").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist.size >= 128,
      s"prefixed keys + outliers must spread across sub-bucket cells, " +
        s"got ${hist.size} of 256")
    assert(hist.values.max <= 5000 / 32,
      s"no cell may hold a large share of the keys, max cell = ${hist.values.max}")
    // monotone in binary key order (the correctness condition the
    // decomposition rests on): kb never decreases along the sorted keys
    val ranked = keys.select(col("k"), kbCol.as("kb"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    ranked.sliding(2).foreach { case Array((a, ra), (b, rb)) =>
      assert(ra <= rb, s"bucket must not decrease: '$a' -> '$b'")
    }
    // deterministic: the sampled boundaries replay bit-identically
    val hist2 = keys.select(
      Windowed.stringKeyBoundaryBuckets(keys, col("k"), 256).as("kb"))
      .groupBy("kb").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist2 == hist, "the boundary sample must be deterministic")
    // and the card itself stays EXACT over the mixed population:
    // sharded == plain on a frame with monster ties under the prefix
    // plus the planted outliers
    def asMapS(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getLong(2), Option(r.get(3)), r.getInt(4),
          r.getInt(5), r.getInt(6)))).toMap
    val e = spark.range(4000).select(
      when(col("id") % 1000 === 0, lit("admin"))
        .when(col("id") % 1000 === 1, lit(""))
        .when(col("id") % 1000 === 2, lit("zzz"))
        .otherwise(concat(lit("customer_"),
          lpad((col("id") % 800).cast("string"), 5, "0"))).as("user_key"),
      timestamp_millis(lit(1700000000000L) +
        (col("id") % 400) * 60000L).as("ts"),
      when(col("id") % 30 === 0, lit(null).cast("double"))
        .otherwise((col("id") % 2).cast("double")).as("value"))
    assert(asMapS(Windowed.rfmCardSharded(e, "user_key", "ts", "value", 5,
        vBuckets = 8, kBuckets = 8)) ==
      asMapS(Windowed.rfmCard(e, "user_key", "ts", "value", 5)),
      "sharded card must stay exact over a prefixed-plus-outlier population")
  }

  test("rfmCardSharded: the events-scale per-key aggregation runs EXACTLY ONCE (r20, VERDICT r19 #2)") {
    // the probe actions (stats head, boundary sample) and the card
    // plan itself are three driver actions over the per-key frame;
    // the localCheckpoint must make the events-scale groupBy run once.
    // An accumulator UDF inside the value column counts how many times
    // each raw event row's value is evaluated.
    val acc = spark.sparkContext.longAccumulator("rfm_value_evals")
    val tick = udf((x: Double) => { acc.add(1L); x })
    val e = spark.range(2000).select(
      concat(lit("customer_"), (col("id") % 400).cast("string")).as("user_key"),
      timestamp_millis(lit(1700000000000L) +
        (col("id") % 100) * 1000L).as("ts"),
      tick((col("id") % 7).cast("double")).as("value"))
    val card = Windowed.rfmCardSharded(e, "user_key", "ts", "value", 5,
      vBuckets = 8, kBuckets = 8)
    // construction already ran the one checkpoint job
    assert(acc.value == 2000L,
      s"construction must aggregate the events exactly once, got ${acc.value}")
    card.collect()
    assert(acc.value == 2000L,
      s"the card job must read the checkpointed per-key frame, not " +
        s"re-aggregate the events (evals = ${acc.value})")
  }

  test("attributionPositional: U-shaped weights incl. 1/2/3-touch degenerate forms") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 09:10:00"), "view", 0.0, 1L), // first -> 0.4
      (1L, ts("2024-01-01 09:30:00"), "view", 0.0, 2L), // middle -> 0.2
      (1L, ts("2024-01-01 09:50:00"), "click", 0.0, 3L), // last -> 0.4
      (1L, ts("2024-01-01 10:00:00"), "purchase", 10.0, 4L),
      // user 2: single touch takes everything
      (2L, ts("2024-01-01 09:30:00"), "view", 0.0, 5L),
      (2L, ts("2024-01-01 10:00:00"), "purchase", 8.0, 6L)
    ).toDF("user_id", "ts", "event_type", "value", "event_id")
    val out = Windowed.attributionPositional(ev, "user_id", "ts",
      "event_type", "value", "event_id", "purchase", Seq("view", "click"),
      3600.0, edgeShare = 0.4)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) == 4.0 && out(3L) == 4.0, "edges take 40% each")
    assert(math.abs(out(2L) - 2.0) < 1e-9, "the middle splits the remainder")
    assert(out(5L) == 8.0, "a single touch takes the whole conversion")
  }

  test("ohlcAgg: endpoint picks by (ts, tie), extremes, per-bucket isolation") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (ts("2024-01-01 10:05:00"), "a", 3.0, 1L),
      (ts("2024-01-01 10:01:00"), "a", 9.0, 2L), // earliest -> open
      (ts("2024-01-01 10:59:00"), "a", 1.0, 3L), // latest -> close, low
      (ts("2024-01-01 10:59:00"), "a", 4.0, 4L), // same ts, larger tie -> close
      (ts("2024-01-01 11:10:00"), "a", 7.0, 5L), // next bucket
      (ts("2024-01-01 10:30:00"), "b", 2.0, 6L)
    ).toDF("ts", "event_type", "value", "event_id")
    val out = Windowed.ohlcAgg(ev, "event_type", "ts", "value", "hour",
      "event_id")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString.take(13)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6)))).toMap
    assert(out(("a", "2024-01-01 10")) == ((9.0, 9.0, 1.0, 4.0, 4L)),
      "open=earliest, close=max-tie at the latest ts, high/low extremes")
    assert(out(("a", "2024-01-01 11")) == ((7.0, 7.0, 7.0, 7.0, 1L)))
    assert(out(("b", "2024-01-01 10")) == ((2.0, 2.0, 2.0, 2.0, 1L)))
  }

  test("rollupAgg: prefix subtotal levels with ANSI NULL markers") {
    val ev = Seq(("x", "d1", 1.0), ("x", "d1", 2.0), ("x", "d2", 4.0),
      ("y", "d1", 8.0)).toDF("t", "d", "value")
    val out = Windowed.rollupAgg(ev, Seq("t", "d"), "value")
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out((Some("x"), Some("d1"))) == ((2L, 3.0)))
    assert(out((Some("x"), None)) == ((3L, 7.0)), "per-t subtotal")
    assert(out((None, None)) == ((4L, 15.0)), "grand total")
    assert(out.size == 6, "(t,d) x3 + t-subtotals x2 + grand total")
  }

  test("pivotCounts zero-fills and unpivot inverts it exactly") {
    val ev = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "b"))
      .toDF("user_id", "event_type")
    val wide = Windowed.pivotCounts(ev, "user_id", "event_type", Seq("a", "b", "c"))
    val w = wide.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(w(1L) == ((2L, 1L, 0L)) && w(2L) == ((0L, 1L, 0L)),
      "absent combinations zero-fill, unlisted values drop")
    val long = Windowed.unpivotCounts(wide, "user_id", Seq("a", "b", "c"),
      "event_type", "n").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(long.size == 6 && long((1L, "a")) == 2L && long((2L, "c")) == 0L,
      "melt keeps every (key, value) cell including zeros")
  }

  test("sessionizeNative equals the lag plan on real events, incl. the <= boundary") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // the boundary case the +1us gap exists for: diff EXACTLY the gap
    // stays one session under the lag plan's <= rule
    val edge = Seq((1L, ts("2024-01-01 00:00:00")),
      (1L, ts("2024-01-01 00:00:10")), // diff == 10 s gap -> same session
      (1L, ts("2024-01-01 00:00:21"))) // diff 11 s -> new session
      .toDF("user_id", "ts")
    val nat = Windowed.sessionizeNative(edge, "user_id", "ts", 10)
      .collect().map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString,
        r.getLong(3))).toSet
    assert(nat == Set(
      ("2024-01-01 00:00:00.0", "2024-01-01 00:00:10.0", 2L),
      ("2024-01-01 00:00:21.0", "2024-01-01 00:00:21.0", 1L)))

    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val want = Windowed.sessionizeBatch(e, "user_id", "ts", 7200,
      tieBreakCol = Some("event_id"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    val got = Windowed.sessionizeNative(e, "user_id", "ts", 7200)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    assert(got == want, "native session_window must equal the lag plan exactly")
  }

  test("sessionizeSkewed equals the lag plan: real events, boundary chains, edges") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.get(0)),
        Option(r.getTimestamp(1)).map(_.toString),
        Option(r.getTimestamp(2)).map(_.toString), r.getLong(3))).toSet

    // real events, buckets few enough that cross-bucket chains fire
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val want = asSet(Windowed.sessionizeBatch(e, "user_id", "ts", 7200))
    for (nb <- Seq(1, 3, 16))
      assert(asSet(Windowed.sessionizeSkewed(e, "user_id", "ts", 7200, nb))
        == want, s"numBuckets=$nb must not change the session set")

    // a session CHAIN spanning many buckets: continuous 1s-apart
    // events over the whole span must come back as ONE session no
    // matter how the buckets cut it, alongside a far-away singleton
    val chain = (0 until 600).map(i =>
      (1L, new java.sql.Timestamp(1700000000000L + i * 1000L))) :+
      ((2L, new java.sql.Timestamp(1700009000000L)))
    val cdf = chain.toDF("user_id", "ts")
    val cOut = asSet(Windowed.sessionizeSkewed(cdf, "user_id", "ts", 2, 16))
    assert(cOut == asSet(Windowed.sessionizeBatch(cdf, "user_id", "ts", 2)))
    assert(cOut.count(_._1 == Some(1L)) == 1,
      "the straddling chain must merge back into one session")

    // exact-gap boundary ACROSS buckets: diff == gap stays one session
    // (the <= rule must survive the fragment merge pass)
    val edge = Seq((1L, ts("2024-01-01 00:00:00")),
      (1L, ts("2024-01-01 01:00:00")), // spans buckets at small widths
      (1L, ts("2024-01-01 02:00:00")),
      (1L, ts("2024-01-01 03:00:01"))) // 3601 s -> new session
      .toDF("user_id", "ts")
    val eg = asSet(Windowed.sessionizeSkewed(edge, "user_id", "ts", 3600, 4))
    assert(eg == asSet(Windowed.sessionizeBatch(edge, "user_id", "ts", 3600)))
    assert(eg.size == 2, s"exact-gap steps chain, 3601s breaks: $eg")

    // NULL key and NULL ts mirror the batch contract
    val nulls = Seq(
      (Option(1L), Option(ts("2024-01-01 00:00:00"))),
      (Option.empty[Long], Option(ts("2024-01-01 00:00:01"))),
      (Option.empty[Long], Option(ts("2024-01-01 00:00:02"))),
      (Option(1L), Option.empty[java.sql.Timestamp]),
      (Option(1L), Option.empty[java.sql.Timestamp])).toDF("user_id", "ts")
    assert(asSet(Windowed.sessionizeSkewed(nulls, "user_id", "ts", 10, 4))
      == asSet(Windowed.sessionizeBatch(nulls, "user_id", "ts", 10)))

    // empty input
    assert(Windowed.sessionizeSkewed(
      Seq.empty[(Long, java.sql.Timestamp)].toDF("user_id", "ts"),
      "user_id", "ts", 10, 8).count() == 0L)
  }

  test("sessionizeSkewed: a monster key matches batch and slices over (key, bucket)") {
    // one key = 60% of 40k events in bursts; gap 30 s splits bursts
    val n = 40000
    val df = spark.range(n).select(
      when(col("id") % 5 < 3, lit(7L)).otherwise(col("id") % 97).as("user_id"),
      timestamp_millis(lit(1700000000000L) + col("id") * 2000L +
        (col("id") % 7) * 40000L).as("ts"))
    val want = asSetL(Windowed.sessionizeBatch(df, "user_id", "ts", 30))
    val skewed = Windowed.sessionizeSkewed(df, "user_id", "ts", 30, 32)
    assert(asSetL(skewed) == want)
    val winParts = PlanWalk.nodes(skewed).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.length
    }
    assert(winParts.contains(2),
      s"local sessions must partition by (key, bucket), got $winParts")
  }

  test("sessionizeSkewed at 8 buckets equals batch on monster and uniform keys") {
    val skewed = spark.range(5000).select(
      when(col("id") % 5 < 3, lit(7L)).otherwise(col("id") % 97).as("user_id"),
      timestamp_millis(lit(1700000000000L) + col("id") * 2000L).as("ts"))
    val bucketed = Windowed.sessionizeSkewed(skewed, "user_id", "ts", 30, numBuckets = 8)
    assert(asSetL(bucketed) ==
      asSetL(Windowed.sessionizeBatch(skewed, "user_id", "ts", 30)))
    val winParts = PlanWalk.nodes(bucketed).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.length
    }
    assert(winParts.contains(2), "the 60% key must slice over (key, bucket)")
    val uniform = spark.range(5000).select((col("id") % 97).as("user_id"),
      timestamp_millis(lit(1700000000000L) + col("id") * 2000L).as("ts"))
    assert(asSetL(Windowed.sessionizeSkewed(uniform, "user_id", "ts", 30,
      numBuckets = 8)) ==
      asSetL(Windowed.sessionizeBatch(uniform, "user_id", "ts", 30)))
  }

  private def asSetL(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
      r.getLong(3))).toSet

  test("rollingAggSkewed equals rollingAgg: real events, bucket counts, nRows edges") {
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4)), Option(r.get(5)),
        Option(r.get(6)), r.getLong(7))).toSet
    for (nRows <- Seq(1, 5); nb <- Seq(2, 7, 32)) {
      val want = asSet(Windowed.rollingAgg(e, "user_id", "ts", "value",
        nRows, "event_id"))
      assert(asSet(Windowed.rollingAggSkewed(e, "user_id", "ts", "value",
        nRows, "event_id", numBuckets = nb)) == want,
        s"nRows=$nRows numBuckets=$nb diverges")
    }
  }

  test("rollingAggSkewed: sparse buckets chain the preamble past the adjacent bucket") {
    // one row per bucket and a 4-row frame: every row's predecessors
    // live 1-3 buckets back, so a tail that only reached the adjacent
    // bucket (or the short-array slice bug) would drop frame rows
    val sparse = (0 until 12).map(i =>
      (1L, new java.sql.Timestamp(1700000000000L + i * 100000000L),
        i.toLong, i.toDouble))
      .toDF("k", "ts", "tie", "v")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(2), r.getDouble(4), r.get(5),
        r.get(6), r.getLong(7))).toSet
    val want = asSet(Windowed.rollingAgg(sparse, "k", "ts", "v", 4, "tie"))
    for (nb <- Seq(6, 12, 64))
      assert(asSet(Windowed.rollingAggSkewed(sparse, "k", "ts", "v", 4,
        "tie", numBuckets = nb)) == want, s"numBuckets=$nb diverges")
    // NULL ts rows sort first in the plain window; the sentinel bucket
    // must reproduce that, including their feeding the first real rows
    val withNulls = (Seq((2L, Option.empty[java.sql.Timestamp], 0L, 10.0),
      (2L, Option.empty[java.sql.Timestamp], 1L, 20.0)) ++
      (0 until 4).map(i => (2L,
        Option(new java.sql.Timestamp(1700000000000L + i * 1000L)),
        10L + i, i.toDouble))).toDF("k", "ts", "tie", "v")
    val wantN = Windowed.rollingAgg(withNulls, "k", "ts", "v", 3, "tie")
      .collect().map(r => r.getLong(2) -> ((r.getDouble(4), r.getLong(7)))).toMap
    val gotN = Windowed.rollingAggSkewed(withNulls, "k", "ts", "v", 3, "tie",
      numBuckets = 4)
      .collect().map(r => r.getLong(2) -> ((r.getDouble(4), r.getLong(7)))).toMap
    assert(gotN == wantN, "NULL-ts rows must chain through the sentinel bucket")
  }

  test("rollingAggSkewed: monster key matches the plain plan and slices") {
    val big = spark.range(30000).select(
      when(col("id") % 5 < 3, lit(7L)).otherwise(col("id") % 97).as("k"),
      timestamp_millis(lit(1700000000000L) + col("id") * 1000L).as("ts"),
      col("id").as("tie"), (col("id") % 23).cast("double").as("v"))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.get(5), r.get(6),
        r.getLong(7))).toSet
    val want = asSet(Windowed.rollingAgg(big, "k", "ts", "v", 5, "tie"))
    val skewed = Windowed.rollingAggSkewed(big, "k", "ts", "v", 5, "tie",
      numBuckets = 32)
    assert(asSet(skewed) == want)
    val winParts = PlanWalk.nodes(skewed).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.length
    }
    assert(winParts.contains(2),
      s"the rolling frame must partition by (key, bucket), got $winParts")
    assert(asSet(Windowed.rollingAggSkewed(big, "k", "ts", "v", 5, "tie"))
      == want, "the default bucket count must agree on the monster key")
  }
}
