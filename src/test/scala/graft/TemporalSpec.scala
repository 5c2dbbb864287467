package graft

import graft.operators.Temporal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TemporalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private lazy val quotes = Seq(
    (1L, ts("2024-01-01 10:00:00"), 100.0, 1L),
    (1L, ts("2024-01-01 10:00:05"), 101.0, 2L),
    (1L, ts("2024-01-01 10:00:10"), 102.0, 3L),
    (2L, ts("2024-01-01 10:00:03"), 200.0, 4L)
  ).toDF("k", "ts", "px", "qid")

  private lazy val trades = Seq(
    (1L, ts("2024-01-01 10:00:04"), "a"), // after 10:00:00 quote
    (1L, ts("2024-01-01 10:00:05"), "b"), // exactly at the 101 quote
    (1L, ts("2024-01-01 10:00:30"), "c"), // long after the last quote
    (2L, ts("2024-01-01 10:00:00"), "d"), // before any key-2 quote
    (3L, ts("2024-01-01 10:00:00"), "e") // key with no quotes at all
  ).toDF("k", "ts", "tid")

  test("asofJoin backward: nearest at-or-before per key, left-outer") {
    val out = Temporal.asofJoin(trades, quotes, "k", "ts", Seq("px"))
      .collect().map(r => r.getString(2) ->
        (Option(r.getTimestamp(3)).map(_.toString), Option(r.get(4)))).toMap
    assert(out("a") == ((Some("2024-01-01 10:00:00.0"), Some(100.0))))
    assert(out("b") == ((Some("2024-01-01 10:00:05.0"), Some(101.0))),
      "equal timestamps match (>= semantics)")
    assert(out("c") == ((Some("2024-01-01 10:00:10.0"), Some(102.0))))
    assert(out("d") == ((None, None)), "no quote at-or-before")
    assert(out("e") == ((None, None)), "key never quoted")
    assert(out.size == 5, "every left row survives")
  }

  test("asofJoin forward: nearest at-or-after") {
    val out = Temporal.asofJoin(trades, quotes, "k", "ts", Seq("px"),
      direction = "forward")
      .collect().map(r => r.getString(2) -> Option(r.get(4))).toMap
    assert(out("a") == Some(101.0), "10:00:04 -> next quote 10:00:05")
    assert(out("b") == Some(101.0), "equal ts matches forward too")
    assert(out("c") == None, "nothing after 10:00:30")
    assert(out("d") == Some(200.0))
    assert(out("e") == None)
  }

  test("asofJoin tolerance nulls far matches (inclusive bound)") {
    val out = Temporal.asofJoin(trades, quotes, "k", "ts", Seq("px"),
      toleranceSeconds = Some(5.0))
      .collect().map(r => r.getString(2) -> Option(r.get(4))).toMap
    assert(out("a") == Some(100.0), "4 s back, inside")
    assert(out("b") == Some(101.0), "0 s back: tolerance is inclusive")
    assert(out("c") == None, "20 s back, outside")
  }

  test("asofJoin duplicate right timestamps: backward max tie, forward min tie") {
    val right = Seq((1L, ts("2024-01-01 10:00:00"), 1.0, 10L),
      (1L, ts("2024-01-01 10:00:00"), 2.0, 20L)).toDF("k", "ts", "v", "rid")
    val leftRow = Seq((1L, ts("2024-01-01 10:00:01"), "x")).toDF("k", "ts", "tid")
    val back = Temporal.asofJoin(leftRow, right, "k", "ts", Seq("v"),
      rightTieCol = Some("rid")).select("v").as[Double].head()
    assert(back == 2.0, "backward keeps the largest tie at equal ts")
    val fRow = Seq((1L, ts("2024-01-01 09:59:59"), "x")).toDF("k", "ts", "tid")
    val fwd = Temporal.asofJoin(fRow, right, "k", "ts", Seq("v"),
      direction = "forward", rightTieCol = Some("rid"))
      .select("v").as[Double].head()
    assert(fwd == 1.0, "forward keeps the smallest tie at equal ts")
  }

  test("asofJoin NULL left key/ts never match; NULL right rows dropped") {
    val left = Seq(
      (Option(1L), Option(ts("2024-01-01 10:00:06")), "ok"),
      (Option.empty[Long], Option(ts("2024-01-01 10:00:06")), "nullkey"),
      (Option(1L), Option.empty[java.sql.Timestamp], "nullts")
    ).toDF("k", "ts", "tid")
    val right = Seq(
      (Option(1L), Option(ts("2024-01-01 10:00:00")), 1.0),
      (Option.empty[Long], Option(ts("2024-01-01 10:00:00")), 9.0),
      (Option(1L), Option.empty[java.sql.Timestamp], 9.0)
    ).toDF("k", "ts", "v")
    val out = Temporal.asofJoin(left, right, "k", "ts", Seq("v"))
      .collect().map(r => r.getString(2) -> Option(r.get(4))).toMap
    assert(out("ok") == Some(1.0))
    assert(out("nullkey") == None)
    assert(out("nullts") == None)
    // forward direction: a NULL-ts left row sorts after every right
    // row under desc order — the guard must still null it
    val fwd = Temporal.asofJoin(left, right, "k", "ts", Seq("v"),
      direction = "forward")
      .collect().map(r => r.getString(2) -> Option(r.get(4))).toMap
    assert(fwd("nullts") == None)
  }

  test("asofJoin nearest: closer side wins, ties go backward, tolerance per side") {
    val out = Temporal.asofJoin(trades, quotes, "k", "ts", Seq("px"),
      direction = "nearest")
      .collect().map(r => r.getString(2) -> Option(r.get(4))).toMap
    assert(out("a") == Some(101.0), "10:00:04: back 4 s vs fwd 1 s -> forward")
    assert(out("b") == Some(101.0), "exact hit either way")
    assert(out("c") == Some(102.0), "nothing forward -> backward")
    assert(out("d") == Some(200.0), "nothing backward -> forward")
    assert(out("e") == None)
    // equidistant: 10:00:02.5 is 2.5 s from both key-1 quotes -> backward
    val mid = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:02.5"), "m"))
      .toDF("k", "ts", "tid")
    val tie = Temporal.asofJoin(mid, quotes, "k", "ts", Seq("px"),
      direction = "nearest").select("px").as[Double].head()
    assert(tie == 100.0, "distance tie resolves backward")
    // tolerance nulls each side BEFORE the pick: out-of-tol backward
    // must not shadow an in-tol forward
    val lateTrade = Seq((2L, ts("2024-01-01 10:00:01"), "x")).toDF("k", "ts", "tid")
    val tol = Temporal.asofJoin(lateTrade, quotes, "k", "ts", Seq("px"),
      direction = "nearest", toleranceSeconds = Some(2.0))
      .select("px").as[Double].head()
    assert(tol == 200.0, "backward none, forward 2 s away inside tolerance")
  }

  test("asofJoinBroadcast equals the window asofJoin on real events (both tolerances)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = e.filter(col("event_type") === "view")
      .groupBy("user_id", "ts")
      .agg(expr("max_by(value, event_id)").as("v"))
    for (tol <- Seq(None, Some(86400.0))) {
      val want = Temporal.asofJoin(clicks, views, "user_id", "ts", Seq("v"),
        toleranceSeconds = tol).collect()
        .map(r => r.getLong(0) -> ((Option(r.getTimestamp(3)), Option(r.get(4)))))
        .toMap
      val got = Temporal.asofJoinBroadcast(clicks, views, "user_id", "ts",
        Seq("v"), toleranceSeconds = tol).collect()
        .map(r => r.getLong(0) -> ((Option(r.getTimestamp(3)), Option(r.get(4)))))
        .toMap
      assert(got == want, s"broadcast variant must match the window plan (tol=$tol)")
    }
  }

  test("asofJoinBroadcast plan: broadcast join, fact side never shuffles") {
    val df = Temporal.asofJoinBroadcast(trades, quotes, "k", "ts", Seq("px"))
    df.collect()
    val nodes = PlanWalk.nodes(df)
    assert(nodes.exists(_.nodeName.toLowerCase.contains("broadcasthashjoin")),
      "dimension history must broadcast")
    assert(PlanWalk.shuffleCount(df) == 1,
      "only the small right-side aggregation shuffles; the fact side is map-only")
  }

  test("asofJoinSkewed equals asofJoin on real events (directions, tolerances)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = e.filter(col("event_type") === "view")
      .groupBy("user_id", "ts")
      .agg(expr("max_by(value, event_id)").as("v"))
    for (dir <- Seq("backward", "forward"); tol <- Seq(None, Some(86400.0))) {
      val want = Temporal.asofJoin(clicks, views, "user_id", "ts", Seq("v"),
        direction = dir, toleranceSeconds = tol).collect()
        .map(r => r.getLong(0) -> ((Option(r.getTimestamp(3)), Option(r.get(4)))))
        .toMap
      // few buckets so carries actually fire across bucket boundaries
      val got = Temporal.asofJoinSkewed(clicks, views, "user_id", "ts",
        Seq("v"), direction = dir, toleranceSeconds = tol, numBuckets = 5)
        .collect()
        .map(r => r.getLong(0) -> ((Option(r.getTimestamp(3)), Option(r.get(4)))))
        .toMap
      assert(got == want,
        s"bucketed variant must match the window plan (dir=$dir, tol=$tol)")
    }
  }

  test("asofJoinSkewed: fixture contracts (boundary carry, ties, NULLs) hold") {
    // tiny fixture with numBuckets >> rows: most buckets are empty,
    // every match crosses bucket boundaries via the carry
    val out = Temporal.asofJoinSkewed(trades, quotes, "k", "ts", Seq("px"),
      numBuckets = 16)
      .collect().map(r => r.getString(2) ->
        (Option(r.getTimestamp(3)).map(_.toString), Option(r.get(4)))).toMap
    assert(out("a") == ((Some("2024-01-01 10:00:00.0"), Some(100.0))))
    assert(out("b") == ((Some("2024-01-01 10:00:05.0"), Some(101.0))),
      "equal timestamps match (>= semantics)")
    assert(out("c") == ((Some("2024-01-01 10:00:10.0"), Some(102.0))),
      "carry must deliver the latest right row across empty buckets")
    assert(out("d") == ((None, None)), "no quote at-or-before")
    assert(out("e") == ((None, None)), "key never quoted")
    assert(out.size == 5, "every left row survives")
    // duplicate right (key, ts): backward max tie, forward min tie —
    // both inside one bucket and (numBuckets so wide the pair spans
    // the carry) across buckets
    val right = Seq((1L, ts("2024-01-01 10:00:00"), 1.0, 10L),
      (1L, ts("2024-01-01 10:00:00"), 2.0, 20L)).toDF("k", "ts", "v", "rid")
    val lb = Seq((1L, ts("2024-01-01 10:00:01"), "x")).toDF("k", "ts", "tid")
    val back = Temporal.asofJoinSkewed(lb, right, "k", "ts", Seq("v"),
      rightTieCol = Some("rid"), numBuckets = 2)
      .select("v").as[Double].head()
    assert(back == 2.0, "backward keeps the largest tie at equal ts")
    val lf = Seq((1L, ts("2024-01-01 09:59:59"), "x")).toDF("k", "ts", "tid")
    val fwd = Temporal.asofJoinSkewed(lf, right, "k", "ts", Seq("v"),
      direction = "forward", rightTieCol = Some("rid"), numBuckets = 2)
      .select("v").as[Double].head()
    assert(fwd == 1.0, "forward keeps the smallest tie at equal ts")
    // NULL left key/ts pass through with NULL payload
    val nl = Seq(
      (Option(1L), Option(ts("2024-01-01 10:00:06")), "ok"),
      (Option.empty[Long], Option(ts("2024-01-01 10:00:06")), "nullkey"),
      (Option(1L), Option.empty[java.sql.Timestamp], "nullts")
    ).toDF("k", "ts", "tid")
    val nOut = Temporal.asofJoinSkewed(nl, quotes, "k", "ts", Seq("px"),
      numBuckets = 4)
      .collect().map(r => r.getString(2) -> Option(r.get(4))).toMap
    assert(nOut == Map("ok" -> Some(101.0), "nullkey" -> None,
      "nullts" -> None))
  }

  test("asofJoinSkewed: a monster key matches the plain path and spreads over buckets") {
    // one key holds ~60% of both sides — the case where the plain
    // per-key window serializes onto a single task
    val n = 3000
    val left = spark.range(n).select(
      when(col("id") % 5 < 3, lit(7L)).otherwise(col("id") % 97).as("k"),
      timestamp_millis(lit(1700000000000L) + col("id") * 1000).as("ts"),
      col("id").as("lid"))
    val right = spark.range(n / 2).select(
      when(col("id") % 5 < 3, lit(7L)).otherwise(col("id") % 97).as("k"),
      timestamp_millis(lit(1700000000000L) + col("id") * 1713).as("ts"),
      (col("id") * 2).as("v"))
      .groupBy("k", "ts").agg(expr("max_by(v, v)").as("v"))
    val want = Temporal.asofJoin(left, right, "k", "ts", Seq("v"))
      .collect().map(r => r.getLong(2) ->
        ((Option(r.getTimestamp(3)), Option(r.get(4))))).toMap
    val skewed = Temporal.asofJoinSkewed(left, right, "k", "ts", Seq("v"),
      numBuckets = 16)
    val got = skewed.collect().map(r => r.getLong(2) ->
      ((Option(r.getTimestamp(3)), Option(r.get(4))))).toMap
    assert(got == want)
    // the local window really partitions by (key, bucket) — the
    // monster key's sort is sliced, not serialized on one task
    val winParts = PlanWalk.nodes(skewed).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.length
    }
    assert(winParts.contains(2),
      s"expected a (key, bucket)-partitioned window, got specs $winParts")
  }

  test("asofJoin plan: exactly ONE shuffle, no join node") {
    val df = Temporal.asofJoin(trades, quotes, "k", "ts", Seq("px"))
    assert(PlanWalk.shuffleCount(df) == 1,
      "union + one key-partitioned window — a join-based plan would shuffle twice")
    val joins = PlanWalk.nodes(df).count(n =>
      n.nodeName.toLowerCase.contains("join"))
    assert(joins == 0, "no join operator anywhere in the as-of plan")
  }

  test("changeIntervals: episodes collapse repeats, version counts, open tail") {
    val log = Seq(
      (1L, ts("2024-01-01 00:00:00"), "bronze", 1L),
      (1L, ts("2024-01-02 00:00:00"), "bronze", 2L), // unchanged -> collapses
      (1L, ts("2024-01-03 00:00:00"), "silver", 3L),
      (1L, ts("2024-01-05 00:00:00"), "bronze", 4L), // back again = NEW episode
      // same-ts duplicate: tie 6 wins over tie 5
      (2L, ts("2024-01-01 00:00:00"), "gold", 5L),
      (2L, ts("2024-01-01 00:00:00"), "plat", 6L)
    ).toDF("k", "ts", "v", "tie")
    val out = Temporal.changeIntervals(log, "k", "ts", "v",
      tieCol = Some("tie"))
      .collect().map(r => (r.getLong(0), r.getLong(4)) ->
        ((r.getTimestamp(1).toString.take(10),
          Option(r.getTimestamp(2)).map(_.toString.take(10)), r.getString(3))))
      .toMap
    assert(out((1L, 1L)) == (("2024-01-01", Some("2024-01-03"), "bronze")),
      "day-2 repeat collapses into episode 1")
    assert(out((1L, 2L)) == (("2024-01-03", Some("2024-01-05"), "silver")))
    assert(out((1L, 3L)) == (("2024-01-05", None, "bronze")),
      "returning value mints a new version; current episode is open")
    assert(out((2L, 1L)) == (("2024-01-01", None, "plat")),
      "same-ts duplicate resolved by max tie")
    assert(out.size == 4)
  }

  test("changeIntervals is the inverse view of backward asofJoin") {
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val episodes = Temporal.changeIntervals(e, "user_id", "ts", "event_type",
      tieCol = Some("event_id"))
    // every event, asof-joined backward against the episode STARTS,
    // must land in the episode whose interval contains it
    val starts = episodes.select(col("user_id"), col("valid_from").as("ts"),
      col("event_type").as("ep_value"))
    val probe = e.select(col("event_id"), col("user_id"), col("ts"))
    val viaAsof = Temporal.asofJoin(probe, starts, "user_id", "ts",
      Seq("ep_value"))
    val bad = viaAsof.join(episodes,
      viaAsof("user_id") === episodes("user_id") &&
        viaAsof("asof_ts") === episodes("valid_from"))
      .filter(!(col("ep_value") <=> col("event_type")) ||
        col("ts") < col("valid_from") ||
        (col("valid_to").isNotNull && col("ts") >= col("valid_to")))
    assert(bad.count() == 0,
      "asof-backward value must equal the containing episode's value")
  }

  test("downsampleLttb: endpoints kept, spikes survive, short series pass through") {
    def t(sec: Int) = new java.sql.Timestamp(1704067200000L + sec * 1000L)
    // flat series with one huge spike at t=50
    val rows = (0 until 100).map(i =>
      (1L, t(i), if (i == 50) 100.0 else math.sin(i / 10.0))) ++
      (0 until 4).map(i => (2L, t(i), i.toDouble)) // short: unchanged
    val out = Temporal.downsampleLttb(rows.toDF("k", "ts", "v"),
      "k", "ts", "v", nOut = 10)
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    val k1 = out.filter(_._1 == "1").sortBy(_._2.getTime)
    assert(k1.length == 10, "exactly nOut points for a long series")
    assert(k1.head._2 == t(0) && k1.last._2 == t(99), "endpoints always kept")
    assert(k1.exists(_._3 == 100.0),
      "the spike forms the largest triangle in its bucket and must survive")
    assert(out.count(_._1 == "2") == 4, "series at or under nOut untouched")
    // deterministic: same input -> same selection
    val again = Temporal.downsampleLttb(rows.toDF("k", "ts", "v"),
      "k", "ts", "v", nOut = 10)
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    assert(out.toSet == again.toSet)
  }

  test("applyCdc: latest change wins, delete drops, untouched base survives") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, ts("2024-01-01 00:00:01"), "U", "a2", 1L), // update...
      (1L, ts("2024-01-01 00:00:02"), "U", "a3", 2L), // ...but this is later
      (2L, ts("2024-01-01 00:00:01"), "D", "x", 3L), // delete key 2
      (4L, ts("2024-01-01 00:00:01"), "U", "d", 4L), // insert new key
      // key 5: inserted then deleted within the stream -> absent
      (5L, ts("2024-01-01 00:00:01"), "U", "e", 5L),
      (5L, ts("2024-01-01 00:00:02"), "D", "e", 6L)
    ).toDF("k", "ts", "op", "v", "tie")
    val out = Temporal.applyCdc(base, changes, "k", "ts", "op", "v", "tie")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a3", 3L -> "c", 4L -> "d"),
      "update wins by ts, delete removes, base-only stays, insert lands")
  }

  test("snapshotAt: the table state AS OF an instant") {
    val log = Seq(
      (1L, ts("2024-01-01 00:00:00"), "bronze", 1L),
      (1L, ts("2024-01-10 00:00:00"), "silver", 2L),
      (2L, ts("2024-01-20 00:00:00"), "gold", 3L) // first change AFTER T
    ).toDF("k", "ts", "v", "tie")
    val out = Temporal.snapshotAt(log, "k", "ts", "v",
      ts("2024-01-15 00:00:00"), tieCol = Some("tie"))
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3))))
      .toMap
    assert(out == Map(1L -> (("silver", 2L))),
      "key 1 is on episode 2 at T; key 2 does not exist yet")
    // exactly AT an episode start: the new episode is current
    val at = Temporal.snapshotAt(log, "k", "ts", "v",
      ts("2024-01-10 00:00:00"), tieCol = Some("tie"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(at(1L) == "silver", "valid_from is inclusive")
  }

  test("changeIntervals plan: one shuffle feeds dedup, lag, lead and version") {
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val df = Temporal.changeIntervals(e, "user_id", "ts", "event_type",
      tieCol = Some("event_id"))
    assert(PlanWalk.shuffleCount(df) == 1,
      "aggregate + three window passes must share the user_id exchange")
  }

  test("timeWeightedAvg: step-function integral, single-point NULL, collapse invariance") {
    val log = Seq(
      // key 1: v=10 for 10 s, then v=40 for 30 s -> twa = (100+1200)/40
      (1L, ts("2024-01-01 00:00:00"), 10.0, 1L),
      (1L, ts("2024-01-01 00:00:10"), 40.0, 2L),
      (1L, ts("2024-01-01 00:00:40"), 7.0, 3L), // last point: no weight
      (2L, ts("2024-01-01 00:00:00"), 99.0, 4L) // single point
    ).toDF("k", "ts", "v", "tie")
    val out = Temporal.timeWeightedAvg(log, "k", "ts", "v", "tie")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), r.getLong(3)))).toMap
    assert(out(1L) == ((Some(32.5), Some(40.0), 3L)))
    assert(out(2L) == ((None, None, 1L)), "no span, NULL twa")
    // collapse invariance: repeating the current value changes nothing
    val withRepeat = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10.0, 1L),
      (1L, ts("2024-01-01 00:00:05"), 10.0, 9L), // redundant re-report
      (1L, ts("2024-01-01 00:00:10"), 40.0, 2L),
      (1L, ts("2024-01-01 00:00:40"), 7.0, 3L)
    ).toDF("k", "ts", "v", "tie")
    val r = Temporal.timeWeightedAvg(withRepeat, "k", "ts", "v", "tie")
      .filter(col("k") === 1L).head()
    assert(r.getDouble(1) == 32.5 && r.getDouble(2) == 40.0,
      "episode collapse (changeIntervals semantics) preserves the integral")
    // same-ts duplicate: zero duration, max tie spans forward
    val dup = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1.0, 1L),
      (1L, ts("2024-01-01 00:00:00"), 3.0, 2L),
      (1L, ts("2024-01-01 00:00:10"), 5.0, 3L)
    ).toDF("k", "ts", "v", "tie")
    val d = Temporal.timeWeightedAvg(dup, "k", "ts", "v", "tie").head()
    assert(d.getDouble(1) == 3.0, "the max-tie duplicate carries the span")
  }

  test("timeWeightedAvgSkewed equals the window plan: real events, ties, singletons, monster key") {
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), r.getLong(3)))).toMap
    val want = asMap(Temporal.timeWeightedAvg(e, "user_id", "ts", "value",
      tieCol = "event_id"))
    for (nb <- Seq(2, 5, 32))
      assert(asMap(Temporal.timeWeightedAvgSkewed(e, "user_id", "ts", "value",
        "event_id", nb)) == want, s"numBuckets=$nb diverges")
    // corners: single-point key (NULL twa/span), same-ts duplicates
    // (max-tie spans forward), a series crossing every bucket edge
    val fix = (Seq((1L, 0L, 10.0, 1L), (1L, 0L, 99.0, 2L), // dup ts: tie 2 spans
      (1L, 600L, 20.0, 3L), (2L, 50L, 5.0, 4L)) ++
      (0 until 200).map(i => (3L, i * 13L, i.toDouble, 100L + i)))
      .map { case (k, sec, v, id) =>
        (k, new java.sql.Timestamp(1700000000000L + sec * 1000L), v, id) }
      .toDF("user_id", "ts", "value", "event_id")
    val fw = asMap(Temporal.timeWeightedAvg(fix, "user_id", "ts", "value", "event_id"))
    val fs = asMap(Temporal.timeWeightedAvgSkewed(fix, "user_id", "ts", "value",
      "event_id", 16))
    assert(fs == fw)
    assert(fw(2L)._1.isEmpty && fw(2L)._2.isEmpty,
      "single-point key reports NULL twa over NULL span")
    assert(fw(1L)._1 == Some(99.0), "the max-tie duplicate must span forward")
    // monster key: 60% of rows on one key, parity + (key, bucket) window
    val big = spark.range(30000).select(
      when(col("id") % 5 < 3, lit(7L)).otherwise(col("id") % 97).as("user_id"),
      timestamp_millis(lit(1700000000000L) + col("id") * 1000L).as("ts"),
      (col("id") % 23).cast("double").as("value"), col("id").as("event_id"))
    val bw = asMap(Temporal.timeWeightedAvg(big, "user_id", "ts", "value", "event_id"))
    val skewed = Temporal.timeWeightedAvgSkewed(big, "user_id", "ts", "value",
      "event_id", 32)
    assert(asMap(skewed) == bw)
    val winParts = PlanWalk.nodes(skewed).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.length
    }
    assert(winParts.contains(2),
      s"local durations must partition by (key, bucket), got $winParts")
    // the default 64 buckets — the bucket count the events config
    // compiles when its skew mapping omits num_buckets — on the monster
    // log and on well-distributed keys
    val skewed64 = Temporal.timeWeightedAvgSkewed(big, "user_id", "ts",
      "value", "event_id")
    assert(asMap(skewed64) == bw, "64 buckets must agree on the monster log")
    val parts64 = PlanWalk.nodes(skewed64).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.length
    }
    assert(parts64.contains(2),
      s"monster log must run (key, bucket) windows, got $parts64")
    val uniform = spark.range(4000).select((col("id") % 211).as("user_id"),
      timestamp_millis(lit(1700000000000L) + col("id") * 1000L).as("ts"),
      (col("id") % 23).cast("double").as("value"), col("id").as("event_id"))
    assert(asMap(Temporal.timeWeightedAvgSkewed(uniform, "user_id", "ts",
      "value", "event_id")) ==
      asMap(Temporal.timeWeightedAvg(uniform, "user_id", "ts", "value",
        "event_id")), "64 buckets must agree on well-distributed keys")
  }

  test("resampleLocf: daily grid, forward fill, NULL before first observation") {
    val log = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-03 09:00:00"), 3.0),
      (2L, ts("2024-01-01 00:00:00"), 9.0) // exactly ON the grid point
    ).toDF("k", "ts", "v")
    val out = Temporal.resampleLocf(log, "k", "ts", Seq("v"), "day")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString.take(10)) ->
        Option(r.get(3))).toMap
    assert(out((1L, "2024-01-01")) == None,
      "grid point 00:00 precedes the 10:00 first observation")
    assert(out((1L, "2024-01-02")) == Some(1.0), "carried forward")
    assert(out((1L, "2024-01-03")) == Some(1.0),
      "grid 2024-01-03 00:00 precedes the 09:00 observation — still 1.0")
    assert(out((2L, "2024-01-01")) == Some(9.0), "on-grid observation matches")
    assert(out.size == 4)
  }

  test("algebra: applyCdc(snapshot(T0), upserts in (T0, T1]) == snapshot(T1)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val t0 = ts("2024-01-10 00:00:00")
    val t1 = ts("2024-01-20 00:00:00")
    val snap0 = Temporal.snapshotAt(e, "user_id", "ts", "event_type", t0,
      tieCol = Some("event_id")).select(col("user_id"), col("event_type"))
    val changes = e.filter(col("ts") > lit(t0) && col("ts") <= lit(t1))
      .select(col("user_id"), col("ts"), col("event_id"),
        lit("U").as("op"), col("event_type"))
    val applied = Temporal.applyCdc(snap0, changes, "user_id", "ts", "op",
      "event_type", tieCol = "event_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val snap1 = Temporal.snapshotAt(e, "user_id", "ts", "event_type", t1,
      tieCol = Some("event_id"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(applied == snap1,
      "snapshot + incremental apply must commute with snapshotting later")
  }

  test("rangeJoin and intervalOverlapJoin equal brute force on random intervals") {
    val rnd = new scala.util.Random(7)
    val points = (1 to 80).map(i =>
      (rnd.nextInt(4).toLong, rnd.nextDouble() * 100, i.toLong))
    val ivs = (1 to 40).map { i =>
      val s = rnd.nextDouble() * 100
      (rnd.nextInt(5).toLong, s, s + rnd.nextDouble() * 25, i.toLong)
    }
    val pDf = points.toDF("k", "x", "pid")
    val iDf = ivs.toDF("k", "lo", "hi", "iid")
    val wantPts = (for ((pk, x, pid) <- points; (ik, lo, hi, iid) <- ivs
                        if pk == ik && x >= lo && x <= hi) yield (pid, iid)).toSet
    val gotPts = Temporal.rangeJoin(pDf, iDf, "x", "lo", "hi",
      bucketWidth = 7.0, keyCol = Some("k"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(gotPts == wantPts, "point-in-interval vs brute force")

    val ivs2 = (1 to 40).map { i =>
      val s = rnd.nextDouble() * 100
      (rnd.nextInt(5).toLong, s, s + rnd.nextDouble() * 25, 100L + i)
    }
    val jDf = ivs2.toDF("k", "lo2", "hi2", "jid")
    val wantOv = (for ((ak, alo, ahi, aid) <- ivs; (bk, blo, bhi, bid) <- ivs2
                       if ak == bk && alo <= bhi && blo <= ahi)
      yield (aid, bid)).toSet
    val gotOv = Temporal.intervalOverlapJoin(iDf, jDf, "lo", "hi",
      "lo2", "hi2", bucketWidth = 9.0, keyCol = Some("k"))
      .select("iid", "jid").as[(Long, Long)].collect().toSet
    assert(gotOv == wantOv, "interval overlap vs brute force, no dups")
    assert(Temporal.intervalOverlapJoin(iDf, jDf, "lo", "hi", "lo2", "hi2",
      bucketWidth = 9.0, keyCol = Some("k")).count() == wantOv.size,
      "row count equals pair count — the canonical-bucket dedup is exact")
  }

  test("events pipeline composition: bounded exchanges, no nested loop") {
    val df = ExtensionQueries.queries("q_pipeline_events")(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val n = PlanWalk.shuffleCount(df)
    assert(n <= 8,
      s"sessionize + asof + range-join + card must stay plan-bounded, got $n")
    val names = PlanWalk.nodes(df).map(_.nodeName.toLowerCase)
    assert(!names.exists(x => x.contains("nestedloop") || x.contains("cartesian")),
      "the composition must never fall back to a nested loop")
  }

  test("rangeJoin: containment matches, inclusive bounds, no duplicates") {
    val points = Seq((1L, 5.0, "p5"), (1L, 10.0, "p10"), (1L, 25.0, "p25"),
      (2L, 5.0, "q5")).toDF("k", "x", "pid")
    val intervals = Seq((1L, 0.0, 10.0, "i_a"), (1L, 10.0, 20.0, "i_b"),
      (2L, 100.0, 200.0, "i_c")).toDF("k", "lo", "hi", "iid")
    val out = Temporal.rangeJoin(points, intervals, "x", "lo", "hi",
      bucketWidth = 4.0, keyCol = Some("k"))
      .select("pid", "iid").as[(String, String)].collect().toSet
    assert(out == Set(("p5", "i_a"), ("p10", "i_a"), ("p10", "i_b")),
      "both inclusive ends; p25 unmatched; q5 outside key-2's interval")
  }

  test("rangeJoin: no equi-key, empty/inverted intervals dropped, NULL point dropped") {
    val points = Seq((Option(3.0), "a"), (Option.empty[Double], "b"))
      .toDF("x", "pid")
    val intervals = Seq((2.0, 4.0, "ok"), (9.0, 1.0, "inverted"))
      .toDF("lo", "hi", "iid")
    val out = Temporal.rangeJoin(points, intervals, "x", "lo", "hi", 1.0)
      .select("pid", "iid").as[(String, String)].collect().toSet
    assert(out == Set(("a", "ok")))
  }

  test("intervalOverlapJoin: overlap matrix, touching ends, duplicate-free") {
    val a = Seq((1L, 0.0, 10.0, "a1"), (1L, 20.0, 30.0, "a2"),
      (2L, 0.0, 10.0, "a3")).toDF("k", "ls", "le", "aid")
    val b = Seq((1L, 5.0, 25.0, "b1"), // overlaps a1 AND a2
      (1L, 10.0, 12.0, "b2"), // touches a1's end exactly (inclusive)
      (1L, 31.0, 40.0, "b3"), // disjoint
      (2L, 100.0, 200.0, "b4")).toDF("k", "rs", "re", "bid")
    val out = Temporal.intervalOverlapJoin(a, b, "ls", "le", "rs", "re",
      bucketWidth = 4.0, keyCol = Some("k"))
      .select("aid", "bid").as[(String, String)].collect().toList
    assert(out.sorted == List(("a1", "b1"), ("a1", "b2"), ("a2", "b1")),
      s"exact overlap set, each pair exactly once, got $out")
  }

  test("intervalOverlapJoin plan: equi-join, no distinct, no nested loop") {
    val a = Seq((0.0, 10.0, "a")).toDF("ls", "le", "aid")
    val b = Seq((5.0, 25.0, "b")).toDF("rs", "re", "bid")
    val df = Temporal.intervalOverlapJoin(a, b, "ls", "le", "rs", "re", 4.0)
    df.collect()
    val names = PlanWalk.nodes(df).map(_.nodeName.toLowerCase)
    assert(!names.exists(n => n.contains("nestedloop") || n.contains("cartesian")))
    assert(!names.exists(_.contains("aggregate")),
      "canonical-bucket dedup needs no DISTINCT pass")
  }

  test("rangeJoin: maxSpans guard fires on an exploding interval") {
    val points = Seq((1.0, "p")).toDF("x", "pid")
    val intervals = Seq((0.0, 1e9, "huge")).toDF("lo", "hi", "iid")
    val e = intercept[Exception] {
      Temporal.rangeJoin(points, intervals, "x", "lo", "hi", 1.0,
        maxSpans = 100).collect()
    }
    assert(e.getMessage.contains("rangeJoin") ||
      Option(e.getCause).exists(_.getMessage.contains("rangeJoin")))
  }

  test("changeIntervalsSkewed equals changeIntervals: real events, bucket counts, edges") {
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getTimestamp(1),
        Option(r.getTimestamp(2)), r.getString(3), r.getLong(4))).toSet
    val want = asSet(Temporal.changeIntervals(e, "user_id", "ts",
      "event_type", tieCol = Some("event_id")))
    for (nb <- Seq(2, 5, 32))
      assert(asSet(Temporal.changeIntervalsSkewed(e, "user_id", "ts",
        "event_type", tieCol = Some("event_id"), numBuckets = nb)) == want,
        s"numBuckets=$nb diverges")
    // crafted boundary traps: an episode VALUE repeating across a
    // bucket edge must not mint a version (carry feeds the change
    // filter), a same-ts dup resolves by tie, and valid_to must cross
    // empty and no-kept-row buckets to the next episode start
    val fix = Seq(
      (1L, 0L, "a", 1L), (1L, 0L, "b", 2L), // dup ts -> tie 2 wins -> 'b'
      (1L, 100L, "b", 3L), // same value: collapses (NO new version)
      (1L, 900L, "b", 4L), // still 'b' far later (likely another bucket)
      (1L, 990L, "c", 5L), // change near the far edge
      (2L, 500L, "x", 6L) // single-row key: one open episode
    ).map { case (k, sec, v, id) =>
      (k, new java.sql.Timestamp(1700000000000L + sec * 1000L), v, id)
    }.toDF("k", "ts", "v", "id")
    for (nb <- Seq(2, 4, 16)) {
      val got = Temporal.changeIntervalsSkewed(fix, "k", "ts", "v",
        tieCol = Some("id"), numBuckets = nb).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          Option(r.getTimestamp(2)).map(_.getTime), r.getString(3),
          r.getLong(4))).toSet
      val base = 1700000000000L
      assert(got == Set(
        (1L, base, Some(base + 990000L), "b", 1L),
        (1L, base + 990000L, None, "c", 2L),
        (2L, base + 500000L, None, "x", 1L)), s"numBuckets=$nb: $got")
    }
  }

  test("changeIntervalsSkewed: monster key matches the plain path and slices over (key, bucket)") {
    // 60% of a 30k-row change log on one key, values churning so the
    // episode count stays high — the serialization case
    val big = spark.range(30000).select(
      when(col("id") % 5 < 3, lit(7L)).otherwise(col("id") % 97).as("k"),
      timestamp_millis(lit(1700000000000L) + col("id") * 1000L).as("ts"),
      (col("id") % 3).cast("string").as("v"), col("id").as("tie"))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getTimestamp(1),
        Option(r.getTimestamp(2)), r.getString(3), r.getLong(4))).toSet
    val want = asSet(Temporal.changeIntervals(big, "k", "ts", "v",
      tieCol = Some("tie")))
    val skewed = Temporal.changeIntervalsSkewed(big, "k", "ts", "v",
      tieCol = Some("tie"), numBuckets = 32)
    assert(asSet(skewed) == want)
    val winParts = PlanWalk.nodes(skewed).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.length
    }
    assert(winParts.contains(2),
      s"expected (key, bucket)-partitioned local windows, got $winParts")
    // and at the default bucket count
    assert(asSet(Temporal.changeIntervalsSkewed(big, "k", "ts", "v",
      tieCol = Some("tie"))) == want)
  }

  test("resampleLocfSkewed equals resampleLocf: real views, bucket counts, monster log") {
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val views = e.filter(col("event_type") === "view")
      .groupBy("user_id", "ts")
      .agg(expr("max_by(value, event_id)").as("view_value"))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getTimestamp(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    val want = asSet(Temporal.resampleLocf(views, "user_id", "ts",
      Seq("view_value"), "day"))
    for (nb <- Seq(2, 5, 16))
      assert(asSet(Temporal.resampleLocfSkewed(views, "user_id", "ts",
        Seq("view_value"), "day", numBuckets = nb)) == want,
        s"numBuckets=$nb diverges")
    // monster log: one key holds 60% of observations
    val big = spark.range(20000).select(
      when(col("id") % 5 < 3, lit(7L)).otherwise(col("id") % 97).as("k"),
      timestamp_millis(lit(1700000000000L) + col("id") * 3600000L).as("ts"),
      (col("id") % 17).cast("double").as("v"))
      .groupBy("k", "ts").agg(expr("max_by(v, v)").as("v"))
    val bw = asSet(Temporal.resampleLocf(big, "k", "ts", Seq("v"), "day"))
    assert(asSet(Temporal.resampleLocfSkewed(big, "k", "ts", Seq("v"), "day",
      numBuckets = 16)) == bw)
    assert(asSet(Temporal.resampleLocfSkewed(big, "k", "ts", Seq("v"), "day"))
      == bw, "the default bucket count must agree on the monster log")
  }

  test("rangeJoin plan: hash equi-join on the bucket, no nested loop") {
    val points = Seq((1L, 5.0, "p")).toDF("k", "x", "pid")
    val intervals = Seq((1L, 0.0, 10.0, "i")).toDF("k", "lo", "hi", "iid")
    val df = Temporal.rangeJoin(points, intervals, "x", "lo", "hi", 4.0,
      keyCol = Some("k"))
    df.collect()
    val names = PlanWalk.nodes(df).map(_.nodeName.toLowerCase)
    assert(!names.exists(n => n.contains("nestedloop") || n.contains("cartesian")),
      s"bucketized blocking must plan an equi-join, got: ${names.mkString(", ")}")
  }
}
