package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Temporal joins Spark lacks natively: the AS-OF join (point-in-time
 * enrichment — each left row picks the nearest right row at-or-before
 * / at-or-after its timestamp per key) and the RANGE (interval
 * containment) join via bucketized blocking. Reference behavior: the
 * reference engine has no temporal surface at all; these are the
 * event-log operators a training-data pipeline needs for
 * feature-at-time-of-label extraction and log-to-session attribution
 * (kdb's `aj`, pandas' `merge_asof`, Flink's temporal table join).
 *
 * 100 TB design — why NOT a join: the naive plan (equi-join on key +
 * ts inequality, then argmax per left row) shuffles both sides AND
 * explodes each left row by its full right-history before the
 * aggregate collapses it — quadratic in per-key history. The plan
 * here is the sort-merge formulation: tag the two sides, UNION them
 * (no shuffle), ONE hash-partition by key, and resolve each left row
 * with a running `last(right_payload, ignoreNulls)` over the
 * (ts, side, tie) sort — O(n log n) per key in the partition sort,
 * O(1) running state per row, zero row amplification, exactly one
 * exchange in the whole plan. Forward direction reuses the same
 * running frame over the REVERSED sort instead of an
 * unbounded-following frame (Spark recomputes those per-row — O(n²)).
 * Skewed keys land on one task like any per-key window; the scale-out
 * for monster keys is [[asofJoinSkewed]] — range-partitioning
 * (key, ts-bucket) with a boundary-carry pass over the same union
 * layout — which the events config picks when it declares a `skew`
 * mapping; AQE cannot: its skew-join splitting only rewrites join
 * operators it knows.
 */
object Temporal {

  /**
   * As-of join: enrich each `left` row with `payloadCols` from the
   * `right` row sharing `keyCol` whose `tsCol` is the closest
   * at-or-before (`direction = "backward"`), at-or-after
   * (`"forward"`), or on either side (`"nearest"`, backward on
   * distance ties) of the left row's `tsCol`. Equal timestamps match
   * (>= / <= semantics, like DuckDB's `ASOF JOIN` and pandas'
   * `merge_asof(allow_exact_matches=True)`).
   *
   * Output: every `left` column, then `asof_ts` (the matched right
   * timestamp) and `payloadCols` — all NULL when no right row
   * qualifies (left-outer semantics). `toleranceSeconds` additionally
   * nulls matches farther than the tolerance (inclusive bound),
   * applied row-locally after the window resolution.
   *
   * Determinism with duplicate right timestamps: among right rows
   * tied on (key, ts), backward keeps the one with the LARGEST
   * `rightTieCol`, forward the SMALLEST; pass a unique tie column (or
   * pre-aggregate the right side to unique (key, ts)) for a
   * deterministic result (the tie rides the sort as a double, so
   * integral ties are distinct up to 2^53). NULL keys/timestamps
   * never match on either side (SQL join semantics): such left rows
   * pass through with NULL payload, such right rows are dropped.
   */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               tsCol: String, payloadCols: Seq[String],
               direction: String = "backward",
               toleranceSeconds: Option[Double] = None,
               rightTieCol: Option[String] = None): DataFrame = {
    require(payloadCols.nonEmpty, "need at least one right payload column")
    require(Set("backward", "forward", "nearest")(direction),
      s"direction must be backward/forward/nearest, got '$direction'")
    val leftCols = left.columns.toSeq
    (payloadCols :+ "asof_ts").foreach(c => require(!leftCols.contains(c),
      s"output column '$c' clashes with a left column"))

    val u = tagSides(left, right, keyCol, tsCol, payloadCols, rightTieCol)

    // Backward: ascending ts, right (side 0) before left at equal ts
    // so >= matches include it; ties keep the LAST right row = max tie.
    // Forward: the same running frame over the reversed sort. Nearest:
    // both windows over the SAME key partitioning (one exchange, two
    // in-partition sorts), then a row-local pick of the closer side
    // (tolerance nulls each side first; ties go backward).
    val wB = Window.partitionBy(col("__k"))
      .orderBy(col("__ts").asc, col("__side").asc, col("__tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(col("__k"))
      .orderBy(col("__ts").desc, col("__side").asc, col("__tie").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL left key/ts rows sort unpredictably inside the window
    // (desc puts NULL ts last — AFTER every right row); the __ok guard
    // forces the no-match contract for them
    val ok = col("__k").isNotNull && col("__ts").isNotNull
    def dtBack(m: Column) = col("__ts").cast("double") - m.getField("__rts").cast("double")
    def dtFwd(m: Column) = m.getField("__rts").cast("double") - col("__ts").cast("double")
    def bounded(m: Column, dt: Column => Column): Column =
      toleranceSeconds match {
        case Some(t) => when(dt(m) <= t, m)
        case None => m
      }
    val matched = direction match {
      case "backward" => u
        .withColumn("__m", last(col("__r"), ignoreNulls = true).over(wB))
        .filter(col("__side") === 1)
        .withColumn("__m", bounded(when(ok, col("__m")), dtBack))
      case "forward" => u
        .withColumn("__m", last(col("__r"), ignoreNulls = true).over(wF))
        .filter(col("__side") === 1)
        .withColumn("__m", bounded(when(ok, col("__m")), dtFwd))
      case _ => u
        .withColumn("__mb", last(col("__r"), ignoreNulls = true).over(wB))
        .withColumn("__mf", last(col("__r"), ignoreNulls = true).over(wF))
        .filter(col("__side") === 1)
        .withColumn("__mb", bounded(when(ok, col("__mb")), dtBack))
        .withColumn("__mf", bounded(when(ok, col("__mf")), dtFwd))
        .withColumn("__m",
          when(col("__mb").isNull, col("__mf"))
            .when(col("__mf").isNull, col("__mb"))
            .when(dtBack(col("__mb")) <= dtFwd(col("__mf")), col("__mb"))
            .otherwise(col("__mf")))
    }
    matched.select(
      leftCols.map(c => col(s"__l.$c").as(c)) ++
        (col("__m.__rts").as("asof_ts") +:
          payloadCols.map(p => col(s"__m.$p").as(p))): _*)
  }

  /** Shared tagging for the union-based as-of formulations: one row
    * per input row as (__k, __ts, __side, __tie, __l left-struct,
    * __r right-payload-struct). Struct packing dodges name collisions
    * between the sides; the NULL literal on the opposite side needs
    * the peer's struct type, taken from a zero-cost schema probe. */
  private def tagSides(left: DataFrame, right: DataFrame, keyCol: String,
                       tsCol: String, payloadCols: Seq[String],
                       rightTieCol: Option[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val rPayload = struct(
      (col(tsCol).cast("timestamp").as("__rts") +: payloadCols.map(col)): _*)
    val rTie = rightTieCol.map(col).getOrElse(lit(0L)).cast("double")
    val rTagged = right
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).cast("timestamp").as("__ts"),
        lit(0).as("__side"), rTie.as("__tie"), rPayload.as("__r"))
    val lStructT = left.select(struct(leftCols.map(col): _*).as("s"))
      .schema("s").dataType
    val rStructT = rTagged.schema("__r").dataType
    val lTagged = left.select(col(keyCol).as("__k"),
      col(tsCol).cast("timestamp").as("__ts"), lit(1).as("__side"),
      lit(null).cast("double").as("__tie"),
      struct(leftCols.map(col): _*).as("__l"), lit(null).cast(rStructT).as("__r"))
    lTagged.unionByName(rTagged.withColumn("__l", lit(null).cast(lStructT)))
  }

  /**
   * Skew-hardened as-of join — the MONSTER-KEY scale-out of
   * [[asofJoin]] (identical semantics and output, backward/forward).
   * The plain formulation's per-key window serializes a key's entire
   * history onto one task: a bot user holding 50% of a 100 TB event
   * log turns one partition into the whole job. Here the union is
   * partitioned by (key, ts-bucket) — `numBuckets` equal-width time
   * ranges over the global span (one 1-row min/max aggregate) — so a
   * monster key spreads over up to `numBuckets` parallel tasks, each
   * sorting only its slice.
   *
   * Boundary carry: a left row whose bucket holds no earlier right
   * row must see the latest right row from EARLIER buckets. A
   * per-(key, bucket) aggregate (map-side combined — at most
   * keys×buckets rows survive) keeps each bucket's extreme right row;
   * a per-key running window over that TINY frame (≤ numBuckets rows
   * per key) resolves each bucket's carry-in, which joins back on
   * (key, bucket) and fills where the local window found nothing.
   * Three shuffles total — (key, bucket) for the window+join, the
   * tiny carry aggregate, the tiny carry window — versus one for
   * [[asofJoin]]: worth it exactly when a key is big enough to
   * serialize, which is why the events config takes this plan only
   * when it declares a `skew` mapping. AQE never fixes
   * this case by itself: its skew-join splitting rewrites only the
   * join operators it knows, and a window over a skewed exchange runs
   * as-is.
   *
   * Tie-break, NULL, and tolerance contracts are [[asofJoin]]'s:
   * equal timestamps match; among right rows tied on (key, ts)
   * backward keeps the largest `rightTieCol`, forward the smallest;
   * NULL keys/timestamps never match; tolerance nulls matches farther
   * than the bound. (`nearest` is not offered — it needs both
   * directions resolved; compose two calls if required.)
   */
  def asofJoinSkewed(left: DataFrame, right: DataFrame, keyCol: String,
                     tsCol: String, payloadCols: Seq[String],
                     direction: String = "backward",
                     toleranceSeconds: Option[Double] = None,
                     rightTieCol: Option[String] = None,
                     numBuckets: Int = 64): DataFrame = {
    require(payloadCols.nonEmpty, "need at least one right payload column")
    require(Set("backward", "forward")(direction),
      s"direction must be backward/forward, got '$direction'")
    require(numBuckets >= 2, s"numBuckets must be >= 2, got $numBuckets")
    val leftCols = left.columns.toSeq
    (payloadCols :+ "asof_ts").foreach(c => require(!leftCols.contains(c),
      s"output column '$c' clashes with a left column"))
    val u = tagSides(left, right, keyCol, tsCol, payloadCols, rightTieCol)

    // equal-width time buckets over the global span: one 1-row
    // aggregate; every non-NULL ts lands in [0, numBuckets-1]
    val span = JobNames.named(left.sparkSession,
        "graft:Temporal.asofJoinSkewed.span") {
      u.agg(min(unix_micros(col("__ts"))).as("lo"),
        max(unix_micros(col("__ts"))).as("hi")).head()
    }
    val (lo, hi) =
      if (span.isNullAt(0)) (0L, 0L) else (span.getLong(0), span.getLong(1))
    val width = math.max(1L, (hi - lo) / numBuckets + 1L)
    val b = u.withColumn("__b", // integral div: exact at any span
      expr(s"(unix_micros(__ts) - ${lo}L) div ${width}L"))

    val backward = direction == "backward"
    // per-(key, bucket) extreme right row: backward wants the latest
    // (max (ts, tie)), forward the earliest; left rows carry a NULL
    // ordering and max_by/min_by skip them. The ordering is (ts, tie)
    // ONLY — the payload must never decide (the local window below
    // cannot see it either), so duplicate (key, ts, tie) right rows
    // resolve in the SAME nondeterminism class on both the in-bucket
    // and cross-bucket paths; pass `rightTieCol` for determinism
    // (ADVICE r15 #2).
    val cellValue = when(col("__side") === 0,
      struct(col("__ts"), col("__tie"), col("__r")))
    val cellOrder = when(col("__side") === 0,
      struct(col("__ts"), col("__tie")))
    val cells = b.groupBy(col("__k"), col("__b"))
      .agg((if (backward) max_by(cellValue, cellOrder)
            else min_by(cellValue, cellOrder)).as("__cell"))
    // carry-in per (key, bucket): the extreme among all STRICTLY
    // earlier (backward) / later (forward) buckets — a running window
    // over ≤ numBuckets rows per key; same (ts, tie)-only ordering,
    // NULL cells (right-free buckets) skipped via the NULL ordering
    val wCarry = Window.partitionBy(col("__k"))
      .orderBy(if (backward) col("__b").asc else col("__b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryOrder = when(col("__cell").isNotNull,
      struct(col("__cell.__ts"), col("__cell.__tie")))
    val carry = cells.withColumn("__carry",
      (if (backward) max_by(col("__cell"), carryOrder)
       else min_by(col("__cell"), carryOrder)).over(wCarry))
      .select(col("__k"), col("__b"), col("__carry.__r").as("__cin"))

    // local resolution inside each (key, bucket) slice, then fill
    // from the carry where the slice held no qualifying right row
    val wLoc = (if (backward)
      Window.partitionBy(col("__k"), col("__b"))
        .orderBy(col("__ts").asc, col("__side").asc, col("__tie").asc)
    else
      Window.partitionBy(col("__k"), col("__b"))
        .orderBy(col("__ts").desc, col("__side").asc, col("__tie").desc))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ok = col("__k").isNotNull && col("__ts").isNotNull
    val dt: Column => Column =
      if (backward)
        m => col("__ts").cast("double") - m.getField("__rts").cast("double")
      else
        m => m.getField("__rts").cast("double") - col("__ts").cast("double")
    val bounded: Column => Column = toleranceSeconds match {
      case Some(t) => m => when(dt(m) <= t, m)
      case None => identity
    }
    // SHUFFLE_HASH on the carry side (r16, the changeIntervalsSkewed
    // convention): at bench scale Spark happily broadcasts the cell
    // frame, but carry is keys×buckets rows — unbounded at production
    // key cardinality, where auto-planning would either OOM a
    // broadcast or fall to a sort-merge join that re-sorts the FULL
    // union on (key, bucket); the hash build is cell-sized and the
    // union side arrives already partitioned on the join keys
    val matched = b
      .join(carry.hint("shuffle_hash"), Seq("__k", "__b"), "left")
      .withColumn("__loc", last(col("__r"), ignoreNulls = true).over(wLoc))
      .filter(col("__side") === 1)
      .withColumn("__m",
        bounded(when(ok, coalesce(col("__loc"), col("__cin")))))
    matched.select(
      leftCols.map(c => col(s"__l.$c").as(c)) ++
        (col("__m.__rts").as("asof_ts") +:
          payloadCols.map(p => col(s"__m.$p").as(p))): _*)
  }

  /**
   * Time-weighted average per key: each observation's value is
   * weighted by how long it REMAINED CURRENT (until the next
   * observation), the step-function integral the plain `avg` gets
   * wrong whenever sampling is irregular (a sensor that reports
   * often while idle drags the unweighted mean). The last
   * observation has no successor and carries no weight; keys with a
   * single observation report NULL twa over a NULL span. Same-ts
   * duplicates self-eliminate (zero duration) with the max-`tieCol`
   * row spanning forward — consistent with [[changeIntervals]], and
   * value-collapse-invariant: computing over the SCD2 episodes gives
   * the same number (spec-pinned).
   *
   * Output: (keyCol, twa, span_sec, n_points), round-6 doubles.
   * 100 TB design: one key shuffle; the lead window and the final
   * aggregate share it.
   */
  def timeWeightedAvg(log: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).cast("timestamp"), col(tieCol))
    log
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(valueCol).isNotNull)
      .withColumn("__dur",
        lead(col(tsCol).cast("timestamp"), 1).over(w).cast("double") -
          col(tsCol).cast("timestamp").cast("double"))
      .groupBy(col(keyCol))
      .agg(
        round(sum(col(valueCol) * col("__dur")) / sum(col("__dur")), 6)
          .as("twa"),
        round(sum(col("__dur")), 6).as("span_sec"),
        count(lit(1)).as("n_points"))
  }

  /**
   * Skew-hardened [[timeWeightedAvg]] — the third member of the
   * (key, ts-bucket) + boundary-carry family
   * ([[asofJoinSkewed]], [[graft.operators.Windowed.sessionizeSkewed]]):
   * the step-function integral decomposes exactly across time buckets.
   * Each (key, bucket) slice computes its local lead-durations and
   * partial sums; the only terms the slices cannot see are the spans
   * from each bucket's LAST observation to the NEXT non-empty
   * bucket's first — one row per (key, bucket) (max-(ts, tie)
   * observation + min ts), resolved by a single lead over the tiny
   * per-key carry frame. Contributions union and aggregate with the
   * same null-skipping sums as the batch plan, so single-point keys
   * still report NULL twa over a NULL span, and round-6 happens once
   * at the end — identical output, monster key spread over
   * `numBuckets` tasks.
   *
   * Float caveat (ADVICE r15 #5): the summation ORDER differs from
   * [[timeWeightedAvg]]'s single per-key sum (per-bucket partials +
   * boundary terms), and both paths grade against one oracle with
   * round(..., 6) as the only tolerance — a sum landing exactly on a
   * 6-decimal rounding boundary could diverge by one rounded digit at
   * scale. Every current fixture passes; if a flake ever appears at
   * higher SF, compare pre-rounding values with a relative epsilon
   * instead of tightening buckets.
   */
  def timeWeightedAvgSkewed(log: DataFrame, keyCol: String, tsCol: String,
                            valueCol: String, tieCol: String,
                            numBuckets: Int = 64): DataFrame = {
    require(numBuckets >= 2, s"numBuckets must be >= 2, got $numBuckets")
    val e = log
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).cast("timestamp").as("__ts"),
        col(valueCol).as("__v"), col(tieCol).as("__tie"))
    val span = JobNames.named(log.sparkSession,
        "graft:Temporal.timeWeightedAvgSkewed.span") {
      e.agg(min(unix_micros(col("__ts"))).as("lo"),
        max(unix_micros(col("__ts"))).as("hi")).head()
    }
    val (lo, hi) =
      if (span.isNullAt(0)) (0L, 0L) else (span.getLong(0), span.getLong(1))
    val width = math.max(1L, (hi - lo) / numBuckets + 1L)
    val b = e.withColumn("__b",
      expr(s"(unix_micros(__ts) - ${lo}L) div ${width}L"))
    val wLoc = Window.partitionBy(col("__k"), col("__b"))
      .orderBy(col("__ts"), col("__tie"))
    val withDur = b.withColumn("__dur",
      lead(col("__ts"), 1).over(wLoc).cast("double") -
        col("__ts").cast("double"))
    val cells = withDur.groupBy(col("__k"), col("__b"))
      .agg(sum(col("__v") * col("__dur")).as("__vd"),
        sum(col("__dur")).as("__dd"),
        count(lit(1)).as("__cnt"),
        min(col("__ts")).as("__first"),
        max(struct(col("__ts"), col("__tie"), col("__v"))).as("__last"))
    val wk = Window.partitionBy(col("__k")).orderBy(col("__b"))
    val carry = cells
      .withColumn("__bdur",
        lead(col("__first"), 1).over(wk).cast("double") -
          col("__last.__ts").cast("double"))
      .withColumn("__bvd", col("__last.__v") * col("__bdur"))
    val contrib = carry
      .select(col("__k"), col("__vd"), col("__dd"), col("__cnt"))
      .unionByName(carry.select(col("__k"), col("__bvd").as("__vd"),
        col("__bdur").as("__dd"), lit(0L).as("__cnt")))
    contrib.groupBy(col("__k"))
      .agg(round(sum(col("__vd")) / sum(col("__dd")), 6).as("twa"),
        round(sum(col("__dd")), 6).as("span_sec"),
        sum(col("__cnt")).as("n_points"))
      .select(col("__k").as(keyCol), col("twa"), col("span_sec"),
        col("n_points"))
  }

  /**
   * Resample-with-forward-fill (LOCF): regularize an irregular
   * per-key series onto a `unit` grid (day/hour/minute), each grid
   * point carrying the last observation at-or-before it — the
   * feature-store export shape (daily snapshots from an event log).
   * The grid spans `[trunc(min ts), trunc(max ts)]` per key; the
   * first grid point precedes the first observation whenever
   * truncation rounds down, and reports NULL (no fabricated fill).
   * Output: (keyCol, grid_ts, asof_ts, payloadCols…).
   *
   * Pure composition: a per-key min/max aggregate + `sequence`
   * explode builds the grid (output is grid-sized, not log-sized),
   * then [[asofJoin]] backward resolves each point — two key-keyed
   * shuffles total, no join node, grid cardinality bounded by
   * span/unit per key.
   */
  def resampleLocf(log: DataFrame, keyCol: String, tsCol: String,
                   payloadCols: Seq[String], unit: String,
                   rightTieCol: Option[String] = None): DataFrame =
    asofJoin(locfGrid(log, keyCol, tsCol, unit),
      log.withColumnRenamed(tsCol, "grid_ts"), keyCol,
      "grid_ts", payloadCols, rightTieCol = rightTieCol)

  /** The LOCF grid — ONE definition shared by [[resampleLocf]] and
    * [[resampleLocfSkewed]] (review r16: the two execution paths are
    * graded on one oracle text, so their grids must be literally the
    * same code, not a copy that can drift). */
  private def locfGrid(log: DataFrame, keyCol: String, tsCol: String,
                       unit: String): DataFrame = {
    require(Set("day", "hour", "minute")(unit.toLowerCase),
      s"unit must be day/hour/minute, got '$unit'")
    require(tsCol == "grid_ts" || !log.columns.contains("grid_ts"),
      "log already has a 'grid_ts' column — rename it before resampling")
    log
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(date_trunc(unit, min(col(tsCol).cast("timestamp"))).as("__lo"),
        date_trunc(unit, max(col(tsCol).cast("timestamp"))).as("__hi"))
      .select(col(keyCol),
        explode(sequence(col("__lo"), col("__hi"),
          expr(s"interval 1 $unit"))).as("grid_ts"))
  }

  /**
   * Skew-hardened LOCF resample — [[resampleLocf]] with the grid
   * resolution delegated to [[asofJoinSkewed]] instead of [[asofJoin]]:
   * the grid side is bounded (span/unit rows per key) but the LOG side
   * is the fact stream, and a monster key's history serializes the
   * plain union window exactly like the as-of case — same fix, same
   * (key, ts-bucket) + boundary-carry machinery, identical output
   * (grid construction is shared code; third execution path on the
   * q_events_resample oracle text).
   */
  def resampleLocfSkewed(log: DataFrame, keyCol: String, tsCol: String,
                         payloadCols: Seq[String], unit: String,
                         rightTieCol: Option[String] = None,
                         numBuckets: Int = 64): DataFrame =
    asofJoinSkewed(locfGrid(log, keyCol, tsCol, unit),
      log.withColumnRenamed(tsCol, "grid_ts"), keyCol,
      "grid_ts", payloadCols, rightTieCol = rightTieCol,
      numBuckets = numBuckets)

  /**
   * Broadcast as-of join — the zero-fact-shuffle variant of
   * [[asofJoin]] (backward direction) for when the right side is a
   * DIMENSION HISTORY that fits in a broadcast (price books, config
   * versions, profile snapshots: thousands of keys × bounded history,
   * not another fact stream). The right side collapses to one
   * time-sorted `array<struct<ts, payload…>>` per key (its own small
   * shuffle), broadcasts, and each left row resolves ROW-LOCALLY —
   * an array filter + last-element pick. The 100 TB fact stream is
   * never shuffled, never sorted: at scale this is the difference
   * between a map-only stage and repartitioning the whole log.
   * Same matching semantics as [[asofJoin]] backward (>= inclusive,
   * tolerance nulls stale matches); with duplicate right (key, ts)
   * rows the tie falls to the payload struct order — pre-aggregate
   * the right side to unique (key, ts) for a deterministic result.
   */
  def asofJoinBroadcast(left: DataFrame, right: DataFrame, keyCol: String,
                        tsCol: String, payloadCols: Seq[String],
                        toleranceSeconds: Option[Double] = None): DataFrame = {
    require(payloadCols.nonEmpty, "need at least one right payload column")
    val leftCols = left.columns.toSeq
    (payloadCols :+ "asof_ts").foreach(c => require(!leftCols.contains(c),
      s"output column '$c' clashes with a left column"))
    val hist = right
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(
        col(tsCol).cast("timestamp").as("__rts") +: payloadCols.map(col): _*)))
        .as("__hist"))
    val lt = col(tsCol).cast("timestamp")
    val joined = left.join(
      broadcast(hist.withColumnRenamed(keyCol, "__hk")),
      left(keyCol) === col("__hk"), "left")
    val inTol: Column => Column = toleranceSeconds match {
      case Some(t) => x => lt.cast("double") - x.getField("__rts").cast("double") <= t
      case None => _ => lit(true)
    }
    // stage the filtered array: HOF lambdas get no CSE, so size()+get()
    // over an unstaged `cand` would run the filter twice per row
    val staged = joined.withColumn("__cand",
      filter(col("__hist"), x => x.getField("__rts") <= lt && inTol(x)))
    // get() is NULL-safe where element_at(-1) throws under ANSI; an
    // empty candidate array yields index -1 -> NULL match
    staged
      .withColumn("__m",
        get(col("__cand"), (size(col("__cand")) - 1).cast("int")))
      .select(leftCols.map(col) ++
        (col("__m.__rts").as("asof_ts") +:
          payloadCols.map(p => col(s"__m.$p").as(p))): _*)
  }

  /**
   * Change-interval (SCD-type-2) builder: turn an append-only change
   * LOG into validity INTERVALS — one row per (key, value episode)
   * with `valid_from` (inclusive), `valid_to` (exclusive start of the
   * next episode; NULL while current) and a per-key `version`
   * counter. Same-timestamp duplicates keep the `tieCol`-largest row
   * first; consecutive rows repeating the same value COLLAPSE into
   * one episode (NULL-safe comparison), so re-emitted unchanged
   * snapshots don't mint spurious versions. The inverse view of
   * [[asofJoin]]: enriching a point against the log backward equals
   * membership in the episode interval built here (spec-pinned).
   *
   * 100 TB design: ONE key-partitioned shuffle. The same-ts dedup is
   * deliberately a WINDOW pass, not a groupBy — an aggregate on
   * (key, ts) would hash-partition on both columns and force a second
   * exchange before the key-partitioned episode windows; here dedup
   * (keep the last row of each ts run), the lag-based change filter,
   * the lead/valid_to and the version counter all ride one
   * exchange + one (ts, tie) sort (plan-asserted in the spec).
   * Output cardinality is episodes, not log rows.
   */
  def changeIntervals(log: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String,
                      tieCol: Option[String] = None): DataFrame = {
    val tie = tieCol.map(col).getOrElse(lit(0L))
    val base = log
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol), col(tsCol).cast("timestamp").as("valid_from"),
        col(valueCol), tie.as("__tie"))
    val wTie = Window.partitionBy(col(keyCol))
      .orderBy(col("valid_from"), col("__tie"))
    // later specs order by valid_from alone — a PREFIX of this sort,
    // so no re-sort and no re-shuffle
    val w = Window.partitionBy(col(keyCol)).orderBy(col("valid_from"))
    base
      .withColumn("__nts", lead(col("valid_from"), 1).over(wTie))
      .filter(col("__nts").isNull || col("__nts") =!= col("valid_from"))
      .withColumn("__pv", lag(col(valueCol), 1).over(w))
      .withColumn("__keep",
        lag(col("valid_from"), 1).over(w).isNull ||
          !(col(valueCol) <=> col("__pv")))
      .filter(col("__keep"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .select(col(keyCol), col("valid_from"), col("valid_to"),
        col(valueCol), col("version"))
  }

  /**
   * Skew-hardened SCD2 builder — the MONSTER-KEY scale-out of
   * [[changeIntervals]] (identical output contract), completing the
   * (key, ts-bucket) + boundary-carry family next to
   * [[asofJoinSkewed]] / [[timeWeightedAvgSkewed]] /
   * [[graft.operators.Windowed.sessionizeSkewed]]: the plain builder's
   * per-key windows put one bot key's entire change log on one task.
   *
   * Decomposition — every per-key pass splits at bucket boundaries
   * with a tiny carry:
   *  - SAME-TS DEDUP is local for free: a timestamp run can never
   *    cross buckets (the bucket is a pure function of ts).
   *  - The CHANGE FILTER compares each row's value to its immediate
   *    post-dedup predecessor; only each bucket's FIRST row looks
   *    across the boundary, and its predecessor is exactly the
   *    previous non-empty bucket's LAST value — one per-(key, bucket)
   *    aggregate + a `lag` over the ≤`numBuckets`-rows-per-key cell
   *    frame (rows with no carry are the key's true first row).
   *  - VALID_TO of each bucket's last KEPT row is the next
   *    kept-bucket's first episode start (a second tiny cell frame);
   *    interior kept rows use the local lead.
   *  - VERSION = local row_number + the running count of kept rows in
   *    earlier buckets (same cell frame).
   * Everything wide rides ONE (key, bucket) exchange (the local
   * windows, both cell aggregates and the two cell joins share it);
   * the per-key passes touch only bucket-cardinality cell frames.
   *
   * Tie and NULL contracts are [[changeIntervals]]'s verbatim.
   */
  def changeIntervalsSkewed(log: DataFrame, keyCol: String, tsCol: String,
                            valueCol: String,
                            tieCol: Option[String] = None,
                            numBuckets: Int = 64): DataFrame = {
    require(numBuckets >= 2, s"numBuckets must be >= 2, got $numBuckets")
    val tie = tieCol.map(col).getOrElse(lit(0L))
    val base = log
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("__k"),
        col(tsCol).cast("timestamp").as("valid_from"),
        col(valueCol).as("__v"), tie.as("__tie"))
    val span = JobNames.named(log.sparkSession,
        "graft:Temporal.changeIntervalsSkewed.span") {
      base.agg(min(unix_micros(col("valid_from"))).as("lo"),
        max(unix_micros(col("valid_from"))).as("hi")).head()
    }
    val (lo, hi) =
      if (span.isNullAt(0)) (0L, 0L) else (span.getLong(0), span.getLong(1))
    val width = math.max(1L, (hi - lo) / numBuckets + 1L)
    val b = base.withColumn("__b", // integral div: exact at any span
      expr(s"(unix_micros(valid_from) - ${lo}L) div ${width}L"))

    // local same-ts dedup (runs never cross buckets): keep the last
    // row of each ts run in (valid_from, tie) order
    val wTieLoc = Window.partitionBy(col("__k"), col("__b"))
      .orderBy(col("valid_from"), col("__tie"))
    val wLoc = Window.partitionBy(col("__k"), col("__b"))
      .orderBy(col("valid_from"))
    val dedup = b
      .withColumn("__nts", lead(col("valid_from"), 1).over(wTieLoc))
      .filter(col("__nts").isNull || col("__nts") =!= col("valid_from"))

    // carry-in value: the previous non-empty bucket's last value
    // (post-dedup valid_from is unique per (key, bucket), so the
    // struct extreme is deterministic)
    val cells = dedup.groupBy(col("__k"), col("__b"))
      .agg(max(struct(col("valid_from"), col("__v"))).as("__lastc"))
    val wCell = Window.partitionBy(col("__k")).orderBy(col("__b"))
    val carry = cells
      .withColumn("__cin", lag(col("__lastc"), 1).over(wCell))
      .select(col("__k"), col("__b"),
        col("__cin").isNotNull.as("__hasPrev"), col("__cin.__v").as("__cv"))

    // change filter with the boundary carry substituted at bucket-first
    // rows; a key's true first row always starts an episode.
    // SHUFFLE_HASH on the cell side: a sort-merge join would re-sort
    // the FULL log on (key, bucket) — the hash build is cell-sized,
    // and the log side arrives already partitioned on the join keys
    // (no broadcast: cells are keys×buckets rows, unbounded at high
    // key cardinality)
    val kept = dedup
      .join(carry.hint("shuffle_hash"), Seq("__k", "__b"), "left")
      .withColumn("__pv", lag(col("__v"), 1).over(wLoc))
      .withColumn("__first", lag(col("valid_from"), 1).over(wLoc).isNull)
      .filter(
        (col("__first") && !col("__hasPrev")) ||
          (col("__first") && !(col("__v") <=> col("__cv"))) ||
          (!col("__first") && !(col("__v") <=> col("__pv"))))

    // valid_to + version across buckets: per-bucket kept cells carry
    // the first episode start and the kept count
    val kc = kept.groupBy(col("__k"), col("__b"))
      .agg(min(col("valid_from")).as("__fk"), count(lit(1)).as("__nk"))
    val kc2 = kc
      .withColumn("__nextfk", lead(col("__fk"), 1).over(wCell))
      .withColumn("__off", coalesce(
        sum(col("__nk")).over(
          wCell.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__k"), col("__b"), col("__nextfk"), col("__off"))
    kept
      .join(kc2.hint("shuffle_hash"), Seq("__k", "__b"), "left")
      .withColumn("valid_to",
        coalesce(lead(col("valid_from"), 1).over(wLoc), col("__nextfk")))
      .withColumn("version",
        (col("__off") + row_number().over(wLoc)).cast("long"))
      .select(col("__k").as(keyCol), col("valid_from"), col("valid_to"),
        col("__v").as(valueCol), col("version"))
  }

  /**
   * Point-in-time table SNAPSHOT — "the table AS OF time T": each
   * key's value whose [[changeIntervals]] episode contains `asOf`
   * (valid_from ≤ T, valid_to > T or open). Keys whose first change
   * is after T are absent, exactly like a temporal table. Pure
   * composition over the SCD2 builder: one key shuffle, episode
   * cardinality, then a row-local containment filter.
   * Output: (keyCol, valid_from, valueCol, version).
   */
  def snapshotAt(log: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, asOf: java.sql.Timestamp,
                 tieCol: Option[String] = None): DataFrame =
    changeIntervals(log, keyCol, tsCol, valueCol, tieCol)
      .filter(col("valid_from") <= lit(asOf) &&
        (col("valid_to").isNull || col("valid_to") > lit(asOf)))
      .select(col(keyCol), col("valid_from"), col(valueCol), col("version"))

  /**
   * LTTB series DOWNSAMPLING (Largest-Triangle-Three-Buckets,
   * Steinarsson 2013): per key, pick `nOut` points that preserve the
   * series' visual shape — endpoints always kept, the middle split
   * into `nOut-2` equal buckets, each contributing the point whose
   * triangle with the PREVIOUSLY selected point and the next
   * bucket's centroid has the largest area (spikes survive where
   * uniform sampling would erase them).
   *
   * Honest `flatMapGroups` case: the selection is inherently
   * SEQUENTIAL per key (each pick depends on the previous), so the
   * per-key series materializes in task memory — the visualization
   * regime this algorithm exists for (millions of keys × thousands
   * of points each parallelizes across keys; one key with billions
   * of points is not a plotting problem). Keys with ≤ nOut points
   * pass through unchanged.
   */
  def downsampleLttb(series: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, nOut: Int): DataFrame = {
    require(nOut >= 3, "LTTB needs at least 3 output points")
    val spark = series.sparkSession
    import spark.implicits._
    val typed = series
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as("k"),
        unix_micros(col(tsCol).cast("timestamp")).as("t"),
        col(valueCol).cast("double").as("v"))
      .as[(String, Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val pts = it.map(p => (p._2, p._3)).toArray.sortBy(identity)
        if (pts.length <= nOut) pts.iterator.map(p => (k, p._1, p._2))
        else {
          val out = Array.newBuilder[(Long, Double)]
          var prev = pts.head
          out += prev
          val nBuckets = nOut - 2
          // bucket i covers middle indices [lo(i), lo(i+1))
          def lo(i: Int): Int = 1 + ((pts.length - 2).toLong * i / nBuckets).toInt
          var i = 0
          while (i < nBuckets) {
            val (s, e) = (lo(i), lo(i + 1))
            // centroid of the NEXT bucket (the last bucket looks at
            // the final point)
            val (ns, ne) = if (i + 1 < nBuckets) (lo(i + 1), lo(i + 2))
              else (pts.length - 1, pts.length)
            var cx = 0.0; var cy = 0.0
            var j = ns
            while (j < ne) { cx += pts(j)._1; cy += pts(j)._2; j += 1 }
            cx /= (ne - ns); cy /= (ne - ns)
            var best = s; var bestArea = -1.0
            j = s
            while (j < e) {
              val area = math.abs(
                (prev._1 - cx) * (pts(j)._2 - prev._2) -
                  (prev._1 - pts(j)._1) * (cy - prev._2))
              if (area > bestArea) { bestArea = area; best = j }
              j += 1
            }
            prev = pts(best)
            out += prev
            i += 1
          }
          out += pts.last
          out.result().iterator.map(p => (k, p._1, p._2))
        }
      }
      .toDF("k", "t", "v")
      .select(col("k").as(keyCol), timestamp_micros(col("t")).as(tsCol),
        col("v").as(valueCol))
  }

  /**
   * CDC APPLY — the warehouse merge primitive: fold a change stream
   * (upserts + deletes) into a base snapshot. Per key, the LATEST
   * change in (ts, tie) order wins: a delete removes the key (even
   * if present in base), an upsert sets its value (even if absent —
   * insert); keys untouched by the stream keep their base row.
   * Output: (keyCol, valueCol) — the next snapshot, ready to feed
   * the next apply.
   *
   * 100 TB design: the change stream collapses to one row per
   * TOUCHED key first (row_number window — change-cardinality), then
   * ONE full-outer key join against base; the base never sorts and
   * deletes never round-trip through it.
   */
  def applyCdc(base: DataFrame, changes: DataFrame, keyCol: String,
               tsCol: String, opCol: String, valueCol: String,
               tieCol: String, deleteOp: String = "D"): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).cast("timestamp").desc, col(tieCol).desc)
    val latest = changes
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(keyCol), col(opCol).as("__op"), col(valueCol).as("__nv"))
    base.select(col(keyCol), col(valueCol).as("__bv"))
      .join(latest, Seq(keyCol), "full_outer")
      .filter(col("__op").isNull || col("__op") =!= deleteOp)
      .select(col(keyCol),
        when(col("__op").isNotNull, col("__nv")).otherwise(col("__bv"))
          .as(valueCol))
  }

  /**
   * Range (interval containment) join: match each `points` row to
   * every `intervals` row with `startCol <= pointCol <= endCol`
   * (inclusive both ends), optionally also equi-keyed on
   * `keyCol`. Inner-join semantics: unmatched points drop out.
   *
   * 100 TB design — bucketized blocking instead of a theta-join:
   * Spark plans a raw inequality join as BroadcastNestedLoop (or a
   * cartesian) — O(|P|·|I|) compares. Here every interval explodes
   * into the fixed-width buckets it overlaps (`sequence` over
   * `floor(start/W)..floor(end/W)` — short arrays when `bucketWidth`
   * is chosen near the typical interval length), points map to
   * exactly ONE bucket, and the pair generation is a hash equi-join
   * on (bucket [, key]) followed by the exact containment filter.
   * Cost: O(|P| + |I|·spans + candidate pairs) with a plain shuffle
   * join — no nested loop anywhere. Long outlier intervals only
   * widen their own explosion (bounded by `maxSpans`, which fails
   * fast rather than silently exploding); candidate duplication is
   * impossible because a point lives in one bucket only.
   */
  /**
   * Interval-OVERLAP join ([[rangeJoin]]'s interval×interval
   * sibling): pair every left interval with every right interval it
   * overlaps (`lStart <= rEnd && rStart <= lEnd`, inclusive),
   * optionally equi-keyed. Both sides explode into fixed-width
   * buckets; a candidate pair appears once per SHARED bucket, so the
   * pair is kept only in its canonical bucket — the bucket of
   * `max(lStart, rStart)` which every overlapping pair shares
   * (overlap ⇒ max(start) ≤ min(end), so both explosions cover it):
   * exact, duplicate-free, and still a plain hash equi-join — no
   * DISTINCT pass, no nested loop.
   */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
                          lStartCol: String, lEndCol: String,
                          rStartCol: String, rEndCol: String,
                          bucketWidth: Double,
                          keyCol: Option[String] = None,
                          maxSpans: Int = 4096): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    def tagged(df: DataFrame, startCol: String, endCol: String): DataFrame = {
      val lo = floor(col(startCol).cast("double") / bucketWidth)
      val hi = floor(col(endCol).cast("double") / bucketWidth)
      val hiGuarded = when(hi - lo >= maxSpans,
        raise_error(lit(s"intervalOverlapJoin: interval spans >= $maxSpans " +
          s"buckets at width $bucketWidth; widen bucketWidth")).cast("long"))
        .otherwise(hi.cast("long"))
      df.filter(col(startCol).isNotNull && col(endCol).isNotNull &&
          col(startCol) <= col(endCol))
        .withColumn("__b", explode(sequence(lo.cast("long"), hiGuarded)))
    }
    val joinKeys = "__b" +: keyCol.toSeq
    val canonical = floor(
      greatest(col(lStartCol).cast("double"), col(rStartCol).cast("double")) /
        bucketWidth).cast("long")
    tagged(left, lStartCol, lEndCol)
      .join(tagged(right, rStartCol, rEndCol), joinKeys, "inner")
      .filter(col(lStartCol) <= col(rEndCol) &&
        col(rStartCol) <= col(lEndCol) && col("__b") === canonical)
      .drop("__b")
  }

  def rangeJoin(points: DataFrame, intervals: DataFrame,
                pointCol: String, startCol: String, endCol: String,
                bucketWidth: Double, keyCol: Option[String] = None,
                maxSpans: Int = 4096): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val pBucket = floor(col(pointCol).cast("double") / bucketWidth)
    val iLo = floor(col(startCol).cast("double") / bucketWidth)
    val iHi = floor(col(endCol).cast("double") / bucketWidth)
    // the guard rides INSIDE the bucket expression (a dropped side
    // column would be pruned by Catalyst and never fire)
    val hiGuarded = when(iHi - iLo >= maxSpans,
      raise_error(concat(lit(s"rangeJoin: interval spans >= $maxSpans " +
        s"buckets at width $bucketWidth; widen bucketWidth — "),
        col(startCol).cast("string"), lit(".."), col(endCol).cast("string")))
        .cast("long"))
      .otherwise(iHi.cast("long"))
    val iTagged = intervals
      .filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        col(startCol) <= col(endCol))
      .withColumn("__b", explode(sequence(iLo.cast("long"), hiGuarded)))
    val pTagged = points.filter(col(pointCol).isNotNull)
      .withColumn("__b", pBucket.cast("long"))
    val joinKeys = "__b" +: keyCol.toSeq
    pTagged.join(iTagged, joinKeys, "inner")
      .filter(col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol))
      .drop("__b")
  }
}
