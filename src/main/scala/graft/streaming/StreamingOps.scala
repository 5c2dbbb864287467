package graft.streaming

import graft.config.TableConfig
import graft.plans.MigrationCompiler
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured-Streaming operators — the engine's answer to the
 * reference's named-but-missing `incremental_fetcher` extension point
 * (reference: config/tables/table_example.yaml:10, loaded dynamically by
 * core/plugin_registry.py; the module never shipped). Where the
 * reference would re-poll Oracle with a cursor, Spark's incremental
 * model is readStream -> same compiled transforms -> writeStream.
 *
 * 100 TB design:
 *  - event-time windows ALWAYS carry a watermark, or state grows
 *    unboundedly;
 *  - sessionization state is per-key and dropped via timeout — the
 *    planner shuffles by key once and keeps state local to a partition;
 *  - the migration compiler is reused verbatim on streaming frames:
 *    transforms/validations are stateless Column rewrites and lookup
 *    joins become stream-static joins (Spark executes the static dim
 *    side as a broadcast per micro-batch).
 */
object StreamingOps {

  /** Watermarked tumbling-window counts + sums per key — the canonical
    * streaming aggregation (late rows beyond `watermark` are dropped,
    * bounding state). */
  def windowedEventCounts(events: DataFrame, tsCol: String, keyCol: String,
                          valueCol: String, window: String,
                          watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("sum_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n_events"), col("sum_value"))

  final case class SessionEvent(userId: Long, ts: java.sql.Timestamp, eventType: String)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class Session(userId: Long, startTs: java.sql.Timestamp,
                           endTs: java.sql.Timestamp, nEvents: Int)
  // public: Spark's encoder codegen instantiates these from generated
  // classes, which cannot touch private members
  final case class KeyedEvent(key: String, tsMs: Long)
  final case class KeyedSession(key: String, startMs: Long, endMs: Long, n: Int)

  implicit private val eventEnc: Encoder[SessionEvent] = Encoders.product[SessionEvent]
  implicit private val stateEnc: Encoder[SessionState] = Encoders.product[SessionState]
  implicit private val sessionEnc: Encoder[Session] = Encoders.product[Session]
  implicit private val keyedEventEnc: Encoder[KeyedEvent] = Encoders.product[KeyedEvent]
  implicit private val keyedSessionEnc: Encoder[KeyedSession] = Encoders.product[KeyedSession]
  implicit private val stringEnc: Encoder[String] = Encoders.STRING

  /** The per-key session state machine shared by both sessionize
    * flavors: close on gap, or (ProcessingTimeTimeout) on silence. */
  private def sessionMachine(gapMs: Long, timeout: GroupStateTimeout)(
      key: String, it: Iterator[KeyedEvent],
      state: GroupState[SessionState]): Iterator[KeyedSession] =
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator(KeyedSession(key, s.start, s.last, s.n))
    } else {
      val evs = it.toSeq
      val closed = Seq.newBuilder[KeyedSession]
      var st = state.getOption.getOrElse(SessionState(Long.MaxValue, Long.MinValue, 0))
      evs.sortBy(_.tsMs).foreach { e =>
        val t = e.tsMs
        if (st.n > 0 && t - st.last > gapMs) {
          closed += KeyedSession(key, st.start, st.last, st.n)
          st = SessionState(t, t, 1)
        } else {
          st = SessionState(math.min(st.start, t), math.max(st.last, t), st.n + 1)
        }
      }
      state.update(st)
      if (timeout == GroupStateTimeout.ProcessingTimeTimeout())
        state.setTimeoutDuration(gapMs)
      closed.result().iterator
    }

  /** Gap-based sessionization via flatMapGroupsWithState: a session closes
    * when a later event arrives past the gap, or (with
    * ProcessingTimeTimeout, the production default) when no event arrives
    * for `gapMs`. State is one small struct per active user —
    * partition-local, timeout-bounded. Tests use NoTimeout: the timeout
    * path keeps scheduling wake-up batches, which never settles under
    * MemoryStream's processAllAvailable. */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long,
                 timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout())
      : Dataset[Session] =
    events.map(e => KeyedEvent(e.userId.toString, e.ts.getTime))
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessionState, KeyedSession](
        OutputMode.Append(), timeout)(sessionMachine(gapMs, timeout))
      .map(s => Session(s.key.toLong, new java.sql.Timestamp(s.startMs),
        new java.sql.Timestamp(s.endMs), s.n))

  /** Column-configurable sessionization — the streaming twin of
    * [[graft.operators.Windowed.sessionizeBatch]]: any (keyCol, tsCol)
    * frame, not just the fixed [[SessionEvent]] shape. The key rides the
    * state machine as its STRING form (one state struct per key either
    * way) and comes back as a string column; output is
    * (keyCol, session_start, session_end, n_events). */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String, gapMs: Long,
                 timeout: GroupStateTimeout): DataFrame =
    events.select(col(keyCol).cast("string").as("key"),
        unix_millis(col(tsCol).cast("timestamp")).as("tsMs")).as[KeyedEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessionState, KeyedSession](
        OutputMode.Append(), timeout)(sessionMachine(gapMs, timeout))
      .select(col("key").as(keyCol),
        timestamp_millis(col("startMs")).as("session_start"),
        timestamp_millis(col("endMs")).as("session_end"),
        col("n").cast("long").as("n_events"))

  // rate-limiter state machine shapes (public for Spark's encoder
  // codegen, same reason as KeyedEvent above)
  final case class ThrottleIn(key: String, tsMs: Long, id: Long)
  final case class ThrottleState(windowStartMs: Long, n: Long)
  final case class ThrottleOut(key: String, id: Long, kept: Boolean)
  implicit private val throttleInEnc: Encoder[ThrottleIn] =
    Encoders.product[ThrottleIn]
  implicit private val throttleStateEnc: Encoder[ThrottleState] =
    Encoders.product[ThrottleState]
  implicit private val throttleOutEnc: Encoder[ThrottleOut] =
    Encoders.product[ThrottleOut]

  /**
   * Per-key RATE LIMITER: at most `maxPerWindow` events per key per
   * tumbling `windowMs` (event-time aligned to the epoch), the rest
   * flagged `kept = false` — ingestion control for abusive keys
   * (one crawler hammering the intake) without dropping the
   * evidence. Within a micro-batch events resolve in (ts, id)
   * order, so admission is deterministic under replay; state per key
   * is one (window, count) pair. Production queries pass a timeout
   * via their own wrapper the way [[sessionize]] documents.
   */
  def streamingRateLimit(events: DataFrame, keyCol: String, tsCol: String,
                         idCol: String, maxPerWindow: Long,
                         windowMs: Long): DataFrame = {
    require(maxPerWindow >= 1 && windowMs >= 1, "positive limit and window")
    events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).cast("string").as("key"),
        unix_millis(col(tsCol).cast("timestamp")).as("tsMs"),
        col(idCol).cast("long").as("id")).as[ThrottleIn]
      .groupByKey(_.key)
      .flatMapGroupsWithState[ThrottleState, ThrottleOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, it, state) =>
          var st = state.getOption.getOrElse(ThrottleState(Long.MinValue, 0L))
          val out = it.toSeq.sortBy(e => (e.tsMs, e.id)).map { e =>
            val w = math.floorDiv(e.tsMs, windowMs) * windowMs
            // only ADVANCE on a newer window: an older-window straggler
            // arriving in a later micro-batch has forfeited its budget
            // (kept = false, state untouched) — resetting on ANY change
            // would let the current window restart at zero and admit up
            // to 2x maxPerWindow
            if (w > st.windowStartMs) st = ThrottleState(w, 0L)
            if (w < st.windowStartMs) ThrottleOut(key, e.id, kept = false)
            else {
              st = st.copy(n = st.n + 1)
              ThrottleOut(key, e.id, st.n <= maxPerWindow)
            }
          }
          state.update(st)
          out.iterator
      }
      .select(col("key").as(keyCol), col("id").as(idCol), col("kept"))
  }

  // streaming as-of enrichment state machine shapes (public for
  // Spark's encoder codegen, same reason as KeyedEvent above)
  final case class AsofIn(key: String, tsMs: Long, side: Int, id: Long,
                          value: Double)
  final case class AsofRight(tsMs: Long, value: Double)
  final case class AsofState(buf: Seq[AsofRight])
  final case class AsofOut(key: String, id: Long, tsMs: Long,
                           asofTsMs: Option[Long], value: Option[Double])
  implicit private val asofInEnc: Encoder[AsofIn] = Encoders.product[AsofIn]
  implicit private val asofStateEnc: Encoder[AsofState] = Encoders.product[AsofState]
  implicit private val asofOutEnc: Encoder[AsofOut] = Encoders.product[AsofOut]

  /** Per-key as-of state: a time-sorted bounded buffer of right rows;
    * each micro-batch is resolved in (ts, side) order so the batch
    * semantics of [[graft.operators.Temporal.asofJoin]] (backward,
    * equal-ts matches, max-tie on duplicates) hold whenever arrival
    * order respects event time. */
  private def asofMachine(toleranceMs: Option[Long], maxBuffer: Int)(
      key: String, it: Iterator[AsofIn],
      state: GroupState[AsofState]): Iterator[AsofOut] = {
    var buf = state.getOption.map(_.buf.toVector).getOrElse(Vector.empty)
    val out = Seq.newBuilder[AsofOut]
    it.toSeq.sortBy(e => (e.tsMs, e.side, e.id)).foreach { e =>
      if (e.side == 0) {
        val idx = buf.indexWhere(_.tsMs > e.tsMs)
        val ins =
          if (idx < 0) buf :+ AsofRight(e.tsMs, e.value)
          else (buf.take(idx) :+ AsofRight(e.tsMs, e.value)) ++ buf.drop(idx)
        buf = if (ins.length > maxBuffer) ins.drop(ins.length - maxBuffer) else ins
      } else {
        val m = buf.filter(r => r.tsMs <= e.tsMs &&
          toleranceMs.forall(t => e.tsMs - r.tsMs <= t)).lastOption
        out += AsofOut(key, e.id, e.tsMs, m.map(_.tsMs), m.map(_.value))
      }
    }
    state.update(AsofState(buf))
    out.result().iterator
  }

  /**
   * Streaming twin of [[graft.operators.Temporal.asofJoin]] (backward
   * direction): enrich each `left` row with the latest `right` value
   * at-or-before its timestamp for the same key — the live
   * feature-at-time-of-label join (quote-at-trade, last-profile-at-
   * event). Both sides stream; per-key state is a time-sorted buffer
   * of the most recent `maxBuffer` right rows (out-of-order arrivals
   * WITHIN a micro-batch are resolved exactly like the batch
   * operator; a right row arriving in a LATER batch than a left row
   * it would have matched is missed — the inherent stream-enrichment
   * contract). `toleranceMs` bounds match staleness like the batch
   * tolerance. NULL keys/timestamps are dropped on both sides.
   *
   * Output: (keyCol as string, idCol, tsCol, asof_ts, valueCol) —
   * asof_ts/value NULL when nothing qualifies.
   *
   * 100 TB design: one shuffle per side into the shared key
   * partitioning; state is O(maxBuffer) per ACTIVE key and
   * per-partition local. Production queries should pass
   * ProcessingTimeTimeout so idle keys evict (NoTimeout is for
   * deterministic tests, like [[sessionize]]).
   */
  def streamingAsofEnrich(left: DataFrame, right: DataFrame,
                          keyCol: String, tsCol: String, idCol: String,
                          valueCol: String,
                          toleranceMs: Option[Long] = None,
                          maxBuffer: Int = 1024): DataFrame = {
    def side(df: DataFrame, s: Int, id: Column, v: Column): DataFrame = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).cast("string").as("key"),
        unix_millis(col(tsCol).cast("timestamp")).as("tsMs"),
        lit(s).as("side"), id.cast("long").as("id"),
        v.cast("double").as("value"))
    val l = side(left, 1, col(idCol), lit(0.0))
    val r = side(right, 0, lit(0L), col(valueCol))
    l.unionByName(r).as[AsofIn]
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        asofMachine(toleranceMs, maxBuffer))
      .select(col("key").as(keyCol), col("id").as(idCol),
        timestamp_millis(col("tsMs")).as(tsCol),
        timestamp_millis(col("asofTsMs")).as("asof_ts"),
        col("value").as(valueCol))
  }

  /**
   * Streaming JDBC loading with IDEMPOTENT micro-batches: foreachBatch
   * → [[graft.sinks.JdbcSink.upsert]] (keyed delete+insert in one
   * transaction per partition). Failure recovery replays a
   * micro-batch from the checkpoint; an append sink would duplicate
   * every replayed row, the upsert converges to the same state — the
   * standard exactly-once-effects recipe for non-transactional,
   * non-offset-aware sinks. The checkpoint location carries the
   * stream's progress; keyCols must identify a row.
   */
  def streamingJdbcUpsert(stream: DataFrame, sink: graft.sinks.JdbcSink,
                          table: String, keyCols: Seq[String],
                          checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        sink.upsert(table, batch.toDF(), keyCols)
      }
      .start()

  /**
   * Streaming CDC loader — [[streamingJdbcUpsert]]'s delete-aware
   * sibling: each micro-batch collapses to its LATEST change per key
   * ((ts, tie) descending row_number — the same rule as
   * [[graft.operators.Temporal.applyCdc]]), then deletes remove and
   * upserts land via the idempotent keyed write. Replays converge;
   * an insert+delete of the same key inside one batch resolves by
   * event time, not arrival order.
   */
  def streamingCdcUpsert(stream: DataFrame, sink: graft.sinks.JdbcSink,
                         table: String, keyCols: Seq[String],
                         tsCol: String, opCol: String, tieCol: String,
                         checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
          .orderBy(col(tsCol).cast("timestamp").desc, col(tieCol).desc)
        val latest = batch.toDF()
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .drop("__rn", tsCol, tieCol)
        sink.applyCdcBatch(table, latest, keyCols, opCol)
      }
      .start()

  /**
   * Watermarked STREAM-STREAM interval join — Spark's native
   * stream-stream join machinery, which none of the other streaming
   * operators exercise (they are stream-static or stateful-single-
   * stream): each left event pairs with same-key right events whose
   * timestamp lies in `[left.ts - beforeSeconds, left.ts +
   * afterSeconds]` (inclusive both ends; the attribution join —
   * "views within an hour of the click", both sides live).
   *
   * State stays BOUNDED because both sides carry the watermark and
   * the join condition bounds each side's timestamp by the other's:
   * Spark derives per-side state eviction from exactly this
   * (watermark + time-range) pair — an equi-only stream-stream join
   * would keep every row forever. Late rows beyond the watermark
   * drop; inner semantics (left rows with no partner emit nothing).
   * Column contract: both sides carry `keyCol`; timestamp columns
   * must differ; right's key is dropped from the output.
   */
  def streamingIntervalJoin(left: DataFrame, right: DataFrame,
                            keyCol: String, leftTsCol: String,
                            rightTsCol: String, beforeSeconds: Long,
                            afterSeconds: Long,
                            watermark: String): DataFrame = {
    require(leftTsCol != rightTsCol,
      "left and right timestamp columns must have distinct names")
    require(beforeSeconds >= 0 && afterSeconds >= 0,
      "interval bounds must be non-negative")
    val l = left.withWatermark(leftTsCol, watermark)
    val r = right.withWatermark(rightTsCol, watermark)
    l.join(r,
      l(keyCol) === r(keyCol) &&
        r(rightTsCol) >= l(leftTsCol) - expr(s"interval $beforeSeconds seconds") &&
        r(rightTsCol) <= l(leftTsCol) + expr(s"interval $afterSeconds seconds"),
      "inner")
      .drop(r(keyCol))
  }

  /** Streaming exact dedup with WATERMARK-BOUNDED state:
    * `dropDuplicatesWithinWatermark` collapses duplicates arriving
    * within the watermark delay of each other and evicts a key's state
    * once the watermark passes it — the only exact-dedup shape whose
    * state stays bounded on an unbounded stream (a plain
    * `dropDuplicates` grows state with every distinct key forever).
    * `byFingerprint` dedups on md5(key) so a state entry holds 32
    * hex chars instead of the raw document text — the streaming twin
    * of [[graft.operators.Dedup.exactDedup]]'s fingerprint mode. */
  def streamingExactDedup(events: DataFrame, keyCol: String, tsCol: String,
                          watermark: String,
                          byFingerprint: Boolean = false): DataFrame = {
    val (keyed, key) =
      if (byFingerprint)
        (events.withColumn("__fp", md5(col(keyCol).cast("binary"))), "__fp")
      else (events, keyCol)
    keyed.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(key)
      .drop("__fp")
  }

  /**
   * Streaming twin of [[graft.operators.CorpusClean.clean]]: the same
   * stateless langid + quality + repetition signals and keep-filter
   * (shared code — `CorpusClean.signalsAndFilter`), with the batch
   * md5-window dedup replaced by [[streamingExactDedup]]'s
   * watermark-bounded `dropDuplicatesWithinWatermark` (the only
   * exact-dedup whose state stays bounded on an unbounded stream).
   * Semantic difference from batch, by necessity: the survivor of a
   * duplicate group is the FIRST-ARRIVING doc inside the watermark
   * delay, not the globally lowest id — a stream cannot know a smaller
   * id is still coming. Output schema matches the batch pipeline.
   */
  def streamingCorpusClean(docs: DataFrame, idCol: String, textCol: String,
                           tsCol: String, watermark: String,
                           langs: Seq[String] = Seq("en"),
                           minQuality: Int = 3,
                           maxTopBigramRatio: Double = 0.06): DataFrame =
    graft.operators.CorpusClean.signalsAndFilter(
      streamingExactDedup(docs, textCol, tsCol, watermark, byFingerprint = true),
      idCol, textCol, langs, minQuality, maxTopBigramRatio)

  /**
   * Chat/SFT intake validation + accounting for a STREAMING
   * conversation frame — the incremental twin of
   * [[graft.operators.Chat.validateChat]] + [[graft.operators.Chat.chatStats]]
   * (and optionally [[graft.operators.Chat.renderChat]] when `render`):
   * every check and statistic is a row-local higher-order-function
   * projection over the turn array, so the micro-batch plan is the
   * batch plan unchanged — stateless, no state store, no watermark,
   * decisions equal batch row-for-row (StreamingOpsSpec asserts
   * this). The SFT intake recipe: validate → filter `chat_ok` →
   * stats-based length filtering → render for the tokenizer,
   * entirely inside one streaming projection. Cross-conversation
   * assistant-response dedup is NOT stateless — route that through
   * [[streamingExactDedup]] on the rendered/normalized string with a
   * watermark, or the persisted-index batch path.
   */
  def streamingChatIntake(convs: DataFrame, convCol: String,
                          render: Boolean = false): DataFrame = {
    val validated = graft.operators.Chat.chatStats(
      graft.operators.Chat.validateChat(convs, convCol), convCol)
    if (render) graft.operators.Chat.renderChat(validated, convCol)
    else validated
  }

  /**
   * Streaming twin of [[graft.operators.Chat.dedupByAssistant]]: the
   * same normalized-assistant-answer fingerprint (shared definition —
   * `Chat.assistantNorm` — so decisions cannot drift), deduplicated
   * with the watermark-bounded `dropDuplicatesWithinWatermark` state.
   * Semantic differences from batch, both by necessity:
   * first-ARRIVING exemplar survives (not lowest id — the
   * [[streamingCorpusClean]] caveat) and no `n_copies` column (the
   * family is never assembled on an unbounded stream). Assistant-less
   * conversations keep the batch exemption: their dedup key falls
   * back to the row's own id, so they never collide with anything.
   */
  def streamingChatDedup(convs: DataFrame, idCol: String, convCol: String,
                         tsCol: String, watermark: String): DataFrame = {
    val norm = graft.operators.Chat.assistantNorm(convCol)
    convs
      .withColumn("__norm", norm)
      .withColumn("__fp", coalesce(
        when(col("__norm") =!= "", sha2(col("__norm"), 256)),
        concat(lit("__noans#"), col(idCol).cast("string"))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__norm", "__fp")
  }

  /** Quality-score projection for a STREAMING document frame — the
    * incremental twin of the batch `q_text_quality` path, staged on the
    * same native one-pass TokenProfile expression. Stateless (one
    * projection + derived columns); appends the published quality
    * columns (n_chars … quality_score) to the frame's own columns, with
    * micro-batch decisions equal to batch row-for-row. A frame column
    * sharing a published name (the canonical documents schema carries
    * its own `n_chars`) is REPLACED by the computed value — never
    * duplicated, which would make every by-name reference downstream
    * ambiguous. */
  def streamingQuality(docs: DataFrame, textCol: String): DataFrame = {
    val (staged, cols) =
      graft.functions.TextFunctions.stagedQuality(docs, col(textCol))
    val published = cols.map(_._1).toSet
    val base = docs.columns.filterNot(published).map(col).toIndexedSeq
    staged.select(base ++ cols.map { case (n, c) => c.as(n) }: _*)
  }

  /**
   * Streaming delta dedup against a PERSISTED dedup index
   * ([[graft.operators.DedupIndex.build]]): drop every streamed doc
   * whose exact text already exists in the indexed corpus. A
   * stream-static LEFT ANTI join — the static side is the index's
   * 16-byte fingerprint table, re-read per micro-batch; NO state
   * store, no watermark, and the streamed doc bodies never shuffle
   * (only their md5 probes do). This is the production intake shape:
   * the crawler stream lands against yesterday's index while the
   * batch [[graft.operators.DedupIndex]] delta operators handle the
   * near-dup flavors offline. Within-stream duplicates are NOT
   * deduped here (the index is the only reference set) — compose with
   * [[streamingExactDedup]] for intake-internal dups. Decisions equal
   * the batch [[graft.operators.DedupIndex.exactDedupAgainst]]
   * row-for-row (StreamingOpsSpec asserts this).
   */
  def streamingExactDedupAgainstIndex(docs: DataFrame, textCol: String,
                                      indexPath: String): DataFrame =
    graft.operators.DedupIndex.exactDedupAgainst(docs, textCol, indexPath)

  /**
   * Streaming MinHash-LSH near-dup delta against a PERSISTED dedup
   * index (VERDICT r9 #3 — the sketch twin of
   * [[streamingExactDedupAgainstIndex]]): per micro-batch, keep only
   * docs with NO near-dup (exact word-n-gram Jaccard >= `threshold`
   * among the banding candidates) in the indexed corpus, and hand the
   * survivors to `sink`.
   *
   * Shape: a foreachBatch STAGE, not a continuous plan — the near-dup
   * machinery is per-batch relational in two ways a streaming plan
   * cannot express: candidate pairs dedup with a `distinct` that must
   * be scoped to THIS batch (streaming `dropDuplicates` is cross-batch
   * state — wrong semantics AND unbounded), and the Jaccard verify
   * joins the batch to itself through the candidate id sets (a
   * stream-stream self-join). foreachBatch is Spark's own answer for
   * exactly this: each micro-batch is a batch frame, so the stage
   * DELEGATES to [[graft.operators.DedupIndex.minhashLshPairsAgainst]]
   * unchanged — batch-equality is structural, not coincidental (the
   * sampler-twin argument; StreamingOpsSpec asserts per-batch
   * row-identity). Wire with
   * `stream.writeStream.foreachBatch(stage).start()`.
   *
   * Scale shape per batch: identical to the batch delta — O(batch)
   * probe compute against the bands/shingles artifacts, the indexed
   * corpus never re-shingled; `indexBucketCap` truncates hot index
   * buckets exactly like the batch path. Within-stream duplicates are
   * not deduped here (the index is the only reference set) — compose
   * with [[streamingExactDedup]] upstream, and
   * [[graft.operators.DedupIndex.append]] the accumulated survivors to
   * the artifact between streaming sessions to close the intake loop.
   */
  def minhashDedupAgainstIndexBatches(idCol: String, textCol: String,
                                      indexPath: String,
                                      threshold: Double = 0.5,
                                      indexBucketCap: Option[Int] = None)(
      sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val pairs = graft.operators.DedupIndex.minhashLshPairsAgainst(
        batch, idCol, textCol, indexPath, threshold, indexBucketCap)
      sink(batch.join(pairs.select(col("doc_new").as(idCol)).distinct(),
        Seq(idCol), "left_anti"), batchId)
    }

  /**
   * Streaming benchmark decontamination — the intake twin of
   * [[graft.operators.Dedup.decontaminate]]: per micro-batch, drop
   * every streamed doc sharing a word `n`-gram with the (static) eval
   * set, handing survivors to `sink`. A foreachBatch stage for the
   * same reason as [[minhashDedupAgainstIndexBatches]]: the
   * contaminated-id set is `distinct`-scoped to THIS batch and the
   * final anti-join joins the batch to itself through it — per-batch
   * relational shapes a continuous plan cannot express. Each
   * micro-batch delegates to the batch operator unchanged
   * (batch-equality is structural; StreamingOpsSpec asserts per-batch
   * row-identity). The eval side is broadcast per batch — thousands of
   * benchmark docs, not corpus-scale.
   */
  def decontaminateBatches(idCol: String, textCol: String,
                           evalSet: DataFrame, n: Int = 13)(
      sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      sink(graft.operators.Dedup.decontaminate(batch, evalSet, idCol, textCol, n),
        batchId)

  /** The surgical sibling of [[decontaminateBatches]]: per micro-batch,
    * CUT the eval-overlapping token windows instead of dropping docs
    * ([[graft.operators.Dedup.scrubContaminatedWindows]]). A
    * foreachBatch stage because the rebuild joins the batch to its own
    * covered-position aggregate; the scrub itself only consults the
    * STATIC eval set, so per-batch decisions equal the batch operator
    * row-for-row (spec-pinned). */
  def scrubContaminatedWindowsBatches(idCol: String, textCol: String,
                                      evalSet: DataFrame, n: Int = 13)(
      sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      sink(graft.operators.Dedup.scrubContaminatedWindows(batch, evalSet,
        idCol, textCol, n), batchId)

  /** The embedding-space twin of [[decontaminateBatches]]: each
    * micro-batch drops rows within cosine `threshold` of the static
    * eval set via [[graft.operators.Similarity.semanticDecontaminate]]
    * — stream-batch × static-eval joins only, no state, decisions
    * equal the batch operator row-for-row on the same rows (the
    * hyperplanes are fixed-seed, so bucketing is run-independent). */
  def semanticDecontaminateBatches(idCol: String, vecCol: String,
                                   evalSet: DataFrame, threshold: Double,
                                   tables: Int = 32, planes: Int = 3,
                                   dim: Int = 64)(
      sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      sink(graft.operators.Similarity.semanticDecontaminate(batch, evalSet,
        idCol, vecCol, threshold, tables, planes, dim), batchId)

  /**
   * Stateless streaming quality scoring against a FROZEN reference LM —
   * [[graft.operators.TextStats.unigramLogProbScoreAgainst]]'s intake
   * twin. The reference corpus collapses ONCE at stream setup to a
   * plan-literal token -> log10-prob map (its floored vocabulary is
   * Zipf-bounded and broadcastable by construction; the driver holds it
   * exactly once, before the stream starts), and every streamed doc
   * scores ROW-LOCALLY with a fold over its own tokens — no state
   * store, no watermark, no shuffle, so the stage composes with any
   * intake pipeline. The batch operator aggregates count-weighted
   * while this fold runs in token order; both round to 6 decimals (the
   * repo's FP contract) and the spec pins row-for-row agreement.
   *
   * `maxVocab` makes the driver-side bound EXPLICIT: the floored
   * vocabulary must fit in the plan as a literal map, and on a 100 TB
   * REFERENCE corpus even a minCount floor can leave millions of
   * entries — the collect fails fast with the measured size instead of
   * silently assembling a multi-GB broadcast plan. Raise it (or
   * pre-floor the reference harder) deliberately, not by accident.
   * Output: input columns + (n_tokens, mean_logprob).
   */
  def streamingScoreAgainstReference(docs: DataFrame, idCol: String, textCol: String,
                                     ref: DataFrame, refTextCol: String,
                                     minCount: Long = 2L,
                                     maxVocab: Int = 2000000): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    require(maxVocab >= 1, "maxVocab must be >= 1")
    import graft.functions.TextFunctions
    val refTok = ref.select(explode(
        TextFunctions.whitespaceTokens(col(refTextCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("__cnt"))
    val total = refTok.agg(coalesce(sum(col("__cnt")), lit(0L)).as("t"))
      .head().getLong(0).toDouble
    require(total > 0, "reference corpus has no tokens")
    // limit(maxVocab+1) bounds the driver assembly itself: if the
    // floored vocab overflows we fail fast having pulled at most one
    // extra row, in the SAME single pass that fetches the model.
    val kept = refTok.filter(col("__cnt") >= minCount)
      .limit(maxVocab + 1).collect()
    require(kept.length <= maxVocab,
      s"floored reference vocabulary exceeds maxVocab=$maxVocab; " +
        "raise minCount (pre-floor the reference) or maxVocab explicitly")
    val lpFloor = math.log10(minCount.toDouble / total)
    val lpMap = map_from_arrays(
      typedlit(kept.map(_.getString(0)).toSeq),
      typedlit(kept.map(r => math.log10(r.getLong(1).toDouble / total)).toSeq))
    val toks = TextFunctions.whitespaceTokens(col(textCol))
    docs
      .withColumn("n_tokens",
        coalesce(size(toks).cast("long"), lit(0L)))
      .withColumn("mean_logprob", when(col("n_tokens") > 0,
        round(aggregate(toks, lit(0.0), (acc, t) =>
          acc + coalesce(element_at(lpMap, t), lit(lpFloor))) /
          col("n_tokens"), 6)))
  }

  /**
   * Stateless streaming DSIR importance scoring —
   * [[graft.operators.TextStats.dsirScore]]'s intake twin, with BOTH
   * models frozen at stream setup (the batch operator models "raw"
   * from the scored corpus itself; a stream cannot, so `raw` names the
   * STATIC corpus snapshot the raw model freezes from — pass the same
   * frame the batch run scored and the decisions agree row-for-row,
   * which the spec pins). The two hashed-n-gram models collapse to at
   * most `numBuckets` plan-literal map entries each — bounded by
   * construction, the DSIR property — and every streamed doc scores
   * ROW-LOCALLY with a fold over its own grams: no state store, no
   * watermark, no shuffle.
   * Output: input columns + (n_grams, dsir_logratio).
   */
  def streamingDsirScore(docs: DataFrame, idCol: String, textCol: String,
                         target: DataFrame, targetTextCol: String,
                         raw: DataFrame, rawTextCol: String,
                         numBuckets: Int = 1024): DataFrame = {
    require(numBuckets >= 2, "numBuckets must be >= 2")
    def bucketOf(g: Column): Column =
      conv(substring(md5(g), 1, 8), 16, 10).cast("long") % numBuckets
    // gramsOf takes a STAGED token-array column (r21, the dsirScore
    // lambda-CSE fix: an inline split referenced from the bigram
    // transform re-tokenizes per element — O(tokens²) per document)
    def gramsOf(toks: Column): Column = {
      val bi = when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>"))
      concat(toks, bi)
    }
    def model(df: DataFrame, tcol: String): (Map[Long, Long], Long) = {
      val rows = df.select(split(col(tcol), " ").as("__toks"))
        .select(explode(gramsOf(col("__toks"))).as("__g"))
        .select(bucketOf(col("__g")).as("__b"))
        .groupBy(col("__b")).agg(count(lit(1)).as("__c")).collect()
      (rows.map(r => r.getLong(0) -> r.getLong(1)).toMap,
        rows.map(_.getLong(1)).sum)
    }
    val (pc, ptot) = model(target, targetTextCol)
    require(ptot > 0, "target corpus has no grams")
    val (qc, qtot) = model(raw, rawTextCol)
    require(qtot > 0, "raw reference corpus has no grams")
    def lp(c: Long, tot: Long): Double =
      math.log10((c + 1).toDouble / (tot + numBuckets))
    val buckets = (pc.keySet ++ qc.keySet).toSeq.sorted
    val lrMap = map_from_arrays(
      typedlit(buckets),
      typedlit(buckets.map(b =>
        lp(pc.getOrElse(b, 0L), ptot) - lp(qc.getOrElse(b, 0L), qtot))))
    val lrFloor = lp(0, ptot) - lp(0, qtot)
    val grams = gramsOf(col("__dsir_toks"))
    docs
      .withColumn("__dsir_toks", split(col(textCol), " "))
      .withColumn("n_grams", coalesce(size(grams).cast("long"), lit(0L)))
      .withColumn("dsir_logratio", when(col("n_grams") > 0,
        round(aggregate(grams, lit(0.0), (acc, g) =>
          acc + coalesce(element_at(lrMap, bucketOf(g)), lit(lrFloor))), 6)))
      .drop("__dsir_toks")
  }

  /**
   * Watermarked trending-token counts — the live-corpus monitoring
   * twin of [[windowedEventCounts]] over TEXT: per tumbling `window`
   * of event time, how often each token arrived (the intake dashboard
   * behind "what is the crawl suddenly full of" — spam bursts,
   * boilerplate storms and scraper loops surface here first, hours
   * before a batch dedup run would see them). Tokens below `minCount`
   * in a window are suppressed (the Zipf tail is noise at dashboard
   * granularity and the filter bounds sink volume).
   *
   * 100 TB design: the ONE stateful stage is the windowed count —
   * partial-aggregated per micro-batch, state keyed on
   * (window, token) and bounded by the watermark horizon × per-window
   * distinct tokens; the explode is stateless and rides intake. Late
   * rows beyond `watermark` are dropped by contract.
   *
   * Output: (window_start, window_end, token, n_occurrences).
   */
  def streamingTrendingTokens(docs: DataFrame, tsCol: String, textCol: String,
                              window: String, watermark: String,
                              minCount: Long = 1L): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), explode(
        graft.functions.TextFunctions.whitespaceTokens(col(textCol))).as("token"))
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("token"), col("n_occurrences"))

  /**
   * SKETCHED trending tokens — [[streamingTrendingTokens]] with the
   * Misra–Gries aggregate ([[graft.functions.MisraGries]]) instead of
   * the exact per-(window, token) count. The exact variant's state is
   * one row PER DISTINCT TOKEN per open window — Zipf-bounded for
   * natural-language tokens but corpus-scale for URL/id-like keys;
   * here the state store holds ONE O(sketchK) sketch buffer per open
   * window, whatever the key cardinality. The n/(k+1) guarantee is
   * per window (n = that window's token count).
   *
   * Output per CLOSED window: (window_start, window_end, token,
   * count_min), the first `topM` sketch entries by (count desc,
   * token asc).
   */
  def streamingTrendingTokensSketch(docs: DataFrame, tsCol: String,
                                    textCol: String, window: String,
                                    watermark: String, sketchK: Int,
                                    topM: Int): DataFrame = {
    require(topM >= 1 && topM <= sketchK,
      s"need 1 <= topM <= sketchK, got topM=$topM sketchK=$sketchK")
    docs
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), explode(
        graft.functions.TextFunctions.whitespaceTokens(col(textCol))).as("token"))
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(graft.functions.TopKSketch.sketch(col("token"), sketchK).as("__sk"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        posexplode(col("__sk")).as(Seq("__i", "__e")))
      .filter(col("__i") < topM)
      .select(col("window_start"), col("window_end"),
        col("__e.item").as("token"), col("__e.count_min").as("count_min"))
  }

  /**
   * Windowed quality-drift monitor — [[streamingTrendingTokens]]' DOC-
   * level sibling: per event-time tumbling window, document count,
   * mean composite quality score and mean token count. THE intake
   * health dashboard: a scraper change or an upstream encoding break
   * shows up as a step in mean quality long before any batch audit.
   * Same shape: one watermark-bounded stateful aggregate; the quality
   * signals are the row-local [[graft.functions.TextFunctions]]
   * projections, so they ride intake.
   * Output: (window_start, window_end, n_docs, avg_quality,
   * avg_tokens), round-6.
   */
  def streamingQualityByWindow(docs: DataFrame, tsCol: String, textCol: String,
                               window: String, watermark: String): DataFrame = {
    val cols = graft.functions.TextFunctions.qualityColumns(col(textCol)).toMap
    docs
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), cols("quality_score").as("__q"),
        cols("n_tokens").as("__n"))
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("__q")), 6).as("avg_quality"),
        round(avg(col("__n")), 6).as("avg_tokens"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_docs"), col("avg_quality"), col("avg_tokens"))
  }

  /** [[graft.operators.Preference.validatePairs]] +
    * [[graft.operators.Preference.pairStats]] on a stream: both are
    * row-local codegen'd projections, so the batch operators ARE
    * streaming-safe — the [[streamingChatIntake]] pattern for
    * preference-pair intake (validate, account, filter at the door);
    * the wrapper exists for discoverability and pins the contract
    * with a spec. */
  def streamingPairIntake(pairs: DataFrame, promptCol: String,
                          chosenCol: String, rejectedCol: String,
                          maxLen: Int): DataFrame =
    graft.operators.Preference.pairStats(
      graft.operators.Preference.validatePairs(
        pairs, promptCol, chosenCol, rejectedCol),
      promptCol, chosenCol, rejectedCol, maxLen)

  /**
   * Windowed quantile monitor — per event-time tumbling window, the
   * requested percentile cuts of any numeric signal, computed by the
   * mergeable [[graft.functions.QuantileSketch]] aggregate inside ONE
   * watermark-bounded stateful aggregation. This is the cut-side
   * capability the PSI monitor ([[streamingPsiByWindow]]) cannot
   * provide itself: its bin edges are FROZEN offline, so a shifting
   * distribution needs this card to see WHERE the mass moved (and to
   * derive fresh edges for a re-baseline) — per-window percentiles
   * were previously batch-only because Spark's GK percentile cannot
   * run in update-mode streaming state the way a typed mergeable
   * summary can.
   *
   * State per open window: one `capacity`-bounded summary (KB-scale),
   * never the window's rows; exact whenever a window holds fewer than
   * `capacity` events ([[graft.functions.QuantileSketchAgg]]'s
   * contract), smoothly approximate past it.
   *
   * Output per window: (window_start, window_end, n_docs, q) where q
   * is `array<double>` aligned with `probs`.
   */
  def streamingQuantilesByWindow(docs: DataFrame, tsCol: String,
                                 signalCol: String, probs: Seq[Double],
                                 capacity: Int, window: String,
                                 watermark: String): DataFrame =
    docs
      .filter(col(signalCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), col(signalCol).cast(
        org.apache.spark.sql.types.DoubleType).as("__v"))
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(count(lit(1)).as("n_docs"),
        graft.functions.QuantileSketch.quantiles(col("__v"), capacity, probs)
          .as("q"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n_docs"), col("q"))

  /** Per-window DISTINCT counts via the mergeable cardinality sketch
    * ([[graft.functions.CardinalitySketch]]): streaming state per
    * window is one sketch (O(sparseCap) bytes, exact until the
    * window's distinct count exceeds it, classic-HLL after), where
    * `approx_count_distinct` would work too but could never persist
    * or later re-merge the per-window sketches — the sketch BYTES are
    * emitted alongside the estimate so a downstream batch can
    * `CardinalitySketch.merge` windows into days without replay.
    * Output: (window_start, window_end, n_items, n_distinct, exact,
    * sketch). */
  def streamingDistinctByWindow(docs: DataFrame, tsCol: String,
                                itemCol: String, window: String,
                                watermark: String, p: Int = 12,
                                sparseCap: Int = 1 << 18): DataFrame =
    docs
      .filter(col(itemCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(count(lit(1)).as("n_items"),
        graft.functions.CardinalitySketch.sketch(col(itemCol), p, sparseCap)
          .as("sketch"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n_items"),
        graft.functions.CardinalitySketch.estimate(col("sketch"))
          .as("n_distinct"),
        graft.functions.CardinalitySketch.isExact(col("sketch")).as("exact"),
        col("sketch"))

  /**
   * Windowed PSI drift monitor — the live-intake twin of
   * [[graft.operators.TextStats.psiReport]]: the baseline (quantile
   * edges + Laplace-smoothed base shares, frozen offline via
   * [[graft.operators.TextStats.psiBaseModel]]) rides the plan as
   * literals; each event-time window aggregates its per-bin candidate
   * counts as nBins conditional sums inside ONE watermarked
   * aggregation (a per-bin groupBy would need a second stateful
   * aggregate for the window total), then the per-window PSI is
   * row-local arithmetic over those counts. Alert on `psi` > 0.25 —
   * the batch report's conventional line. Re-baselining = restart with
   * a new frozen model, like every frozen-model stage here.
   *
   * Output per window: (window_start, window_end, n_docs, psi).
   */
  def streamingPsiByWindow(docs: DataFrame, tsCol: String, signalCol: String,
                           edges: Seq[Double], baseShares: Seq[Double],
                           window: String, watermark: String): DataFrame = {
    require(edges.nonEmpty && baseShares.size == edges.size + 1,
      "baseShares must have edges.size + 1 entries (one per bin)")
    val nBins = baseShares.size
    val D = org.apache.spark.sql.types.DoubleType
    val binExpr = edges.foldLeft(lit(0)) { (acc, e) =>
      acc + when(col(signalCol).cast(D) > lit(e), 1).otherwise(0)
    }
    val countCols = (0 until nBins).map(b =>
      sum(when(col("__bin") === b, 1L).otherwise(0L)).as(s"__n$b"))
    val agged = docs
      .filter(col(signalCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), binExpr.as("__bin"))
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(countCols.head, countCols.tail: _*)
    val total = (0 until nBins).map(b => col(s"__n$b")).reduce(_ + _)
    val psi = (0 until nBins).map { b =>
      val pc = (col(s"__n$b").cast(D) + lit(0.5)) /
        (col("__t").cast(D) + lit(0.5) * nBins)
      (pc - lit(baseShares(b))) * log(pc / lit(baseShares(b)))
    }.reduce(_ + _)
    agged.withColumn("__t", total)
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("__t").as("n_docs"), round(psi, 6).as("psi"))
  }

  /** Apply a table migration config to a STREAMING source frame: the same
    * compiled plan (rename/transform/validate/lookup), incremental
    * execution. `resolve` supplies STATIC lookup dims (stream-static
    * join); `global` carries the plugin chains, so streams dispatch
    * validation/transform plugins exactly like the batch path.
    * Abort-rules are rejected: a streaming job cannot pre-scan. */
  def compileStream(cfg: TableConfig, stream: DataFrame,
                    resolve: String => Option[DataFrame],
                    global: graft.config.GlobalConfig = graft.config.GlobalConfig()): DataFrame = {
    val compiled = MigrationCompiler.compile(cfg, stream, resolve, global = global)
    require(compiled.abortChecks.isEmpty,
      "on_fail=error / on_missing=error rules are not supported on streams " +
        "(no pre-write validation pass exists); use skip/null/default actions")
    compiled.dataFrame
  }
}
