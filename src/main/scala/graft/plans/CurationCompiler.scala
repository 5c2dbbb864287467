package graft.plans

import graft.config._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Compile a [[graft.config.CurationConfig]] into ONE composed plan
 * over the extension operators — the [[MigrationCompiler]] discipline
 * for the LLM-curation surface: the config IS the logical plan, every
 * stage a declarative rewrite of the running frame, Catalyst sees the
 * whole chain. The compiled pipeline is pinned hash-identical to the
 * hand-composed `q_pipeline_pretrain` by the `q_pipeline_config`
 * graded query (same oracle text — one oracle, two construction
 * paths), so the config path can never drift from the programmatic
 * one.
 *
 * Frame contract: every stage maps a documents frame (id, text, + any
 * extra columns, all preserved) to a documents frame — except the
 * terminal `pack` stage, which returns packed-sequence addresses
 * (enforced last at config construction).
 *
 * 100 TB notes: [[DedupCollapseStage]] mines pairs from the PIPELINE
 * INPUT (see its scaladoc); quality filtering applies as a semi-join
 * against the signal frame so the corpus columns never funnel through
 * the signal projection; `eval` frames resolve from a caller-supplied
 * map exactly like [[MigrationCompiler]]'s lookup resolution.
 */
object CurationCompiler {

  /** The ROW-LOCAL stage arms shared verbatim by [[compile]] and
    * [[compileStreaming]] — one definition, so the "stream equals
    * batch row-for-row" contract cannot drift arm by arm. Returns
    * None for stages that are not row-local. */
  private def rowLocalStage(cur: DataFrame, stage: CurationStage,
                            id: String, text: String,
                            resolve: Map[String, DataFrame]): Option[DataFrame] =
    stage match {
      case FilterLinesStage(minChars, upper, digit, removed) =>
        Some(graft.operators.CorpusClean.filterLines(cur, text, minChars,
            upper, digit, maxRemovedShare = removed)
          .drop("n_lines", "n_lines_kept", "removed_char_share"))
      case StripMarkupStage() =>
        Some(cur.withColumn(text,
          graft.functions.TextFunctions.stripMarkup(col(text))))
      case BlocklistStage(phrases) =>
        Some(graft.operators.CorpusClean.blocklistFilter(cur, text, phrases))
      case RemoveStopwordsStage(words) =>
        Some(words.fold(graft.operators.CorpusClean.removeStopwords(cur, text))(
          ws => graft.operators.CorpusClean.removeStopwords(cur, text, ws)))
      case MojibakeFilterStage(maxPerChar) =>
        // NULL/empty text has no measurable damage ratio — KEEP the row
        // (the filterLines NULL-passthrough convention; dropping here
        // would silently contradict the stages that preserve NULL text)
        val ratio = graft.functions.TextFunctions.mojibakeHits(col(text))
          .cast(org.apache.spark.sql.types.DoubleType) / length(col(text))
        Some(cur.filter(coalesce(ratio <= maxPerChar, lit(true))))
      case DedupLinesWithinDocStage() =>
        Some(graft.operators.CorpusClean.dedupLinesWithinDoc(cur, text)
          .drop("n_lines", "n_dup_lines_removed"))
      case DecontaminateStage(evalName, n) =>
        val eval = resolve.getOrElse(evalName, throw new IllegalArgumentException(
          s"decontaminate stage references unresolved eval frame '$evalName'"))
        // static eval side: a stream-static broadcast semi-join, legal
        // in both compilers
        Some(graft.operators.Dedup.decontaminate(cur, eval, id, text, n))
      case SplitStage(weights, keep) =>
        val split = graft.operators.Sampling.assignSplit(cur, id, weights)
        Some(keep.fold(split)(s => split.filter(col("split") === s).drop("split")))
      // the terminal augmentation stages (CurationConfig enforces
      // last-position): row-local hash-replayed draws, so they are
      // legal in BOTH compilers; the operators name their id output
      // "doc_id" — rename back to the config's id column
      case FimStage(fimRate, spmRate) =>
        Some(graft.operators.TextStats.fimTransform(cur, id, text,
          fimRate, spmRate).withColumnRenamed("doc_id", id))
      case SpanCorruptStage(density, meanSpan) =>
        Some(graft.operators.TextStats.spanCorrupt(cur, id, text,
          density, meanSpan).withColumnRenamed("doc_id", id))
      case DenoiserMixStage(rd, rs, xd, xs) =>
        Some(graft.operators.TextStats.denoiserMix(cur, id, text,
          rd, rs, xd, xs).withColumnRenamed("doc_id", id))
      case _ => None
    }

  def compile(cfg: CurationConfig, docs: DataFrame,
              resolve: Map[String, DataFrame] = Map.empty): DataFrame = {
    val id = cfg.idCol
    val text = cfg.textCol
    // the production tokenizer (r17): when the config names one, the
    // token-counting stages size documents with the byte-BPE KERNEL
    // under the ModelStore merge list instead of the \S+ proxy — the
    // q_sample_budget_bpe composition, reachable from YAML. Loaded
    // ONCE per compile (a bounded driver-side read), compiled into
    // the row-local kernel expression; NULL text counts 0 like the
    // proxy's coalesce discipline.
    val bpeMerges: Option[Seq[(String, String)]] = cfg.tokenizer.map { t =>
      graft.sources.ModelStore
        .loadMerges(docs.sparkSession, t.merges).map(m => (m._1, m._2))
    }
    val bpeSize: Option[org.apache.spark.sql.Column] = bpeMerges.map { m =>
      coalesce(graft.functions.ByteBpeEncode.byteBpeCount(col(text), m),
        lit(0L))
    }
    cfg.stages.foldLeft(docs) { (cur, stage) =>
      rowLocalStage(cur, stage, id, text, resolve).getOrElse(stage match {
        case QualityFilterStage(langs, minQ, maxBigram) =>
          val kept = graft.operators.CorpusClean.clean(cur, id, text,
            langs, minQ, maxBigram)
          cur.join(kept.select(col("doc_id").as(id)), Seq(id), "left_semi")
        case DedupExactStage() =>
          graft.operators.Dedup.exactDedup(cur, text, id, byFingerprint = true)
        case DedupCollapseStage(n, threshold, dfCap) =>
          val pairs = graft.operators.Dedup.ngramJaccardPairs(docs, id, text,
            n, threshold, dfCap)
          graft.operators.Dedup.collapseNearDups(cur, id, pairs,
            "doc_a", "doc_b")
        case TokenBudgetStage(strata, budget) =>
          graft.operators.Sampling.tokenBudgetSample(cur, strata, id,
            bpeSize.getOrElse(
              graft.functions.TextFunctions.tokenCount(col(text))), budget)
        case PackStage(budget, shards) =>
          graft.operators.TextStats.packSequences(cur, id, text, budget,
            shards, sizeCol = bpeSize)
        case PackIdsStage(budget, shards, eosId) =>
          // tokenizer presence enforced at config construction
          graft.operators.TextStats.materializePackedTokenIds(cur, id, text,
            bpeMerges.get, budget, shards, eosId)
        case PackSpansStage(budget, shards) =>
          // the pack_ids run's address book: same count-mode sizing,
          // same chop arithmetic (shared construction in TextStats)
          graft.operators.TextStats.packedDocSpans(cur, id, text,
            bpeMerges.get, budget, shards)
        case PackDatasheetStage(budget, shards, eosId) =>
          // the pack-health gate: the datasheet over the SAME packer
          // plan pack_ids would build (Catalyst prunes the id arrays
          // out of the card's aggregate)
          graft.operators.TextStats.packDatasheet(
            graft.operators.TextStats.materializePackedTokenIds(cur, id,
              text, bpeMerges.get, budget, shards, eosId), budget)
        case PackManifestStage(budget, shards, perFile, eosId) =>
          // the physical-layout address card over the same packer
          // plan (id arrays prune out of the per-file rollup too)
          graft.operators.TextStats.packFileManifest(
            graft.operators.TextStats.materializePackedTokenIds(cur, id,
              text, bpeMerges.get, budget, shards, eosId), perFile)
        case PackStoreStage(budget, shards, perFile, eosId, epochs, seed,
            path) =>
          // the MOUNTABLE artifact (r19): one store write — windows +
          // spans + manifest (+ order) + meta — then the loader-side
          // integrity gate as the stage's output row, so a config run
          // ends on the same check a training job would make. The
          // write executes at compile time (a terminal SINK stage,
          // like the Engine's loads); both frames come from ONE shared
          // checkpointed address pass (r20) — the stage pays exactly
          // one count-encode + one ids-encode instead of sizing each
          // surface independently.
          val eos = eosId.getOrElse(256L + bpeMerges.get.size)
          val (windows, spans) = graft.operators.TextStats
            .packedArtifactFrames(cur, id, text, bpeMerges.get, budget,
              shards, eosId)
          graft.sources.PackedArtifactStore.write(windows, spans, path,
            graft.sources.PackedArtifactStore.Meta(budget, shards, perFile,
              eos, epochs, seed))
          graft.sources.PackedArtifactStore.validate(cur.sparkSession, path)
        case other => throw new IllegalStateException(s"unhandled stage $other")
      })
    }
  }

  /** YAML string → compiled plan, in one call. */
  def compileYaml(yaml: String, docs: DataFrame,
                  resolve: Map[String, DataFrame] = Map.empty): DataFrame =
    compile(CurationConfig.fromYaml(yaml), docs, resolve)

  /**
   * Compile the SAME curation config against a STREAMING frame — the
   * [[graft.streaming.StreamingOps.compileStream]] discipline for the
   * curation surface. Stages compile per their streaming legality:
   *
   *  - row-local stages (filter_lines, strip_markup, blocklist,
   *    remove_stopwords, mojibake_filter, split, stream-static
   *    decontaminate) compile through the SHARED [[rowLocalStage]]
   *    arms — stateless projections/filters are micro-batch-safe
   *    as-is, and sharing the definition keeps stream and batch
   *    decisions identical by construction;
   *  - `quality_filter` becomes watermark-bounded exact dedup
   *    ([[graft.streaming.StreamingOps.streamingExactDedup]] — the
   *    batch stage's dedup half needs state) followed by the
   *    row-preserving stateless signal filter
   *    ([[graft.operators.CorpusClean.qualityFilterKeep]]);
   *  - `dedup_exact` becomes the watermark-bounded streaming dedup;
   *  - `dedup_collapse`, `token_budget` and `pack` are REJECTED with
   *    the reason: corpus-global pair mining, per-stratum cumulative
   *    budgets and packed-sequence assembly all need the whole corpus,
   *    not a micro-batch — run them in the batch compaction pass.
   */
  def compileStreaming(cfg: CurationConfig, stream: DataFrame,
                       tsCol: String, watermark: String,
                       resolve: Map[String, DataFrame] = Map.empty): DataFrame = {
    val id = cfg.idCol
    val text = cfg.textCol
    cfg.stages.foldLeft(stream) { (cur, stage) =>
      rowLocalStage(cur, stage, id, text, resolve).getOrElse(stage match {
        case QualityFilterStage(langs, minQ, maxBigram) =>
          graft.operators.CorpusClean.qualityFilterKeep(
            graft.streaming.StreamingOps.streamingExactDedup(cur, text,
              tsCol, watermark, byFingerprint = true),
            text, langs, minQ, maxBigram)
        case DedupExactStage() =>
          graft.streaming.StreamingOps.streamingExactDedup(cur, text,
            tsCol, watermark, byFingerprint = true)
        case other =>
          throw new UnsupportedOperationException(
            s"stage $other needs the whole corpus (pair mining / cumulative " +
              "budgets / sequence assembly / artifact compaction) and cannot " +
              "run on a micro-batch; run it in the batch compaction pass")
      })
    }
  }

  /** The ROW-LOCAL chat arms shared verbatim by [[compileChat]] and
    * [[compileStreamingChat]] — [[rowLocalStage]]'s discipline for the
    * chat surface: validity is the inline filter on `chat_ok` (the
    * fence inside [[graft.operators.Chat.validateChat]] keeps the
    * conv construction out of the pushed predicate, so it is computed
    * once), redact and render are HOF projections, and decontaminate
    * is a broadcast semi/anti join against a static eval frame — legal
    * on a stream as-is. Returns None for the other stages. */
  private def rowLocalChatStage(cur: DataFrame, stage: ChatStage,
                                id: String, conv: String,
                                resolve: Map[String, DataFrame]): Option[DataFrame] =
    stage match {
      case ChatValidateFilterStage(extraRoles) =>
        Some(graft.operators.Chat.validateChat(cur, conv, extraRoles)
          .filter(col("chat_ok"))
          .drop(graft.operators.Chat.ValidityFlags: _*))
      case ChatRedactStage() =>
        Some(graft.operators.Chat.mapTurnContent(cur, conv,
          graft.functions.TextFunctions.redactPii))
      case ChatDecontaminateStage(name, n, eid, etext) =>
        Some(graft.operators.Chat.decontaminateChat(cur, id, conv,
          chatEval(resolve, name), eid, etext, n))
      case ChatRenderStage() =>
        Some(graft.operators.Chat.renderChat(cur, conv))
      case _ => None
    }

  private def chatEval(resolve: Map[String, DataFrame], name: String): DataFrame =
    resolve.getOrElse(name, throw new IllegalArgumentException(
      s"chat stage references unresolved eval frame '$name'"))

  /**
   * Compile a [[graft.config.ChatCurationConfig]] into ONE composed
   * plan over the [[graft.operators.Chat]] family — the config
   * surface for SFT-conversation curation, pinned hash-identical to
   * the hand-composed `q_pipeline_chat` by the `q_pipeline_chat_config`
   * graded query (same oracle text — one oracle, two construction
   * paths, exactly the `q_pipeline_config` discipline).
   *
   * Frame contract: every stage maps a conversations frame (id,
   * conv, extra columns preserved) to a conversations frame; `render`
   * adds the `rendered` column and is enforced terminal at config
   * construction. Eval frames resolve from the caller-supplied map
   * like the document pipeline's.
   */
  def compileChat(cfg: ChatCurationConfig, convs: DataFrame,
                  resolve: Map[String, DataFrame] = Map.empty): DataFrame = {
    val id = cfg.idCol
    val conv = cfg.convCol
    cfg.stages.foldLeft(convs) { (cur, stage) =>
      rowLocalChatStage(cur, stage, id, conv, resolve).getOrElse(stage match {
        case ChatDedupAssistantStage(keepCopies) =>
          val d = graft.operators.Chat.dedupByAssistant(cur, id, conv)
          if (keepCopies) d else d.drop("n_copies")
        case ChatScrubStage(name, n, eid, etext) =>
          graft.operators.Chat.scrubChatTurns(cur, id, conv,
            chatEval(resolve, name), eid, etext, n)
        case ChatPackSftIdsStage(budget, shards, eosId) =>
          // tokenizer presence enforced at config construction; loaded
          // here (bounded driver-side read) like the document compiler
          val merges = graft.sources.ModelStore
            .loadMerges(convs.sparkSession, cfg.tokenizer.get.merges)
            .map(m => (m._1, m._2))
          graft.operators.Chat.sftPackedTokenIds(cur, id, conv, merges,
            budget, shards, eosId)
        case ChatPackSftSpansStage(budget, shards) =>
          // the pack_sft_ids run's conversation-span address book
          val merges = graft.sources.ModelStore
            .loadMerges(convs.sparkSession, cfg.tokenizer.get.merges)
            .map(m => (m._1, m._2))
          graft.operators.Chat.sftPackedDocSpans(cur, id, conv, merges,
            budget, shards)
        case ChatPackSftNoSplitStage(budget, shards, eosId, padId) =>
          val merges = graft.sources.ModelStore
            .loadMerges(convs.sparkSession, cfg.tokenizer.get.merges)
            .map(m => (m._1, m._2))
          graft.operators.Chat.sftPackedTokenIdsNoSplit(cur, id, conv,
            merges, budget, shards, eosId, padId)
        case ChatPackSftNoSplitSpansStage(budget, shards) =>
          val merges = graft.sources.ModelStore
            .loadMerges(convs.sparkSession, cfg.tokenizer.get.merges)
            .map(m => (m._1, m._2))
          graft.operators.Chat.sftPackedDocSpansNoSplit(cur, id, conv,
            merges, budget, shards)
        case ChatPackStoreStage(budget, shards, perFile, eosId, padId,
            noSplit, epochs, seed, path) =>
          // the mountable SFT artifact (r19): windows + span address
          // book through the store in ONE terminal sink stage, then
          // the loader-side integrity gate as the stage's output —
          // the document compiler's PackStoreStage, chat twin. Both
          // frames derive from ONE shared checkpointed address pass
          // (r20): one count-encode + one ids-encode per stage under
          // either convention, instead of sizing each surface
          // independently.
          val merges = graft.sources.ModelStore
            .loadMerges(convs.sparkSession, cfg.tokenizer.get.merges)
            .map(m => (m._1, m._2))
          val eos = eosId.getOrElse(256L + merges.size)
          val (windows, spans) = graft.operators.Chat.sftPackedArtifactFrames(
            cur, id, conv, merges, budget, shards, eosId, padId, noSplit)
          // pad_id and the convention flag persist to meta/ (r20,
          // ADVICE r19: a loader could not recover a non-default pad
          // or the no-split convention from the mounted artifact)
          graft.sources.PackedArtifactStore.write(windows, spans, path,
            graft.sources.PackedArtifactStore.Meta(budget, shards, perFile,
              eos, epochs, seed, padId = padId.getOrElse(-1L),
              noSplit = noSplit))
          graft.sources.PackedArtifactStore.validate(cur.sparkSession, path)
        case other =>
          throw new IllegalStateException(s"unhandled stage $other")
      })
    }
  }

  /** YAML string → compiled chat plan, in one call. */
  def compileChatYaml(yaml: String, convs: DataFrame,
                      resolve: Map[String, DataFrame] = Map.empty): DataFrame =
    compileChat(ChatCurationConfig.fromYaml(yaml), convs, resolve)

  /**
   * Compile the SAME chat curation config against a STREAMING frame —
   * [[compileStreaming]]'s discipline for the chat surface:
   *
   *  - `validate_filter`, `redact`, `render` and `decontaminate`
   *    compile through the SHARED [[rowLocalChatStage]] arms (HOF
   *    projections, the inline validity filter, a stream-static
   *    broadcast semi/anti join — all legal on a micro-batch as-is);
   *  - `dedup_assistant` becomes the watermark-bounded
   *    [[graft.streaming.StreamingOps.streamingChatDedup]] (same
   *    `assistantNorm` fingerprint as the batch operator; no
   *    `n_copies` on a stream — the family size is unknowable before
   *    the watermark closes);
   *  - `scrub` is REJECTED with the reason: its covered-position
   *    aggregate feeding a join back onto the same stream is a
   *    stream-stream join after an aggregation — run the surgical
   *    pass in the batch compaction instead;
   *  - `pack_sft_ids` is REJECTED like the document compiler's
   *    `pack_ids`: packed windows need corpus-global (shard, seq)
   *    offsets — batch compaction work.
   */
  def compileStreamingChat(cfg: ChatCurationConfig, stream: DataFrame,
                           tsCol: String, watermark: String,
                           resolve: Map[String, DataFrame] = Map.empty): DataFrame = {
    val id = cfg.idCol
    val conv = cfg.convCol
    cfg.stages.foldLeft(stream) { (cur, stage) =>
      rowLocalChatStage(cur, stage, id, conv, resolve).getOrElse(stage match {
        case ChatDedupAssistantStage(_) =>
          graft.streaming.StreamingOps.streamingChatDedup(
            cur, id, conv, tsCol, watermark)
        case other: ChatScrubStage =>
          throw new UnsupportedOperationException(
            s"stage $other joins a covered-position aggregate back onto the " +
              "same stream (stream-stream join after aggregation); run the " +
              "surgical scrub in the batch compaction pass")
        case other: ChatPackSftIdsStage =>
          // the document compiler's PackIdsStage rejection, chat twin:
          // packed windows assemble from corpus-global (shard, seq)
          // offsets a micro-batch cannot know — a clean loud reject,
          // not a fold-time MatchError (ADVICE r17)
          throw new UnsupportedOperationException(
            s"stage $other assembles fixed context windows from " +
              "corpus-global (shard, seq_id) offsets and cannot run on a " +
              "micro-batch; run the packing in the batch compaction pass")
        case other: ChatPackSftSpansStage =>
          throw new UnsupportedOperationException(
            s"stage $other derives window addresses from corpus-global " +
              "(shard, seq_id) offsets and cannot run on a micro-batch; " +
              "run the span pass in the batch compaction alongside the packer")
        case other@(_: ChatPackSftNoSplitStage |
                    _: ChatPackSftNoSplitSpansStage) =>
          throw new UnsupportedOperationException(
            s"stage $other assigns windows by SEQUENTIAL per-shard next-fit " +
              "over the whole corpus and cannot run on a micro-batch; run " +
              "the no-split packing in the batch compaction pass")
        case other: ChatPackStoreStage =>
          throw new UnsupportedOperationException(
            s"stage $other compacts the whole corpus into a mounted " +
              "artifact (corpus-global window offsets + a store write) and " +
              "cannot run on a micro-batch; run it in the batch compaction " +
              "pass")
        case other =>
          throw new IllegalStateException(s"unhandled stage $other")
      })
    }
  }

  /**
   * Compile an [[graft.config.EventsAnalyticsConfig]] into the
   * session-attribution composition — the SAME plan the programmatic
   * `q_pipeline_events` builds (spec-pinned identical on real
   * events): left-type rows asof-enriched with the latest
   * unique-(key, ts) right-type value, range-joined into the user's
   * gap sessions, collapsed to the per-user attribution card.
   */
  def compileEvents(cfg: graft.config.EventsAnalyticsConfig,
                    events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val leftSide = events.filter(col(cfg.typeCol) === cfg.leftType)
      .select(col(cfg.idCol), col(cfg.userCol), col(cfg.tsCol))
    val rightSide = events.filter(col(cfg.typeCol) === cfg.rightType)
      .groupBy(col(cfg.userCol), col(cfg.tsCol))
      .agg(max_by(col(cfg.valueCol), col(cfg.idCol)).as("view_value"))
    // the skew mapping selects the (key, ts-bucket) + boundary-carry
    // plans; identical output either way (the skewed operators are
    // graded on the same oracle texts as the plain ones)
    val (enriched, sessions) = cfg.skewBuckets match {
      case Some(n) =>
        (graft.operators.Temporal.asofJoinSkewed(leftSide, rightSide,
          cfg.userCol, cfg.tsCol, Seq("view_value"),
          toleranceSeconds = cfg.toleranceSeconds, numBuckets = n),
          graft.operators.Windowed.sessionizeSkewed(events, cfg.userCol,
            cfg.tsCol, cfg.sessionGapSeconds, n))
      case None =>
        (graft.operators.Temporal.asofJoin(leftSide, rightSide,
          cfg.userCol, cfg.tsCol, Seq("view_value"),
          toleranceSeconds = cfg.toleranceSeconds),
          graft.operators.Windowed.sessionizeBatch(events, cfg.userCol,
            cfg.tsCol, cfg.sessionGapSeconds, tieBreakCol = Some(cfg.idCol)))
    }
    val inSession = graft.operators.Temporal.rangeJoin(enriched, sessions,
      cfg.tsCol, "session_start", "session_end",
      bucketWidth = math.max(cfg.sessionGapSeconds, 86400L).toDouble,
      keyCol = Some(cfg.userCol))
    inSession.groupBy(col(cfg.userCol)).agg(
      count(lit(1)).as("n_purchases"),
      count(col("view_value")).as("n_attributed"),
      round(sum(col("view_value")), 2).as("sum_attributed_value"),
      countDistinct(col("session_start")).as("n_purchase_sessions"))
  }

  /** [[compileEvents]] straight from YAML. */
  def compileEventsYaml(yaml: String, events: DataFrame): DataFrame =
    compileEvents(graft.config.EventsAnalyticsConfig.fromYaml(yaml), events)

  /**
   * Compile an [[graft.config.EventsTwaConfig]] — the time-weighted
   * average job as config (r17): the `skew` mapping selects
   * [[graft.operators.Temporal.timeWeightedAvgSkewed]] at its bucket
   * count, its absence the plain per-key window
   * [[graft.operators.Temporal.timeWeightedAvg]] — the same operators a
   * programmatic caller picks between.
   */
  def compileEventsTwa(cfg: graft.config.EventsTwaConfig,
                       events: DataFrame): DataFrame =
    cfg.skewBuckets match {
      case Some(n) => graft.operators.Temporal.timeWeightedAvgSkewed(events,
        cfg.userCol, cfg.tsCol, cfg.valueCol, cfg.tieCol, n)
      case None => graft.operators.Temporal.timeWeightedAvg(events,
        cfg.userCol, cfg.tsCol, cfg.valueCol, cfg.tieCol)
    }

  /** [[compileEventsTwa]] straight from YAML. */
  def compileEventsTwaYaml(yaml: String, events: DataFrame): DataFrame =
    compileEventsTwa(graft.config.EventsTwaConfig.fromYaml(yaml), events)

  /**
   * Compile an [[graft.config.EventsRfmConfig]] — the RFM segmentation
   * job as config (r17): straight delegation to
   * [[graft.operators.Windowed.rfmCard]], which picks the plain or the
   * sharded-rank plan from the exact key count it measures, so a config
   * user gets the billion-key plan exactly like the programmatic caller.
   */
  def compileEventsRfm(cfg: graft.config.EventsRfmConfig,
                       events: DataFrame): DataFrame =
    graft.operators.Windowed.rfmCard(events, cfg.userCol, cfg.tsCol,
      cfg.valueCol, cfg.nTiles)

  /** [[compileEventsRfm]] straight from YAML. */
  def compileEventsRfmYaml(yaml: String, events: DataFrame): DataFrame =
    compileEventsRfm(graft.config.EventsRfmConfig.fromYaml(yaml), events)

  /**
   * Compile a [[graft.config.StoreReadConfig]] — the YAML path that
   * MOUNTS a [[graft.sources.PackedArtifactStore]] (r20, VERDICT r19
   * #3): every surface delegates to the programmatic reader the r19
   * persisted-path rows graded, so the config read can never drift
   * from the loader-side API. `resolve` supplies the `docs` frame for
   * `window_mix` exactly like the curation pipelines' eval frames.
   *
   * 100 TB notes are the readers' own: `windows`/`spans` prune to
   * shard directories, `ordered`/`ordered_slice` are one KB-scalar
   * equi-join + one distributed range sort (the slice filter cuts the
   * scalar keys BEFORE the window join), `unpack` moves every token
   * once in budget-bounded pieces, `validate` is the zero-action
   * lazy gate.
   */
  def compileStoreRead(cfg: graft.config.StoreReadConfig,
                       spark: org.apache.spark.sql.SparkSession,
                       resolve: Map[String, DataFrame] = Map.empty): DataFrame = {
    import graft.sources.PackedArtifactStore
    cfg.read match {
      case "windows" => PackedArtifactStore.readWindows(spark, cfg.path)
      case "spans" => PackedArtifactStore.readSpans(spark, cfg.path)
      case "manifest" => PackedArtifactStore.readManifest(spark, cfg.path)
      case "validate" => PackedArtifactStore.validate(spark, cfg.path)
      case "unpack" =>
        val w = PackedArtifactStore.readWindows(spark, cfg.path)
        val s = PackedArtifactStore.readSpans(spark, cfg.path)
        if (cfg.sft) graft.operators.Chat.unpackSftWindows(w, s)
        else graft.operators.TextStats.unpackTokenWindows(w, s)
      case "window_mix" =>
        val docs = resolve.getOrElse(cfg.docs.get,
          throw new IllegalArgumentException(
            s"from_store window_mix references unresolved docs frame " +
              s"'${cfg.docs.get}'"))
        graft.operators.TextStats.packedWindowMix(
          PackedArtifactStore.readSpans(spark, cfg.path), docs,
          cfg.idCol, cfg.stratumCol)
      case "ordered" =>
        PackedArtifactStore.readWindowsOrdered(spark, cfg.path, cfg.epoch)
      case "ordered_slice" =>
        PackedArtifactStore.readWindowsOrderedSlice(spark, cfg.path,
          cfg.epoch, cfg.slice.get, cfg.nSlices.get)
    }
  }

  /** [[compileStoreRead]] straight from YAML. */
  def compileStoreReadYaml(yaml: String,
                           spark: org.apache.spark.sql.SparkSession,
                           resolve: Map[String, DataFrame] = Map.empty): DataFrame =
    compileStoreRead(graft.config.StoreReadConfig.fromYaml(yaml), spark,
      resolve)

  /**
   * Compile a [[graft.config.StoresInterleaveConfig]] — the
   * multi-corpus training mount from YAML (r20): straight delegation
   * to [[graft.sources.PackedArtifactStore.readStoresInterleaved]],
   * so a config user gets the WFQ-scheduled weighted interleave of N
   * mounted stores' ordered epoch streams exactly like the
   * programmatic caller (same exactness, same coordination-free
   * slice arithmetic). No streaming twin: the interleave key is a
   * function of the within-store RANK, which is corpus-global by
   * definition — mount in the batch pass.
   */
  def compileStoresInterleave(cfg: graft.config.StoresInterleaveConfig,
                              spark: org.apache.spark.sql.SparkSession): DataFrame =
    graft.sources.PackedArtifactStore.readStoresInterleaved(spark,
      cfg.stores.map(_._1), cfg.stores.map(_._2), cfg.epoch,
      cfg.slice, cfg.nSlices)

  /** [[compileStoresInterleave]] straight from YAML. */
  def compileStoresInterleaveYaml(yaml: String,
                                  spark: org.apache.spark.sql.SparkSession): DataFrame =
    compileStoresInterleave(
      graft.config.StoresInterleaveConfig.fromYaml(yaml), spark)

  /**
   * The STREAMING twin of [[compileStoreRead]] — which surfaces of a
   * mounted artifact are stream-legal:
   *
   *  - `windows` / `spans` compile to a FILE STREAM over the shard
   *    directories (schema pinned from the batch read's footer — a
   *    bounded metadata read): an artifact being appended shard by
   *    shard streams to a consumer as the files land;
   *  - everything else is REJECTED with its reason: `unpack` and
   *    `window_mix` join spans onto windows and aggregate per doc /
   *    per window — a stream-stream join (a window's spans and ids
   *    may land in different micro-batches); `ordered` /
   *    `ordered_slice` are corpus-global range sorts by the epoch's
   *    keys (training order is a property of the WHOLE epoch, not of
   *    a micro-batch); `manifest` / `validate` compare corpus-global
   *    rollups against the persisted cards — batch gate work.
   */
  def compileStoreReadStreaming(cfg: graft.config.StoreReadConfig,
                                spark: org.apache.spark.sql.SparkSession): DataFrame =
    cfg.read match {
      case "windows" | "spans" =>
        val sub = if (cfg.read == "windows") "windows" else "spans"
        val schema = spark.read.parquet(s"${cfg.path}/$sub").schema
        // ADVICE r20: pin the STREAMED schema to the batch readers'
        // exact shape (shard cast to LongType, leading position —
        // restoreShard) so a consumer unioning/joining stream and
        // batch frames never hits a type or column-order mismatch
        graft.sources.PackedArtifactStore.restoreShard(
          spark.readStream.schema(schema).parquet(s"${cfg.path}/$sub"))
      case other =>
        throw new UnsupportedOperationException(
          s"from_store read '$other' needs the whole artifact (span-window " +
            "joins / corpus-global training-order sorts / rollup-vs-card " +
            "diffs) and cannot run on a micro-batch; mount the artifact in " +
            "the batch pass — only windows/spans stream as file sources")
    }
}
