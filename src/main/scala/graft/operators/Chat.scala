package graft.operators

import graft.functions.CaseMapping.graftLower
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Chat / SFT conversation operators — the post-training half of a
 * training-data pipeline. Pretraining operators treat a document as
 * one text blob; instruction-tuning data is an ordered list of role
 * -tagged turns (`array<struct<role:string, content:string>>`), and
 * its curation needs turn-STRUCTURE-aware operators: schema
 * validation (alternation, role vocabulary, empty turns), template
 * rendering (the tokenizer sees ONE string), per-role token
 * accounting (assistant tokens are the ones that carry loss),
 * loss-mask span computation, and assistant-response dedup (the
 * "same answer to paraphrased prompts" failure mode exact doc-level
 * dedup misses).
 *
 * Reference scope: the reference engine (row-at-a-time ETL,
 * /root/reference/engine/migrator.py) has no conversation concept;
 * this family extends the engine toward LLM post-training data, per
 * the build brief.
 *
 * 100 TB design: every operator here is a ROW-LOCAL projection built
 * from codegen'd higher-order functions (`transform` / `filter` /
 * `exists` / `aggregate`) over the turn array — zero shuffle, no
 * UDFs, rides the scan. The one exception is [[dedupByAssistant]],
 * which shuffles sha2 fingerprints into one map-side-combined
 * exemplar aggregate — never turn text.
 */
object Chat {

  private val RoleVocab = Seq("system", "user", "assistant")

  /** The normalized assistant-answer string [[dedupByAssistant]] and
    * its streaming twin fingerprint on: assistant turn contents joined
    * on a SPACE (a turn boundary is whitespace, so "use merge"+"sort"
    * across two turns equals "use merge sort" in one), lowercased,
    * whitespace-collapsed, trimmed. Shared so batch and stream
    * decisions cannot drift. */
  private[graft] def assistantNorm(convCol: String): Column =
    trim(regexp_replace(graftLower(array_join(
      transform(filter(col(convCol), t => t.getField("role") === "assistant"),
        t => t.getField("content")), " ")), "\\s+", " "))

  // NULL content counts as empty (0 tokens) — the raw tokenCount(NULL)
  // would surface legacy size(NULL) = -1 and corrupt every sum
  private def turnTokens(t: Column): Column =
    TextFunctions.tokenCount(coalesce(t.getField("content"), lit("")))

  /**
   * Structural validation of a conversation column. Each check is its
   * own boolean column (a curation funnel wants per-check rates, not
   * one opaque verdict), plus the conjunction `chat_ok`:
   *
   *  - `starts_user`: first non-`system` turn has role `user` (a
   *    leading system prompt is allowed);
   *  - `alternates`: no two consecutive non-`system` turns share a
   *    role;
   *  - `ends_assistant`: last turn is an `assistant` turn (a trailing
   *    user turn has no supervision target);
   *  - `has_empty_turn`: any turn whose content is blank;
   *  - `has_bad_role`: any role outside {system, user, assistant} ∪
   *    `extraRoles`;
   *  - `chat_ok`: non-empty ∧ starts_user ∧ alternates ∧
   *    ends_assistant ∧ ¬has_empty_turn ∧ ¬has_bad_role.
   *
   * `extraRoles` admits additional roles — `Seq("tool")` for
   * function-calling transcripts is the common case. Extra roles
   * join the vocabulary and stay IN the alternation sequence, where
   * they naturally occupy the non-assistant slot: `user, assistant,
   * tool, assistant` has no equal-role adjacency and validates, while
   * two back-to-back assistant turns still flag. (Two consecutive
   * `tool` turns — parallel tool results — also flag; flatten them
   * into one turn upstream if that shape is legal for the template.)
   * Extra-role turns remain subject to the empty-content check. The
   * default (no extras) is the classic three-role contract,
   * unchanged.
   *
   * Empty conversations: starts_user/ends_assistant false, alternates
   * vacuously true, chat_ok false.
   *
   * Keeping valid rows is the inline `.filter(col("chat_ok"))
   * .drop(ValidityFlags: _*)`: the staged conv is fenced, so the
   * filter stops above it and conv is computed once.
   *
   * 100 TB design: zero-shuffle row-local projection; every check is
   * a codegen'd higher-order function over the turn array.
   */
  def validateChat(df: DataFrame, convCol: String,
                   extraRoles: Seq[String] = Nil): DataFrame = {
    // STAGE conv behind an optimizer fence, and build chat_ok from the
    // flag COLUMNS, not the flag expressions: a downstream
    // filter(chat_ok) gets predicate-pushed with aliases substituted,
    // and inlined flag expressions each carry their own copy of the
    // conv machinery (measured 58 regex calls per row in r17; r22
    // re-measured the push STILL inlining a COMPUTED conv column ~10x
    // into the scan-side Filter — 4.9 s single-task on q_pipeline_chat).
    // The fence pins the staged conv where it was staged; flags
    // evaluate over the materialized attribute (OptimizerFence
    // scaladoc has the full story). The staged non-system turn list is
    // fenced the same way: starts_user and alternates read it four
    // times, and unfenced the pushed filter rebuilt it for each read.
    val conv = col("__convf")
    val vocab = RoleVocab ++ extraRoles
    val nonSys = col("__nonsys")
    val startsUser = coalesce(
      element_at(nonSys, 1).getField("role") === "user", lit(false))
    // zip each non-system turn with its successor (zip_with pads the
    // shorter side with null -> null comparison, which `exists`
    // treats as not-true); any equal-role pair breaks alternation
    val alternates = coalesce(!exists(
      zip_with(nonSys, slice(nonSys, lit(2), size(nonSys)),
        (a, b) => a.getField("role") === b.getField("role")),
      x => x), lit(true))
    val endsAssistant = coalesce(
      element_at(conv, -1).getField("role") === "assistant", lit(false))
    // NULL content is as empty as "" (the bare length comparison would
    // yield NULL and slip past `exists`)
    val hasEmpty = coalesce(
      exists(conv, t =>
        length(trim(coalesce(t.getField("content"), lit("")))) === 0),
      lit(false))
    val hasBadRole = coalesce(
      exists(conv, t => !t.getField("role").isin(vocab: _*)), lit(false))
    df.withColumn("__convf",
        graft.functions.OptimizerFence.fence(col(convCol)))
      .withColumn("__nonsys", graft.functions.OptimizerFence.fence(
        filter(conv, t => t.getField("role") =!= "system")))
      .withColumn("starts_user", startsUser)
      .withColumn("alternates", alternates)
      .withColumn("ends_assistant", endsAssistant)
      .withColumn("has_empty_turn", hasEmpty)
      .withColumn("has_bad_role", hasBadRole)
      .withColumn("chat_ok",
        coalesce(size(conv) > 0, lit(false)) && col("starts_user") &&
          col("alternates") && col("ends_assistant") &&
          !col("has_empty_turn") && !col("has_bad_role"))
      .drop("__nonsys").drop("__convf")
  }

  /** The six columns [[validateChat]] adds. */
  val ValidityFlags: Seq[String] = Seq("starts_user", "alternates",
    "ends_assistant", "has_empty_turn", "has_bad_role", "chat_ok")

  /**
   * Render a conversation to the single string the tokenizer consumes
   * — a ChatML-shaped template: each turn becomes
   * `<|role|>\n` + content + `<|end|>\n`, concatenated in order. The
   * exact token spelling is a tokenizer-contract detail; the operator
   * contract is deterministic order-preserving flattening. NULL
   * role/content render as empty (the chat family's NULL-as-empty
   * convention — validateChat/chatStats/chatTokenSpans all treat NULL
   * content as ""), so a NULL-content turn keeps its role marker and
   * stays aligned with the span the token-span operator emits for it.
   *
   * 100 TB design: zero-shuffle projection (`transform` +
   * `array_join`); rendered text is born on the executor that read
   * the row.
   */
  /** One turn's template string — THE definition shared by
    * [[renderChat]] and [[sftPackedTokenIds]] (and textually mirrored
    * by their oracles), so the rendered surface and the tokenized
    * surface can never drift. */
  private def turnTemplate(t: Column): Column =
    concat(lit("<|"), coalesce(t.getField("role"), lit("")),
      lit("|>\n"), coalesce(t.getField("content"), lit("")),
      lit("<|end|>\n"))

  def renderChat(df: DataFrame, convCol: String,
                 outCol: String = "rendered"): DataFrame =
    df.withColumn(outCol, array_join(
      transform(col(convCol), turnTemplate(_)), ""))

  /**
   * Parse a [[renderChat]]-rendered string back into the turn array —
   * the inverse direction, for corpora that arrive as flat template
   * text (exported SFT dumps, eval-harness transcripts). Contract:
   * turn CONTENT must not itself contain the template tokens
   * (`<|end|>` / a leading `<|...|>` line) — the same reservation
   * every chat template makes; [[validateChat]] downstream flags the
   * wreckage if a producer violated it. `parseChat(renderChat(x)) ==
   * x` for any conversation within the contract (spec + the graded
   * round-trip query pin this).
   *
   * 100 TB design: zero-shuffle row-local projection — one split on
   * the end token + one regex per turn, codegen'd.
   */
  def parseChat(df: DataFrame, renderedCol: String,
                outCol: String = "conv"): DataFrame =
    df.withColumn(outCol,
      transform(
        filter(split(col(renderedCol), "<\\|end\\|>\n"), p => p =!= ""),
        p => struct(
          regexp_extract(p, "^<\\|([^|]*)\\|>", 1).as("role"),
          regexp_extract(p, "(?s)^<\\|[^|]*\\|>\n(.*)$", 1).as("content"))))

  /**
   * Apply a content transform to every turn, preserving roles and
   * order — the generic "run a row-local text operator INSIDE the
   * conversation" adapter (PII redaction, normalization, mojibake
   * repair: any `Column => Column` from the text family composes).
   *
   * 100 TB design: zero-shuffle row-local projection; the transform
   * runs inside the turn lambda, riding the scan.
   */
  def mapTurnContent(df: DataFrame, convCol: String,
                     fn: Column => Column): DataFrame =
    df.withColumn(convCol, transform(col(convCol), t =>
      struct(t.getField("role").as("role"),
        fn(t.getField("content")).as("content"))))

  /**
   * Per-conversation accounting card: turn counts and token counts by
   * role, plus the longest single turn — the columns SFT length
   * filtering, packing ([[TextStats.packSequences]] on the rendered
   * string), and "assistant tokens carry the loss" budget math read.
   *
   * Output: input + (n_turns, n_user_turns, n_assistant_turns,
   * n_user_tokens, n_assistant_tokens, max_turn_tokens). Token counts
   * use the `\S+` scan ([[TextFunctions.tokenCount]]);
   * `max_turn_tokens` is NULL for an empty conversation.
   *
   * 100 TB design: zero-shuffle row-local projection; one pass over
   * the turn array per statistic, all codegen'd.
   */
  def chatStats(df: DataFrame, convCol: String): DataFrame = {
    val conv = col(convCol)
    def roleCount(role: String): Column =
      size(filter(conv, t => t.getField("role") === role)).cast(LongType)
    def roleTokens(role: String): Column =
      aggregate(filter(conv, t => t.getField("role") === role), lit(0L),
        (acc, t) => acc + turnTokens(t))
    df.withColumn("n_turns", size(conv).cast(LongType))
      .withColumn("n_user_turns", roleCount("user"))
      .withColumn("n_assistant_turns", roleCount("assistant"))
      .withColumn("n_user_tokens", roleTokens("user"))
      .withColumn("n_assistant_tokens", roleTokens("assistant"))
      .withColumn("max_turn_tokens", array_max(transform(conv, turnTokens(_))))
  }

  /**
   * Loss-mask spans: for each turn, its [start_tok, end_tok) range in
   * the token stream of the concatenated conversation — the mask a
   * trainer applies so only assistant spans contribute loss after
   * [[renderChat]] + tokenize-and-pack. Offsets count `\S+` tokens of
   * turn CONTENT only (template tokens are a tokenizer-side constant
   * per turn and are excluded by contract).
   *
   * Output: one row per turn — (id, turn_idx, role, n_turn_tokens,
   * start_tok, end_tok), turn_idx 0-based in conversation order.
   *
   * 100 TB design: the running offsets are computed ROW-LOCALLY with
   * a single `aggregate` fold carrying (offset, spans) — NO window
   * over exploded turns (that would shuffle the corpus on id and sort
   * each conversation's rows); the explode happens after spans are
   * final, so the shuffle-free projection emits finished rows.
   */
  def chatTokenSpans(df: DataFrame, idCol: String, convCol: String): DataFrame = {
    val spanType = ArrayType(StructType(Seq(
      StructField("role", StringType), StructField("n_turn_tokens", LongType),
      StructField("start_tok", LongType), StructField("end_tok", LongType))))
    val spans = aggregate(col(convCol),
      struct(lit(0L).as("off"), lit(null).cast(spanType).as("sp")),
      (acc, t) => {
        val n = turnTokens(t)
        val off = acc.getField("off")
        struct((off + n).as("off"),
          concat(coalesce(acc.getField("sp"), array().cast(spanType)),
            array(struct(t.getField("role").as("role"), n.as("n_turn_tokens"),
              off.as("start_tok"), (off + n).as("end_tok"))).cast(spanType))
            .as("sp"))
      },
      acc => coalesce(acc.getField("sp"), array().cast(spanType)))
    df.select(col(idCol), posexplode(spans).as(Seq("turn_idx", "__t")))
      .select(col(idCol), col("turn_idx").cast(LongType).as("turn_idx"),
        col("__t.role").as("role"),
        col("__t.n_turn_tokens").as("n_turn_tokens"),
        col("__t.start_tok").as("start_tok"),
        col("__t.end_tok").as("end_tok"))
  }

  /**
   * Assistant-response dedup: conversations whose NORMALIZED
   * assistant turns (lowercased, whitespace-collapsed, concatenated
   * in order) are identical keep only the lowest-id exemplar — the
   * SFT near-dup mode doc-level dedup misses, because paraphrased
   * prompts wrap the same answer. Returns kept rows with `n_copies`
   * (family size, ≥ 1). Conversations with NO assistant content
   * (empty normalized answer) carry no dedup evidence and are all
   * KEPT with `n_copies` 1 — collapsing them to one exemplar would
   * delete unrelated rows (the blank-line exemption of
   * [[CorpusClean.dedupLinesWithinDoc]], same reasoning).
   *
   * Precondition: `idCol` is a unique row id — the keep rule is "row
   * whose id is the family minimum". (All graft sources provide one:
   * doc_id / a monotonic id.) `n_copies` is an output column this
   * operator owns; an input column of that name is refused rather
   * than silently clobbered.
   *
   * 100 TB design: the key leaving the executor is a `sha2`
   * fingerprint of the normalized assistant text, never the text
   * itself ([[Dedup]]'s fingerprint-shuffle contract); ONE shuffle,
   * one scan, no self-join — [[keepMinIdPerFp]]'s map-side-combined
   * exemplar aggregate, so even a canned-answer family holding most
   * of the corpus leaves each map task as one candidate row.
   */
  def dedupByAssistant(df: DataFrame, idCol: String, convCol: String): DataFrame = {
    require(!df.columns.contains("n_copies"),
      "dedupByAssistant emits n_copies; rename or drop the input column first")
    val norm = assistantNorm(convCol)
    // stage the normalized answer once: inline, the HOF chain would
    // evaluate per reference (condition + hash). No-assistant rows
    // (empty normalized answer) carry no dedup evidence: their key
    // falls back to their own id, so each is a singleton family — all
    // kept, n_copies 1, and never one giant skewed NULL group.
    val keyed = df.withColumn("__norm", norm)
      .withColumn("__fp", coalesce(
        when(col("__norm") =!= "", sha2(col("__norm"), 256)),
        concat(lit("__noans#"), col(idCol).cast(StringType))))
    keepMinIdPerFp(keyed, df.columns.toSeq, idCol)
  }

  /** The keep-one-exemplar plan of the fingerprint dedups
    * ([[dedupByAssistant]], [[Preference.dedupPairs]]): per `__fp`
    * family of `keyed`, the `cols` of its lowest-`idCol` row plus the
    * family size `n_copies`, as ONE `min_by(struct(row), id)` + `count`
    * aggregate — O(1) state per group and map-side combined, so a
    * monster family leaves each map task as one candidate row and a
    * partial count (an unfiltered window `count` would buffer the
    * whole family in one task). One scan of the input, no join-back. */
  private[operators] def keepMinIdPerFp(keyed: DataFrame, cols: Seq[String],
                                        idCol: String): DataFrame =
    keyed.groupBy(col("__fp"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__row"),
        count(lit(1)).as("n_copies"))
      .select(cols.map(c => col("__row").getField(c).as(c)) :+
        col("n_copies"): _*)

  /**
   * Conversation-level benchmark decontamination — [[Dedup
   * .decontaminate]] composed over the chat data model: drop every
   * conversation whose CONTENT stream (turn contents joined on
   * spaces — template tokens deliberately excluded, they would break
   * token n-gram alignment) shares a word `n`-gram with the
   * evaluation set. The GPT-3 appendix-C recipe (13-gram default)
   * applied where post-training data actually leaks benchmarks:
   * inside assistant answers.
   *
   * 100 TB design: inherits [[Dedup.decontaminate]]'s shape — one
   * corpus shingling, broadcast eval membership by default (the
   * corpus-side gram stream is never shuffled), anti-join bounded by
   * the contaminated count. The flatten is a zero-shuffle row-local
   * projection.
   */
  def decontaminateChat(df: DataFrame, idCol: String, convCol: String,
                        evalSet: DataFrame, evalIdCol: String,
                        evalTextCol: String, n: Int = 13,
                        broadcastEval: Boolean = true): DataFrame = {
    val flat = df.withColumn("__flat",
      array_join(transform(col(convCol),
        t => coalesce(t.getField("content"), lit(""))), " "))
    val ev = evalSet.select(col(evalIdCol).as(idCol),
      col(evalTextCol).as("__flat"))
    Dedup.decontaminate(flat, ev, idCol, "__flat", n, broadcastEval)
      .drop("__flat")
  }

  /**
   * SURGICAL conversation decontamination — [[Dedup
   * .scrubContaminatedWindows]] applied PER TURN: cut only the
   * eval-overlapping token windows inside each turn's content, keep
   * the conversation (an 8-turn dialogue should not die for one
   * quoted benchmark sentence — [[decontaminateChat]]'s span-level
   * sibling, same relationship as drop-vs-scrub on documents). Roles,
   * turn order, and untouched turns are preserved byte-identical;
   * fully-contaminated turns become empty-content turns (filter with
   * [[validateChat]]'s `has_empty_turn` downstream if dropping is
   * wanted). Windows never span turn boundaries — a turn is the
   * containment unit, exactly like a document in the text-level
   * operator.
   *
   * Precondition: `idCol` is unique per row.
   *
   * 100 TB design: turn CONTENT never shuffles. The explode feeds
   * only (id, turnIdx, gram-hash) into the broadcast eval semi-join;
   * survivors expand to covered `(turnIdx << 32) | tokenPos` codes —
   * volume bounded by ACTUAL contamination, not corpus size — and
   * collapse to one position-set row per contaminated doc (the only
   * exchange; AQE broadcasts it back). The rebuild is a row-local
   * HOF: untouched documents short-circuit through the NULL branch
   * and keep their conversation byte-identical (NULL contents
   * included); only contaminated docs pay the per-token filter.
   * (The first version reassembled conversations from exploded turn
   * rows — shuffling every turn's text; measured isolated at sf0.1:
   * 3.9 s old shape vs 2.4 s this shape, hash-identical.)
   */
  def scrubChatTurns(df: DataFrame, idCol: String, convCol: String,
                     evalSet: DataFrame, evalIdCol: String,
                     evalTextCol: String, n: Int = 13,
                     broadcastEval: Boolean = true): DataFrame = {
    val evalG = Dedup.shingled(evalSet, evalIdCol, evalTextCol, n)
      .select(explode(col("__hs")).as("__g")).distinct()
    val evalSide = if (broadcastEval) broadcast(evalG) else evalG
    // covered token positions per doc, encoded (turnIdx << 32) | pos —
    // windows never cross turns (grams are per-turn content)
    val tiBase = shiftleft(col("__ti").cast(LongType), 32)
    val covered = df
      .select(col(idCol), posexplode(col(convCol)).as(Seq("__ti", "__t")))
      .select(col(idCol), col("__ti"),
        posexplode(graft.functions.ShingleHashes.shingleHashesAll(
          coalesce(col("__t").getField("content"), lit("")), n))
          .as(Seq("__pos", "__g")))
      .filter(col("__g").isNotNull && col(idCol).isNotNull)
      .join(evalSide, Seq("__g"), "left_semi")
      .select(col(idCol),
        explode(sequence(tiBase + col("__pos"),
          tiBase + col("__pos") + lit(n - 1))).as("__cp"))
      .groupBy(col(idCol)).agg(collect_set(col("__cp")).as("__rm"))
    df.join(covered, Seq(idCol), "left")
      .withColumn(convCol,
        when(col("__rm").isNull, col(convCol)).otherwise(
          transform(col(convCol), (t, i) =>
            struct(t.getField("role").as("role"),
              array_join(filter(
                split(coalesce(t.getField("content"), lit("")), " "),
                (_, j) => !array_contains(col("__rm"),
                  shiftleft(i.cast(LongType), 32) + j)),
                " ").as("content")))))
      .select(df.columns.map(col): _*)
  }

  /**
   * The final SFT TRAINING ARTIFACT — packed context windows of
   * PRODUCTION-tokenizer ids with a token-exact LOSS MASK: each turn
   * renders through [[renderChat]]'s template (shared `turnTemplate`
   * definition — turn boundaries are hard token boundaries, exactly
   * how production SFT tokenizes), encodes to byte-BPE ids
   * ([[graft.functions.ByteBpeEncode]]), and every id carries mask 1
   * iff its turn's role is `assistant` (only assistant tokens carry
   * loss); one EOS (mask 0) closes each conversation, and the
   * per-shard (id, mask) streams chop into `budget`-length windows
   * through the same pack kernel as
   * [[graft.operators.TextStats.materializePackedTokenIds]].
   * [[chatTokenSpans]] is the `\S+`-proxy ADDRESS of this mask at
   * turn granularity; this operator materializes the real thing.
   *
   * Output: (shard, seq_id, token_ids array<bigint>,
   * loss_mask array<bigint>, n_tokens, n_docs) — the two arrays are
   * position-aligned; NULL conversations are excluded, an empty
   * conversation contributes exactly its EOS.
   *
   * 100 TB design: rendering, encoding and masking are one row-local
   * projection (the kernel rides HOF lambdas in eval mode — the merge
   * table is still the shared reference-object model); the pack
   * kernel's scalar-address-window + slice-explode discipline applies
   * unchanged, so no window buffers arrays and no shuffled row
   * exceeds `budget` cells.
   */
  /** One conversation's (id, mask) cell stream: per-turn template
    * encode, mask 1 on assistant-turn ids, closing EOS cell (mask 0).
    * Shared by [[sftTokenizeMask]], [[sftPackedTokenIds]] and
    * [[sftPackedTokenIdsNoSplit]].
    *
    * Hot-loop shape (measured at sf10: 71.7 s → the per-turn HOF
    * formulation interpreted byteBpeIds per turn with array/struct
    * churn inside lambdas): the IDS come from ONE top-level codegen'd
    * kernel call over the whole rendered conversation, and only the
    * per-turn token COUNTS (a long each, Zipf-cache-hot re-encode)
    * run per-turn to place the mask boundaries. Encoding the
    * concatenation turn-by-turn and whole-string are IDENTICAL for
    * this template: every turn ends `\n` and begins `<`, `\s+` cannot
    * cross into `<`, and `` ?`` matches only a literal space (never
    * the `\n`), so no pre-token — and therefore no BPE merge — ever
    * spans a turn seam (spec-pinned against a per-turn reference
    * encode on whitespace/unicode/empty-content edges). */
  /** The whole-conversation rendered string ([[renderChat]]'s output
    * as an expression) — the one-call encode surface. */
  private def convRendered(convCol: String): Column =
    array_join(transform(col(convCol), turnTemplate(_)), "")

  /** Cell COUNT of a conversation (ids + the eos cell) WITHOUT
    * building the cell array — the count-mode kernel call the packers'
    * scalar address pass uses (see [[graft.operators.TextStats.packIdStream]]'s
    * `__n` contract). Equals `size(convCells(...))` by the seam
    * argument on [[convCells]]. */
  private def convCellCount(convCol: String,
                            merges: Seq[(String, String)]): Column =
    graft.functions.ByteBpeEncode.byteBpeCount(convRendered(convCol),
      merges) + lit(1L)

  private def convCells(convCol: String, merges: Seq[(String, String)],
                        eos: Long): Column = {
    val rendered = convRendered(convCol)
    val ids = graft.functions.ByteBpeEncode.byteBpeIds(rendered, merges)
    val mask = flatten(transform(col(convCol), t =>
      array_repeat(
        when(t.getField("role") === "assistant", lit(1L)).otherwise(lit(0L)),
        graft.functions.ByteBpeEncode.byteBpeCount(turnTemplate(t), merges)
          .cast(org.apache.spark.sql.types.IntegerType))))
    zip_with(concat(ids, array(lit(eos))), concat(mask, array(lit(0L))),
      (i, m) => struct(i.as("id"), m.as("m")))
  }

  /**
   * The UN-packed SFT tokenization surface — per conversation, the
   * production-tokenizer ids and the aligned assistant loss mask
   * ([[sftPackedTokenIds]]' cell stream before packing): one row per
   * conversation, (idCol, token_ids, loss_mask, n_tokens,
   * n_assistant_tokens). ROW-LOCAL (zero shuffle), hence
   * streaming-legal — the in-stream SFT intake runs this operator on
   * the stream to tokenize and mask per micro-batch, and the batch
   * compaction pass packs. NULL conversations pass through as
   * NULL arrays (the chat family's NULL contract); the closing EOS
   * cell (mask 0) is included, so n_tokens counts it.
   */
  def sftTokenizeMask(df: DataFrame, idCol: String, convCol: String,
                      merges: Seq[(String, String)],
                      eosId: Option[Long] = None): DataFrame = {
    require(merges.nonEmpty, "merges must be non-empty")
    val eos = eosId.getOrElse(256L + merges.size)
    // stage the cell struct array ONCE — lambda-bearing expressions get
    // no common-subexpression elimination (the chatFromDocs trap), so
    // projecting ids and mask straight from two convCells copies would
    // run the hot BPE encode twice per row
    val staged = ScanFanOut(df).select(col(idCol),
      when(col(convCol).isNotNull,
        convCells(convCol, merges, eos)).as("__cells"))
    staged.select(col(idCol),
      transform(col("__cells"), x => x.getField("id")).as("token_ids"),
      transform(col("__cells"), x => x.getField("m")).as("loss_mask"))
      .withColumn("n_tokens", size(col("token_ids")).cast("long"))
      .withColumn("n_assistant_tokens",
        aggregate(col("loss_mask"), lit(0L), (a, x) => a + x))
      .withColumn("n_tokens",
        when(col("token_ids").isNull, lit(null).cast("long"))
          .otherwise(col("n_tokens")))
  }

  def sftPackedTokenIds(df: DataFrame, idCol: String, convCol: String,
                        merges: Seq[(String, String)],
                        budget: Int, shards: Int,
                        eosId: Option[Long] = None): DataFrame = {
    require(merges.nonEmpty, "merges must be non-empty")
    val eos = eosId.getOrElse(256L + merges.size)
    val withIds = ScanFanOut(df.filter(col(convCol).isNotNull))
      .select(col(idCol).as("doc_id"),
        convCells(convCol, merges, eos).as("__ids"),
        convCellCount(convCol, merges).as("__n"))
    TextStats.packIdStream(withIds, budget, shards)
      .select(col("shard"), col("seq_id"),
        transform(col("packed_ids"), x => x.getField("id")).as("token_ids"),
        transform(col("packed_ids"), x => x.getField("m")).as("loss_mask"),
        col("n_tokens"), col("n_docs"))
  }

  /**
   * The packed SFT stream's CONVERSATION SPANS —
   * [[graft.operators.TextStats.packedDocSpans]]' chat twin, over the
   * SAME chop geometry as [[sftPackedTokenIds]] (shared count-mode
   * size, shared pack arithmetic): for every (window, conversation)
   * pair, where the conversation's cells sit. The loss mask alone
   * cannot recover example boundaries inside a packed window (a 0-run
   * may be padding, a user turn, or the next conversation's prompt);
   * attention isolation between packed examples needs THIS table.
   * Entirely scalar — cell arrays never built.
   * Output: (shard, seq_id, doc_id, span_start, span_len).
   */
  def sftPackedDocSpans(df: DataFrame, idCol: String, convCol: String,
                        merges: Seq[(String, String)],
                        budget: Int, shards: Int): DataFrame = {
    require(merges.nonEmpty, "merges must be non-empty")
    TextStats.packedSpansBySize(ScanFanOut(df.filter(col(convCol).isNotNull))
      .select(col(idCol).as("doc_id"),
        convCellCount(convCol, merges).as("__n")), budget, shards)
  }

  /**
   * NO-SPLIT SFT packing — the OTHER production convention
   * ([[sftPackedTokenIds]] is GPT-style concat-and-chop): a
   * conversation never crosses a window boundary, so no example is
   * ever torn mid-exchange. Windows assemble by NEXT-FIT in id order
   * per shard (the streaming-writer discipline: append while it
   * fits, else start a new window — deterministic and replayable,
   * unlike best-fit bin packing), every window PADS to exactly
   * `budget` ids with `padId` (default: the EOS id; pad cells carry
   * mask 0), and a conversation longer than `budget` gets its own
   * window TRUNCATED to `budget` (the max-seq-len rule) with the
   * window's `truncated` flag set.
   *
   * Output: (shard, seq_id, token_ids array<bigint> — length exactly
   * `budget`, loss_mask aligned, n_tokens = real ids before padding,
   * n_docs, truncated).
   *
   * 100 TB design: next-fit is sequential PER SHARD, so the
   * assignment runs as a STREAMING `mapPartitions` scan over the
   * SCALAR address frame (doc_id, n) repartitioned by shard and
   * sorted within partitions on (shard, doc_id) — Spark's external
   * sort spills, the scan itself holds genuinely ONE counter pair
   * (plus the current shard id) per task, arrays stay out of the
   * assignment entirely; the ids join back by doc_id and one
   * (shard, seq_id) groupBy assembles windows bounded by `budget`.
   */
  def sftPackedTokenIdsNoSplit(df: DataFrame, idCol: String, convCol: String,
                               merges: Seq[(String, String)],
                               budget: Int, shards: Int,
                               eosId: Option[Long] = None,
                               padId: Option[Long] = None): DataFrame = {
    require(merges.nonEmpty, "merges must be non-empty")
    require(budget >= 1, "budget must be >= 1")
    require(shards >= 1, "shards must be >= 1")
    val eos = eosId.getOrElse(256L + merges.size)
    val pad = padId.getOrElse(eos)
    val withIds = ScanFanOut(df.filter(col(convCol).isNotNull))
      .select(col(idCol).as("doc_id"),
        convCells(convCol, merges, eos).as("__ids"),
        convCellCount(convCol, merges).as("__n"))
    noSplitWindowsFromAddr(noSplitAddresses(withIds, budget, shards),
      withIds, budget, pad)
  }

  /** The no-split window assembly over a precomputed address frame —
    * the tail of [[sftPackedTokenIdsNoSplit]]: join the cells back,
    * assemble per (shard, seq_id), pad to exactly `budget`. The
    * truncation flag comes from the address frame (n > budget under
    * the shared count — identical to sizing the cell array). */
  private def noSplitWindowsFromAddr(addr0: DataFrame, withIds: DataFrame,
                                     budget: Int, pad: Long): DataFrame = {
    val addr = addr0.select(col("doc_id"), col("shard"), col("seq_id"),
      col("win_off"), col("span_len").as("__len"),
      col("truncated").as("__cut"))
    // n_tokens comes from the SCALAR span lengths (sum(min(n, budget))
    // == size of the assembled cell array — the same seam-pinned
    // count==size contract the whole pack geometry rides), NOT from
    // size(__cells): consumers that read only the window scalars
    // (packFileManifest, packDatasheet — the manifest/datasheet bench
    // rows) then PRUNE the collect_list aggregate and with it the
    // entire ids-encode join branch out of their plans (guide §2.3:
    // shuffle scalars, not payloads).
    addr.join(withIds.select(col("doc_id"), col("__ids")), Seq("doc_id"))
      .select(col("shard"), col("seq_id"), col("win_off"),
        slice(col("__ids"), 1, budget).as("__piece"),
        col("__len"), col("__cut"))
      .groupBy(col("shard"), col("seq_id"))
      .agg(
        flatten(transform(
          array_sort(collect_list(struct(col("win_off"), col("__piece")))),
          x => x.getField("__piece"))).as("__cells"),
        coalesce(sum(col("__len")), lit(0L)).as("__ntok"),
        count(lit(1)).as("n_docs"),
        max(col("__cut")).as("truncated"))
      .select(col("shard"), col("seq_id"),
        concat(transform(col("__cells"), x => x.getField("id")),
          array_repeat(lit(pad),
            (lit(budget) - col("__ntok")).cast(IntegerType)))
          .as("token_ids"),
        concat(transform(col("__cells"), x => x.getField("m")),
          array_repeat(lit(0L),
            (lit(budget) - col("__ntok")).cast(IntegerType)))
          .as("loss_mask"),
        col("__ntok").as("n_tokens"),
        col("n_docs"), col("truncated"))
  }

  /** The no-split NEXT-FIT address frame — ONE construction shared by
    * [[sftPackedTokenIdsNoSplit]] and [[sftPackedDocSpansNoSplit]], so
    * the packer and its address book can never disagree about where a
    * conversation went. `withIds` carries (doc_id numeric, __n = cell
    * count); output is (doc_id LONG, shard, seq_id, win_off, span_len
    * = min(__n, budget), truncated).
    *
    * 100 TB design: the scan is SCALAR (cell arrays pruned), the
    * assignment is a streaming `mapPartitions` over the
    * shard-repartitioned, within-partition-(shard, doc_id)-sorted
    * frame — Spark's external sort spills; per-task state is literally
    * the current shard id plus one counter pair. */
  private def noSplitAddresses(withIds: DataFrame, budget: Int,
                               shards: Int): DataFrame = {
    // doc_id Long-cast so ANY numeric id type works (the sibling
    // packers' pmod convention — join-backs coerce the key)
    val sized = withIds.select(col("doc_id").cast(LongType).as("doc_id"),
      pmod(col("doc_id"), lit(shards)).cast(LongType).as("shard"),
      col("__n").cast(LongType).as("__n"))
    import org.apache.spark.sql.{Encoders, Row}
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("seq_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("win_off",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("span_len",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("truncated",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    implicit val rowEnc: org.apache.spark.sql.Encoder[Row] =
      Encoders.row(outSchema)
    sized
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .mapPartitions { it =>
        var curShard = Long.MinValue
        var seq = -1L
        var used = budget.toLong + 1 // forces a new window per shard start
        it.map { r =>
          val id = r.getLong(0); val shard = r.getLong(1); val n = r.getLong(2)
          if (shard != curShard) {
            curShard = shard; seq = -1L; used = budget.toLong + 1
          }
          val eff = math.min(n, budget.toLong)
          val off = if (used + eff > budget) { seq += 1; used = eff; 0L }
          else { val o = used; used += eff; o }
          Row(id, shard, seq, off, eff, n > budget)
        }
      }
  }

  /**
   * The NO-SPLIT packed stream's conversation spans —
   * [[sftPackedDocSpans]]' twin for the [[sftPackedTokenIdsNoSplit]]
   * convention: one row per conversation (no-split means a
   * conversation never crosses a window), (shard, seq_id, doc_id,
   * span_start, span_len, truncated). `span_len` is the REAL cell
   * count in the window (min(cells, budget)); positions past
   * span_start + span_len up to the next span (or the window's pad
   * tail) are padding. Shares [[noSplitAddresses]] with the packer —
   * the geometry cannot drift — and is entirely scalar: cell arrays
   * are never built, output volume is one row per conversation.
   */
  def sftPackedDocSpansNoSplit(df: DataFrame, idCol: String, convCol: String,
                               merges: Seq[(String, String)],
                               budget: Int, shards: Int): DataFrame = {
    require(merges.nonEmpty, "merges must be non-empty")
    require(budget >= 1, "budget must be >= 1")
    require(shards >= 1, "shards must be >= 1")
    noSplitAddresses(
      ScanFanOut(df.filter(col(convCol).isNotNull))
        .select(col(idCol).as("doc_id"),
          convCellCount(convCol, merges).as("__n")),
      budget, shards)
      .select(col("shard"), col("seq_id"), col("doc_id"),
        col("win_off").as("span_start"), col("span_len"), col("truncated"))
  }

  /**
   * SFT WINDOWS + SPANS from ONE shared address pass — the
   * artifact-store build path (r20, the chat twin of
   * [[graft.operators.TextStats.packedArtifactFrames]]): a chat
   * `pack_store` stage previously sized the packer AND the spans
   * builder with two independent count-encodes of every conversation
   * (plus two offset passes). Here the scalar address frame computes
   * once and `localCheckpoint`s; both surfaces derive from its
   * blocks — one count-encode + one ids-encode for the whole store
   * write, under EITHER convention (`noSplit` routes through the
   * shared next-fit address scan). Same arithmetic as the public
   * operators (shared tails), spec-pinned row-for-row against them.
   */
  def sftPackedArtifactFrames(df: DataFrame, idCol: String, convCol: String,
                              merges: Seq[(String, String)],
                              budget: Int, shards: Int,
                              eosId: Option[Long] = None,
                              padId: Option[Long] = None,
                              noSplit: Boolean = false): (DataFrame, DataFrame) = {
    require(merges.nonEmpty, "merges must be non-empty")
    require(budget >= 1, "budget must be >= 1")
    require(shards >= 1, "shards must be >= 1")
    val eos = eosId.getOrElse(256L + merges.size)
    val base = ScanFanOut(df.filter(col(convCol).isNotNull))
    val sized = base.select(col(idCol).as("doc_id"),
      convCellCount(convCol, merges).as("__n"))
    val withIds = base.select(col(idCol).as("doc_id"),
      convCells(convCol, merges, eos).as("__ids"))
    if (noSplit) {
      val addr = noSplitAddresses(sized, budget, shards).localCheckpoint()
      (noSplitWindowsFromAddr(addr, withIds, budget, padId.getOrElse(eos)),
        addr.select(col("shard"), col("seq_id"), col("doc_id"),
          col("win_off").as("span_start"), col("span_len"),
          col("truncated")))
    } else {
      val addr = TextStats.packAddresses(sized, budget, shards)
        .localCheckpoint()
      val windows = TextStats.windowsFromAddr(addr, withIds, budget)
        .select(col("shard"), col("seq_id"),
          transform(col("packed_ids"), x => x.getField("id")).as("token_ids"),
          transform(col("packed_ids"), x => x.getField("m")).as("loss_mask"),
          col("n_tokens"), col("n_docs"))
      (windows, TextStats.spansFromAddr(addr, budget))
    }
  }

  /**
   * UNPACK a packed SFT stream back to per-conversation (token_ids,
   * loss_mask) — the READER side of BOTH SFT packing conventions,
   * through the one shared slice-and-reassemble kernel
   * ([[graft.operators.TextStats.unpackTokenWindows]]): the parallel
   * id/mask arrays zip into cell structs, each (window, conversation)
   * span slices its window, and a conversation's slices reassemble in
   * window order. Against [[sftPackedTokenIds]]+[[sftPackedDocSpans]]
   * this returns [[sftTokenizeMask]]'s cells EXACTLY (the graded
   * `q_chat_sft_unpack` row); against the no-split pair it returns
   * the max-seq-len rule's result — cells truncated at `budget`, pad
   * tails excluded (spans never cover padding) — the graded
   * `q_chat_sft_unpack_nosplit` row.
   *
   * 100 TB design: inherits the kernel's cost shape — one equi-join
   * on the window key, row-local slices, one groupBy moving every
   * cell once in ≤ budget-sized pieces; the zip and the final
   * unzip projections are row-local over bound attributes (no
   * double-evaluation — the arrays are materialized aggregates, not
   * recomputed lambdas).
   */
  def unpackSftWindows(packed: DataFrame, spans: DataFrame): DataFrame =
    TextStats.unpackTokenWindows(
      packed.select(col("shard"), col("seq_id"),
        arrays_zip(col("token_ids"), col("loss_mask")).as("__cells")),
      spans, idsCol = "__cells")
      .select(col("doc_id"),
        transform(col("token_ids"), x => x.getField("token_ids"))
          .as("token_ids"),
        transform(col("token_ids"), x => x.getField("loss_mask"))
          .as("loss_mask"))
}
