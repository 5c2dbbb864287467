package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Preference-pair (DPO / RLHF reward-model) operators — the layer on
 * top of the SFT chat family ([[Chat]]): a preference example is a
 * prompt plus a (chosen, rejected) response pair, and its curation
 * needs pair-STRUCTURE-aware operators that neither document-level
 * nor conversation-level tooling provides:
 *
 *  - structural validation ([[validatePairs]]): the prompt is a real
 *    awaiting-response context, both responses exist, and chosen ≠
 *    rejected (an equal pair carries zero preference signal and a
 *    degenerate DPO gradient);
 *  - conversation-form validation ([[validatePairConvs]]): when the
 *    two sides arrive as FULL conversations, they must share the
 *    prompt prefix exactly and differ in the final turn;
 *  - pair dedup ([[dedupPairs]]) keyed on (prompt, chosen)
 *    fingerprints — the "same prompt, same winner, different loser
 *    sampled twice" duplication mode that doc-level dedup misses;
 *  - prompt-level leak-safe split ([[splitPairsLeakSafe]]): every
 *    pair sharing a prompt lands in ONE slice, or eval prompts leak
 *    into training through a second (chosen, rejected) sample of the
 *    same prompt — [[Sampling.assignSplitLeakSafe]]'s family
 *    contract with the prompt fingerprint as the component key.
 *
 * Reference scope: the reference engine (row-at-a-time ETL,
 * /root/reference/engine/migrator.py) has no preference-data concept;
 * this family extends the engine toward LLM post-training data, per
 * the build brief.
 *
 * 100 TB design: validation is a zero-shuffle row-local projection
 * (codegen'd higher-order functions over the turn array, same as the
 * chat family); dedup shuffles 32-byte sha2 fingerprints into one
 * map-side-combined exemplar aggregate (one shuffle, no self-join,
 * id-fallback keys so empty pairs never form one skewed NULL
 * family); the split is a zero-shuffle codegen'd projection whose
 * assignment is a pure function of the prompt key (stable under
 * corpus growth — [[Sampling.assignSplit]]'s contract).
 */
object Preference {

  /** Response-string normalization shared by every pair operator:
    * lowercase, whitespace-collapse, trim — the same canon the chat
    * family's [[Chat.assistantNorm]] applies, so pair and chat dedup
    * decisions cannot drift. NULL is as empty as "". */
  private[graft] def respNorm(c: Column): Column =
    trim(regexp_replace(lower(coalesce(c, lit(""))), "\\s+", " "))

  /** Normalized render of a prompt conversation: `role:content` per
    * turn joined on newlines, then the same lowercase/collapse canon.
    * The role prefix keeps a user turn and an assistant turn with
    * equal text from colliding. */
  private[graft] def promptNorm(convCol: String): Column =
    trim(regexp_replace(lower(array_join(
      transform(col(convCol), t => concat(
        coalesce(t.getField("role"), lit("")), lit(":"),
        coalesce(t.getField("content"), lit("")))), "\n")), "\\s+", " "))

  /**
   * Structural validation of (prompt conversation, chosen string,
   * rejected string) rows. Each check is its own boolean column (a
   * curation funnel wants per-check rates — the [[Chat.validateChat]]
   * convention), plus the conjunction `pair_ok`:
   *
   *  - `has_prompt`: the prompt conversation is non-empty;
   *  - `prompt_starts_user`: its first non-`system` turn is a `user`
   *    turn (a leading system prompt is allowed);
   *  - `prompt_ends_user`: its last turn is a `user` turn — the
   *    prompt must be AWAITING an assistant response, or the two
   *    responses are not answers to it;
   *  - `nonempty_chosen` / `nonempty_rejected`: the normalized
   *    response is non-blank;
   *  - `distinct_pair`: normalized chosen ≠ normalized rejected — an
   *    equal pair carries no preference signal;
   *  - `pair_ok`: the conjunction.
   *
   * 100 TB design: zero-shuffle row-local projection; flags are built
   * from staged COLUMNS (not re-inlined expressions) so a downstream
   * `filter(pair_ok)` predicate-pushes without duplicating the array
   * machinery ([[Chat.validateChat]]'s staging discipline).
   */
  def validatePairs(df: DataFrame, promptCol: String, chosenCol: String,
                    rejectedCol: String): DataFrame = {
    val p = col(promptCol)
    val nonSys = filter(p, t => t.getField("role") =!= "system")
    df.withColumn("has_prompt", coalesce(size(p) > 0, lit(false)))
      // get() not element_at(): 0-based and NULL out-of-bounds even
      // under ANSI — the prompt (and its non-system slice) is
      // legitimately empty for single-turn conversations
      .withColumn("prompt_starts_user", coalesce(
        get(nonSys, lit(0)).getField("role") === "user", lit(false)))
      .withColumn("prompt_ends_user", coalesce(
        when(size(p) > 0, element_at(p, -1).getField("role") === "user"),
        lit(false)))
      .withColumn("nonempty_chosen", respNorm(col(chosenCol)) =!= "")
      .withColumn("nonempty_rejected", respNorm(col(rejectedCol)) =!= "")
      .withColumn("distinct_pair",
        respNorm(col(chosenCol)) =!= respNorm(col(rejectedCol)))
      .withColumn("pair_ok",
        col("has_prompt") && col("prompt_starts_user") &&
          col("prompt_ends_user") && col("nonempty_chosen") &&
          col("nonempty_rejected") && col("distinct_pair"))
  }

  /**
   * Validation for pairs that arrive as two FULL conversations
   * (chosen-side and rejected-side transcripts, the other common DPO
   * interchange shape):
   *
   *  - `shares_prefix`: equal length and every turn but the last is
   *    identical (role AND content) — the two sides must answer the
   *    SAME prompt; single-turn conversations share the empty prefix;
   *  - `distinct_final`: the final turns' contents differ under the
   *    response canon;
   *  - `pair_conv_ok`: both, plus both sides non-empty.
   *
   * 100 TB design: zero-shuffle row-local projection — array slice
   * equality is one codegen'd comparison, no explode.
   */
  def validatePairConvs(df: DataFrame, chosenConvCol: String,
                        rejectedConvCol: String): DataFrame = {
    val a = col(chosenConvCol)
    val b = col(rejectedConvCol)
    val sharesPrefix = coalesce(
      size(a) === size(b) && size(a) > 0 &&
        slice(a, lit(1), size(a) - 1) === slice(b, lit(1), size(b) - 1), lit(false))
    val distinctFinal = coalesce(
      when(size(a) > 0 && size(b) > 0,
        respNorm(element_at(a, -1).getField("content")) =!=
          respNorm(element_at(b, -1).getField("content"))), lit(false))
    df.withColumn("shares_prefix", sharesPrefix)
      .withColumn("distinct_final", distinctFinal)
      .withColumn("pair_conv_ok", col("shares_prefix") && col("distinct_final"))
  }

  /**
   * Exact pair dedup keyed on the (prompt, chosen) fingerprint: keep
   * the lowest-id exemplar per family, annotate it with the family
   * size `n_copies`. The rejected side is deliberately NOT in the
   * key — "same prompt, same winner, a different sampled loser" is
   * the duplication mode this catches (keying on all three would
   * declare those distinct and keep both).
   *
   * Precondition: `idCol` is a unique row id (the keep rule is
   * "row whose id is the family minimum"). Refuses an input that
   * already has an `n_copies` column rather than clobbering it.
   *
   * 100 TB design: ONE shuffle on a 32-byte sha2 key, one scan, no
   * self-join — [[Chat.keepMinIdPerFp]]'s map-side-combined exemplar
   * aggregate, shared with the chat dedup, so a monster family leaves
   * each map task as one candidate row. Pairs with an empty chosen
   * response carry no dedup evidence and fall back to their own id
   * (singleton families, never one skewed empty-key group). Prompt
   * and chosen are normalized in staged columns because HOF lambdas
   * get no CSE.
   */
  def dedupPairs(df: DataFrame, idCol: String, promptCol: String,
                 chosenCol: String): DataFrame = {
    require(!df.columns.contains("n_copies"),
      "dedupPairs emits n_copies; rename or drop the input column first")
    val keyed = df.withColumn("__pn", promptNorm(promptCol))
      .withColumn("__cn", respNorm(col(chosenCol)))
      .withColumn("__fp", coalesce(
        when(col("__cn") =!= "", sha2(
          concat(col("__pn"), lit("\u0001"), col("__cn")), 256)),
        concat(lit("__nochosen#"), col(idCol).cast(StringType))))
    Chat.keepMinIdPerFp(keyed, df.columns.toSeq, idCol)
  }

  /**
   * Per-pair token accounting — the [[Chat.chatStats]] sibling for
   * preference rows, the columns DPO length filtering and batch
   * packing read: prompt/chosen/rejected token counts (`\S+` scan,
   * NULL-as-empty), whether each SIDE (prompt + response) fits a
   * `maxLen`-token training context, and the chosen/rejected length
   * ratio (NULL when rejected is empty — a ratio against nothing is
   * not 0). A pair whose two sides straddle `maxLen` is worse than
   * one that fits or one that doesn't: the truncated side silently
   * changes the comparison the model learns from — `fits_pair` is the
   * conjunction to filter on.
   *
   * 100 TB design: zero-shuffle row-local projection, one aggregate
   * fold over the prompt turns, codegen'd scans for the responses.
   */
  def pairStats(df: DataFrame, promptCol: String, chosenCol: String,
                rejectedCol: String, maxLen: Int): DataFrame = {
    import graft.functions.TextFunctions
    def turnTokens(t: Column): Column =
      TextFunctions.tokenCount(coalesce(t.getField("content"), lit("")))
    df.withColumn("n_prompt_tokens",
        coalesce(aggregate(col(promptCol), lit(0L),
          (acc, t) => acc + turnTokens(t)), lit(0L)))
      .withColumn("n_chosen_tokens",
        TextFunctions.tokenCount(coalesce(col(chosenCol), lit(""))))
      .withColumn("n_rejected_tokens",
        TextFunctions.tokenCount(coalesce(col(rejectedCol), lit(""))))
      .withColumn("fits_chosen",
        col("n_prompt_tokens") + col("n_chosen_tokens") <= maxLen)
      .withColumn("fits_rejected",
        col("n_prompt_tokens") + col("n_rejected_tokens") <= maxLen)
      .withColumn("fits_pair", col("fits_chosen") && col("fits_rejected"))
      .withColumn("len_ratio",
        when(col("n_rejected_tokens") > 0,
          round(col("n_chosen_tokens").cast(DoubleType) /
            col("n_rejected_tokens"), 6)))
  }

  /**
   * Best-of-N pair construction — the standard RLHF/DPO data step:
   * given reward-SCORED responses (one row per (prompt, response,
   * score) sample), emit ONE preference pair per prompt family:
   * chosen = the highest-scored response, rejected = the lowest. The
   * inverse direction of [[validatePairs]]: this BUILDS the pairs the
   * rest of the family curates.
   *
   * Determinism contract (what the oracle replays): prompts group by
   * the [[promptNorm]] canon; both sides break score ties on the
   * LOWEST response id; families with fewer than 2 responses or zero
   * score separation (max == min — no preference signal) emit
   * nothing, so chosen and rejected are never the same row. (Two
   * DIFFERENT rows with equal text and different scores can still
   * pair — [[validatePairs]]' `distinct_pair` is the downstream
   * filter for that.) `pair_id` is the family's minimum response id.
   *
   * Output: (pair_id, prompt, chosen, rejected, chosen_score,
   * rejected_score, n_candidates).
   *
   * 100 TB design: ONE shuffle — a groupBy on the normalized prompt
   * key with min_by/max_by aggregates (no window, no self-join; the
   * per-family state is O(1) whatever N is). Prompt text rides the
   * aggregate once via min_by, not once per response.
   */
  def pairsFromScored(df: DataFrame, idCol: String, promptCol: String,
                      respCol: String, scoreCol: String): DataFrame = {
    // the chosen-side tie-break negates the id inside an ordering
    // struct — only meaningful for numeric ids; fail at plan time,
    // not with an AnalysisException deep in the aggregate
    require(df.schema(idCol).dataType.isInstanceOf[NumericType],
      s"pairsFromScored needs a numeric response id, " +
        s"got ${df.schema(idCol).dataType.simpleString} for '$idCol'")
    val id = col(idCol)
    val score = col(scoreCol).cast(DoubleType)
    val keyed = df.withColumn("__pk", promptNorm(promptCol))
    keyed.groupBy(col("__pk"))
      .agg(
        min(id).as("pair_id"),
        min_by(col(promptCol), id).as("prompt"),
        max_by(col(respCol), struct(score, -id)).as("chosen"),
        min_by(col(respCol), struct(score, id)).as("rejected"),
        max(score).as("chosen_score"),
        min(score).as("rejected_score"),
        count(lit(1)).as("n_candidates"))
      .filter(col("n_candidates") >= 2 &&
        col("chosen_score") > col("rejected_score"))
      .drop("__pk")
  }

  /**
   * Prompt-level leak-safe split: [[Sampling.assignSplit]] keyed on
   * the normalized prompt render, so every pair sharing a prompt —
   * however many (chosen, rejected) samples were drawn from it —
   * lands in ONE slice. Adds a `split` column; same growth-stability
   * contract as assignSplit (a prompt keeps its slice as the corpus
   * grows, because membership is a pure function of the prompt key).
   *
   * 100 TB design: zero shuffle — the key is a row-local projection
   * and the assignment a codegen'd CASE over its md5.
   */
  def splitPairsLeakSafe(df: DataFrame, promptCol: String,
                         splits: Seq[(String, Double)]): DataFrame =
    Sampling.assignSplit(
      df.withColumn("__pkey", promptNorm(promptCol)), "__pkey", splits)
      .drop("__pkey")
}
