package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Deterministic sampling for corpus balancing — the operators a
 * training-data pipeline runs between cleaning and packing: uniform
 * downsampling, per-stratum quotas, and mixture reweighting (e.g. "cap
 * web text at 30%, keep all books"). Everything here is HASH-derived,
 * not RNG-derived: `rand()` changes per run/partitioning and cannot be
 * reproduced by an external oracle, while a uniform computed from
 * md5(key) is stable across runs, engines (the DuckDB oracle computes
 * the identical value), partitionings, and re-executions — a sampled
 * corpus can be re-materialized bit-identically months later from the
 * same inputs.
 *
 * 100 TB design: the fraction-based samplers are pure FILTERS — zero
 * shuffle, zero driver state, riding the scan projection; only the
 * exact-quota sampler shuffles (one window keyed on the strata), and
 * its rank filter engages Spark's WindowGroupLimit pushdown so each
 * map task pre-trims to k rows per stratum before the exchange
 * (plan-asserted in SamplingSpec).
 */
object Sampling {

  /** Uniform double in [0, 1) derived from md5 of the key column —
    * the first 8 hex chars as an integer over 2^32. ~4e9 distinct
    * values: ample resolution for sampling fractions, reproducible
    * everywhere md5 exists. */
  def hashUniform(key: Column): Column =
    conv(substring(md5(key.cast(StringType)), 1, 8), 16, 10)
      .cast(DoubleType) / lit(4294967296.0)

  /** Keep ~`fraction` of rows, deterministically by key: a row survives
    * iff hashUniform(key) < fraction. Zero shuffle, zero state. */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction $fraction not in [0,1]")
    df.filter(hashUniform(col(keyCol)) < lit(fraction))
  }

  /**
   * EXACTLY-N global deterministic sample — what [[hashSample]]'s
   * fraction cannot promise ("give me exactly 10k eval docs"): the N
   * rows with the smallest seeded md5 uniform (ties by key), a pure
   * function of the key set — reproducible across runs, partitionings
   * and engines, and STABLE UNDER CORPUS GROWTH in expectation (a row's
   * selection depends only on how many keys hash below it).
   *
   * 100 TB design: `orderBy(uniform, key).limit(n)` compiles to
   * TakeOrderedAndProject — each task keeps a local N-row heap and the
   * driver merges task heads. No global sort, no single-partition
   * window, no shuffle of the corpus; driver memory is N rows (keep N
   * sample-sized; a million-row N wants [[hashSample]] + a trim
   * instead).
   */
  def exactNSample(df: DataFrame, keyCol: String, nRows: Int): DataFrame = {
    require(nRows >= 1, s"nRows must be >= 1, got $nRows")
    // NULL keys have no uniform (md5(NULL) = NULL) and engines disagree
    // on NULL sort placement (Spark NULLS FIRST vs DuckDB NULLS LAST
    // ascending) — they are EXCLUDED, not given free slots at the head
    df.filter(col(keyCol).isNotNull)
      .orderBy(hashUniform(col(keyCol)), col(keyCol)).limit(nRows)
  }

  /**
   * Mixture reweighting: keep a per-stratum fraction of rows (strata
   * value -> fraction, `default` for unlisted strata). The balancing
   * operator for language/source mixes — still a pure zero-shuffle
   * filter: the fraction lookup is a plan-literal CASE over the stratum
   * column, the survival test the same hash uniform as [[hashSample]].
   */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
                       fractions: Map[String, Double],
                       default: Double = 1.0): DataFrame = {
    require((default +: fractions.values.toSeq).forall(f => f >= 0 && f <= 1),
      "every fraction must be in [0,1]")
    val frac = fractions.foldLeft(lit(default)) { case (acc, (value, f)) =>
      when(col(stratumCol) === lit(value), lit(f)).otherwise(acc)
    }
    df.filter(hashUniform(col(keyCol)) < frac)
  }

  /**
   * Mixture REBALANCING — [[stratifiedSample]] with the fractions
   * COMPUTED from a target composition: downsample strata so the
   * result's mix matches `targets` (stratum -> relative share) at the
   * largest size the data allows. The curation directive "make the
   * corpus 50% web / 30% books / 20% code" arrives as shares, not
   * per-stratum fractions — the arithmetic in between is this
   * operator: N_max = min over targeted strata of count_s / share_s
   * (the largest total for which no stratum runs out), and
   * fraction_s = scale · N_max · share_s / count_s. Rows of strata
   * absent from `targets` are dropped (the target defines the mix);
   * target strata absent from the data are ignored (nothing to
   * sample). Shares are RELATIVE (they need not sum to 1).
   *
   * Expected kept sizes are fraction·count — hash sampling is
   * per-row independent, so realized composition converges to the
   * target with stratum size (same contract as [[stratifiedSample]];
   * use [[stratifiedTopK]]/[[tokenBudgetSample]] for exact quotas).
   *
   * 100 TB design: one EAGER per-stratum count (output rows = distinct
   * strata — a plan-literal contract like `tfidfKeywords`' N), then a
   * pure zero-shuffle filter: the fraction lookup is a literal CASE,
   * survival the usual md5 uniform — deterministic, engine-reproducible
   * (the DuckDB oracle recomputes the identical fractions).
   */
  def rebalanceMixture(df: DataFrame, stratumCol: String, keyCol: String,
                       targets: Map[String, Double],
                       scale: Double = 1.0): DataFrame = {
    require(targets.nonEmpty, "need at least one target share")
    require(targets.values.forall(_ > 0), "target shares must be > 0")
    require(scale > 0 && scale <= 1.0, "scale must be in (0, 1]")
    require(df.schema(stratumCol).dataType == StringType,
      s"rebalanceMixture needs a string stratum column (targets are keyed " +
        s"by string), got ${df.schema(stratumCol).dataType.simpleString}")
    val counts = df.filter(col(stratumCol).isin(targets.keys.toSeq: _*))
      .groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = targets.filter { case (s, _) => counts.contains(s) }
    if (present.isEmpty) return df.filter(lit(false))
    val nMax = present.map { case (s, share) => counts(s) / share }.min
    val fractions = present.map { case (s, share) =>
      s -> math.min(1.0, scale * nMax * share / counts(s))
    }
    stratifiedSample(df.filter(col(stratumCol).isin(present.keys.toSeq: _*)),
      stratumCol, keyCol, fractions, default = 0.0)
  }

  /**
   * Temperature (α) sampling — the multilingual mixture recipe
   * (mBERT/XLM-R/mT5): target shares are derived FROM the corpus as
   * `count^α / Σ count^α` instead of hand-specified, flattening the
   * size distribution toward uniform as α → 0 (α = 1 keeps natural
   * proportions; ~0.3–0.7 is the published range). The smallest
   * stratum is kept whole (fraction = `scale`); larger strata are
   * hash-downsampled toward their tempered share. NULL strata are
   * dropped. Delegates to the [[stratifiedSample]] filter, so
   * survival is the usual md5-uniform — deterministic and
   * engine-reproducible.
   *
   * Fractions are quantized to 1e-9 before filtering: share arithmetic
   * runs in driver doubles (`pow`, an unordered sum), and quantizing
   * makes the cut a stable contract across engines/libm versions
   * rather than a last-ULP coin flip on rows whose uniform grazes the
   * boundary.
   *
   * 100 TB design: identical to [[rebalanceMixture]] — one eager
   * per-stratum count (rows = distinct strata), then a zero-shuffle
   * codegen'd CASE + hash filter.
   */
  def temperatureSample(df: DataFrame, stratumCol: String, keyCol: String,
                        alpha: Double, scale: Double = 1.0): DataFrame = {
    require(alpha > 0 && alpha <= 1.0, "alpha must be in (0, 1]")
    require(scale > 0 && scale <= 1.0, "scale must be in (0, 1]")
    require(df.schema(stratumCol).dataType == StringType,
      s"temperatureSample needs a string stratum column, got " +
        df.schema(stratumCol).dataType.simpleString)
    val counts = df.filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    if (counts.isEmpty) return df.filter(lit(false))
    val wts = counts.map { case (s, n) => s -> math.pow(n, alpha) }
    val wsum = wts.values.sum
    val shares = wts.map { case (s, w) => s -> w / wsum }
    val nMax = shares.map { case (s, share) => counts(s) / share }.min
    val fractions = shares.map { case (s, share) =>
      s -> math.floor(math.min(1.0, scale * nMax * share / counts(s)) * 1e9) / 1e9
    }
    stratifiedSample(df.filter(col(stratumCol).isNotNull),
      stratumCol, keyCol, fractions, default = 0.0)
  }

  /**
   * Exact per-stratum quota: the `k` rows of each stratum with the
   * smallest hash uniform (deterministic order, ties broken by the key
   * itself). One shuffle on the strata; the `row_number <= k` filter
   * sits directly on the window so Spark's WindowGroupLimit pushdown
   * pre-trims every map task's input to k rows per stratum BEFORE the
   * exchange — the shuffle moves ~k rows per (task, stratum), not the
   * corpus.
   */
  def stratifiedTopK(df: DataFrame, strataCols: Seq[String], keyCol: String,
                     k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(hashUniform(col(keyCol)), col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /**
   * Token-budget quota: keep, per stratum, the hash-uniform-first rows
   * whose cumulative SIZE stays within `budget` — "take ~1B tokens per
   * language", the curation quota that [[stratifiedTopK]]'s row-count
   * k cannot express when document lengths vary wildly. The row that
   * CROSSES the boundary is kept (its cumulative size minus its own is
   * still under budget), so every stratum with any data yields at
   * least one row and the overshoot is bounded by one document.
   *
   * `sizeCol` is any per-row cost expression — a token count riding
   * the scan projection ([[graft.functions.TextFunctions.tokenCount]]),
   * a byte length, a precomputed column. Deterministic like every
   * sampler here: the kept set is a pure function of (keys, sizes),
   * reproducible by the DuckDB oracle.
   *
   * 100 TB design: ONE shuffle (the stratum window); the running sum
   * must order the whole stratum, so per-window state is the stratum's
   * rows — bound it by pre-thinning with [[hashSample]]/
   * [[stratifiedSample]] when strata are corpus-scale (sampling to a
   * budget implies the budget is far under the stratum size; a cheap
   * fraction filter in front keeps the window input proportional to
   * the budget, not the corpus).
   */
  def tokenBudgetSample(df: DataFrame, stratumCols: Seq[String], keyCol: String,
                        sizeCol: Column, budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    budgetWindowFilter(df, stratumCols, keyCol, sizeCol, lit(budget))
  }

  /** The one cumulative-budget kernel behind [[tokenBudgetSample]] and
    * [[tokenBudgetSampleBy]] — hash-first stratum window, null sizes
    * kept at zero cost, the crossing row kept — so the two budget
    * flavors can never diverge on the quota semantics. Null size (e.g.
    * null text) counts as 0 — kept for free — rather than the subtle
    * alternative (NULL survival test) that silently drops exactly the
    * null-sized rows from the sample. */
  private def budgetWindowFilter(df: DataFrame, stratumCols: Seq[String],
                                 keyCol: String, sizeCol: Column,
                                 budget: Column): DataFrame = {
    val w = Window.partitionBy(stratumCols.map(col): _*)
      .orderBy(hashUniform(col(keyCol)), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("__sz", coalesce(sizeCol.cast(LongType), lit(0L)))
      .withColumn("__cum", sum(col("__sz")).over(w))
      .filter(col("__cum") - col("__sz") < budget)
      .drop("__sz", "__cum")
  }

  /**
   * [[tokenBudgetSample]] with PER-STRATUM budgets — the real curation
   * directive is rarely uniform ("2B English tokens, 500M German, drop
   * the rest"): `budgets` maps stratum value -> token budget, `default`
   * applies to unlisted strata (its default 0 DROPS them — the mixture
   * contract of [[rebalanceMixture]]; pass a positive default to keep a
   * floor instead). Same single-shuffle window, same hash-first
   * deterministic order, same crossing-row semantics; the budget lookup
   * is a plan-literal CASE like [[stratifiedSample]]'s fractions.
   */
  def tokenBudgetSampleBy(df: DataFrame, stratumCol: String, keyCol: String,
                          sizeCol: Column, budgets: Map[String, Long],
                          default: Long = 0L): DataFrame = {
    require(budgets.nonEmpty, "need at least one stratum budget")
    require(budgets.values.forall(_ >= 0) && default >= 0,
      "budgets must be >= 0")
    val budget = budgets.foldLeft(lit(default)) { case (acc, (value, b)) =>
      when(col(stratumCol) === lit(value), lit(b)).otherwise(acc)
    }
    budgetWindowFilter(df, Seq(stratumCol), keyCol, sizeCol, budget)
  }

  /**
   * Per-row weighted (importance) sampling: a row survives iff
   * hashUniform(key) < its own `weight` expression, clamped to [0, 1].
   * This is the quality-resampling step of CCNet-style pipelines —
   * keep high-quality documents with probability ~1 and low-quality
   * ones with a small probability proportional to their score —
   * generalizing [[stratifiedSample]] from a per-stratum plan literal
   * to an arbitrary per-row column (a quality score, a model score, a
   * domain weight joined on).
   *
   * Same determinism contract as every sampler here: the survival test
   * is a pure function of (key, weight), so the sampled corpus is
   * reproducible bit-identically by any engine with md5. Zero shuffle,
   * zero driver state — a codegen'd filter riding the scan.
   *
   * NULL policy: a NULL weight (e.g. joined from a sparse score table
   * with no row for this key) counts as weight 0 — the row is DROPPED,
   * explicitly rather than via the silent NULL-comparison path
   * (`greatest` skips NULLs, so without the coalesce the survival test
   * itself would quietly evaluate to the same drop). Callers wanting
   * "unscored rows survive" should `coalesce` their own default in the
   * weight expression.
   */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column): DataFrame =
    df.filter(hashUniform(col(keyCol)) <
      least(lit(1.0), greatest(lit(0.0), coalesce(weight.cast(DoubleType), lit(0.0)))))

  /**
   * Deterministic train/validation/test split: adds a `split` column
   * naming the slice each row falls into. `splits` is an ordered list
   * of (name, fraction) summing to <= 1; the hash uniform of the key is
   * cut at the cumulative fractions (rows past the last cut get the
   * final slice's name if the fractions sum to 1, else NULL — callers
   * holding out a remainder can filter on it).
   *
   * Because membership is a pure function of the ROW KEY — not of
   * ordering, partitioning, or a global count — the assignment is
   * stable under corpus growth: a document keeps its slice when new
   * data arrives, which is what makes hash-splits the standard guard
   * against train/test leakage across dataset versions (each doc's
   * slice can be re-derived, never re-drawn). Zero shuffle: one
   * codegen'd CASE projection.
   */
  def assignSplit(df: DataFrame, keyCol: String,
                  splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 >= 0), "fractions must be >= 0")
    require(splits.map(_._2).sum <= 1.0 + 1e-9, "fractions must sum to <= 1")
    val u = hashUniform(col(keyCol))
    val cuts = splits.scanLeft(0.0)(_ + _._2).tail
    val assigned = splits.zip(cuts).foldRight(lit(null).cast(StringType)) {
      case (((name, _), cut), rest) => when(u < lit(cut), lit(name)).otherwise(rest)
    }
    df.withColumn("split", assigned)
  }

  /**
   * Leakage-safe split: [[assignSplit]] keyed on each row's near-dup
   * COMPONENT representative instead of its own key. A plain hash
   * split sends two near-duplicate documents to different slices
   * ~P(not same slice) of the time, quietly leaking eval items into
   * training (the contamination [[Dedup.decontaminate]] guards against,
   * self-inflicted at split time); here every member of a connected
   * near-dup component hashes the component's min id, so a whole
   * duplicate family lands in ONE slice. `pairs` is any near-dup pair
   * frame (`Dedup.ngramJaccardPairs`, minhash, SemDeDup...) over the
   * same ids; rows absent from `pairs` are singletons and hash their
   * own key. Same growth-stability contract as [[assignSplit]]: a
   * component keeps its slice when new data arrives, unless new edges
   * MERGE two components (then the merged family re-draws together —
   * the conservative direction: families never straddle).
   *
   * 100 TB design: component labels come from the large-star/small-star
   * rounds of [[Dedup.connectedComponents]] (pair-graph-bounded, one
   * checkpointed job per round, O(log² n) rounds at any diameter), the
   * label join is one shuffle bounded by the docs
   * that HAVE a near-dup (AQE broadcasts it when small), and the split
   * itself stays a zero-shuffle codegen'd projection.
   */
  def assignSplitLeakSafe(df: DataFrame, keyCol: String, pairs: DataFrame,
                          aCol: String, bCol: String,
                          splits: Seq[(String, Double)]): DataFrame = {
    val comps = Dedup.connectedComponents(pairs, aCol, bCol)
      .select(col("id").as(keyCol), col("comp").as("__rep"))
    val keyed = df.join(comps, Seq(keyCol), "left")
      .withColumn("__skey", coalesce(col("__rep"), col(keyCol)))
    assignSplit(keyed, "__skey", splits).drop("__rep", "__skey")
  }

  /**
   * Percentile bucketing — CCNet's head/middle/tail split one operator
   * up: assign each row the index (0-based, 0 = lowest scores) of the
   * equal-mass percentile bucket its `scoreCol` falls into. CCNet
   * splits the corpus into perplexity terciles and trains on the head;
   * composed with [[graft.operators.TextStats.unigramLogProbScore]] /
   * `bigramLogProbScore` this is that split for any score.
   *
   * The cuts are the EXACT interpolated percentiles (one eager 1-row
   * aggregate — the plan-literal contract of `tfidfKeywords`' N),
   * ROUNDED to 6 decimals so an external engine recomputes identical
   * cut values (the graded scores are themselves round-6, so the
   * comparisons are deterministic); bucket = first cut the score does
   * not exceed — a zero-shuffle codegen'd CASE. NULL scores get a NULL
   * bucket (they carry no rank). Not a global `ntile` window, which
   * would serialize the corpus through one partition.
   */
  def percentileBuckets(df: DataFrame, scoreCol: String, nBuckets: Int,
                        out: String = "bucket"): DataFrame = {
    require(nBuckets >= 2, "need at least 2 buckets")
    val ps = (1 until nBuckets).map(_.toDouble / nBuckets)
    val cutsRow = df.agg(
      percentile(col(scoreCol).cast(DoubleType), array(ps.map(lit): _*))).head()
    if (cutsRow.isNullAt(0)) // no non-null scores anywhere
      return df.withColumn(out, lit(null).cast(IntegerType))
    val cuts = cutsRow.getSeq[Double](0)
      .map(c => BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val s = col(scoreCol).cast(DoubleType)
    val bucket = cuts.zipWithIndex.foldRight(lit(nBuckets - 1): Column) {
      case ((cut, i), rest) => when(s <= lit(cut), lit(i)).otherwise(rest)
    }
    df.withColumn(out, when(s.isNull, lit(null)).otherwise(bucket).cast(IntegerType))
  }

  /**
   * Multi-epoch mixture PLAN — the data-mixing table a pretraining run
   * publishes before it starts (the LLaMA/GPT-style "source, share,
   * epochs" table): given a total token budget, assign each stratum a
   * temperature-weighted share (share ∝ available_tokens^alpha — alpha
   * = 1 is proportional/single-epoch mixing, alpha < 1 upweights small
   * high-quality sources exactly like [[temperatureSample]]) and
   * convert it to an epoch count over the stratum's available tokens,
   * capped at `maxEpochs` (repeating data beyond a few epochs hurts —
   * the cap is the Muennighoff et al. 2023 "data-constrained scaling"
   * guidance). `planned_tokens` = epochs × available: the cap means a
   * plan may land under budget — callers redistribute or accept.
   *
   * This is a PLAN, not a sampler: feed `epochs` ≥ 1 strata to
   * repetition/packing and < 1 strata to [[tokenBudgetSampleBy]] with
   * `planned_tokens` as the per-stratum budget map.
   *
   * 100 TB design: one partially-aggregated groupBy to
   * strata-cardinality rows; the share normalizer is a 1-row broadcast
   * side; everything after is per-stratum arithmetic. NULL strata are
   * excluded (they are not a plannable source).
   *
   * Output: (stratum, n_docs, avail_tokens, share, epochs,
   * planned_tokens); token-less strata keep share 0 and NULL epochs.
   */
  def epochPlan(docs: DataFrame, textCol: String, stratumCol: String,
                budgetTokens: Long, alpha: Double = 1.0,
                maxEpochs: Double = 4.0): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(alpha > 0 && alpha <= 1.0, "alpha must be in (0, 1]")
    require(maxEpochs > 0, "maxEpochs must be positive")
    val D = DoubleType
    val avail = docs.filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.TextFunctions.tokenCount(col(textCol)))
          .as("avail_tokens"))
    val wsum = avail.filter(col("avail_tokens") > 0)
      .agg(sum(pow(col("avail_tokens").cast(D), alpha)).as("__wsum"))
    val share = when(col("avail_tokens") > 0,
      pow(col("avail_tokens").cast(D), alpha) / col("__wsum"))
      .otherwise(lit(0.0))
    avail.crossJoin(broadcast(wsum)) // one row: the share normalizer
      .withColumn("__share", share)
      .withColumn("__epochs", when(col("avail_tokens") > 0,
        least(lit(maxEpochs),
          (lit(budgetTokens) * col("__share")) / col("avail_tokens"))))
      .select(col("stratum"), col("n_docs"), col("avail_tokens"),
        round(col("__share"), 6).as("share"),
        round(col("__epochs"), 6).as("epochs"),
        round(col("__epochs") * col("avail_tokens"), 6).as("planned_tokens"))
  }

  /**
   * Curriculum ordering — [[globalShuffle]]'s score-driven sibling:
   * rows land in the same seeded hash shard, but WITHIN a shard the
   * training order is (score ascending, key) instead of a random
   * permutation — feed an easiness/difficulty score (LM log-prob,
   * length, classifier margin) and the loader streams each shard
   * easy-to-hard (curriculum learning's standard schedule; reverse by
   * negating the score upstream). Sharding stays hash-random so every
   * shard spans the full difficulty range at equal quantiles —
   * difficulty-SORTED sharding would make shard 0 all-easy, which is a
   * mixing pathology, not a curriculum. NULL scores sort first
   * (Spark's ascending default; the oracle pins it).
   *
   * 100 TB design: identical shape to [[globalShuffle]] — one shuffle
   * (the shard partition), per-shard window state bounded by shard
   * size, deterministic for fixed (seed, shards).
   *
   * Output: input columns + (shard, pos).
   */
  def curriculumOrder(df: DataFrame, keyCol: String, scoreCol: String,
                      seed: Long, shards: Int): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val shard = pmod(conv(substring(
        md5(concat_ws("#", lit(seed), col(keyCol).cast(StringType))), 9, 8),
      16, 10).cast(LongType), lit(shards.toLong)).cast(IntegerType)
    val w = Window.partitionBy(col("__shard"))
      .orderBy(col(scoreCol).asc, col(keyCol))
    df.withColumn("__shard", shard)
      .withColumn("pos", row_number().over(w).cast(LongType) - 1)
      .withColumn("shard", col("__shard"))
      .drop("__shard")
  }

  /**
   * Length-bucketed batch assignment — the inference-serving twin of
   * [[graft.operators.TextStats.packSequences]]: group rows of similar
   * length into fixed-size batches so per-batch padding (every
   * sequence pads to its batch max) stays small — the vLLM/continuous-
   * batching prep step, and the classic bucketed-batching recipe for
   * evaluation sweeps. `edges` define the buckets (bucket = number of
   * edges <= length); within a (shard, bucket) rows order by
   * (length, key) — adjacent lengths batch together, which is the
   * whole point — and batch_idx advances every `batchSize` rows.
   *
   * 100 TB design: the [[globalShuffle]] sharding contract — a seeded
   * hash shard bounds every window's state (a global per-bucket
   * numbering would serialize each bucket through one partition); one
   * exchange on (shard, bucket). NULL lengths group under a NULL
   * bucket (batched together — filter upstream if they should drop).
   *
   * Output: input columns + (bucket, shard, batch_idx).
   */
  def lengthBucketBatches(df: DataFrame, keyCol: String, lenCol: String,
                          edges: Seq[Long], batchSize: Int,
                          seed: Long, shards: Int): DataFrame = {
    require(edges.nonEmpty && edges == edges.sorted,
      "edges must be non-empty and ascending")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    // NULL lengths really do land in a NULL bucket (window partitionBy
    // groups them together), not silently in bucket 0 with the shortest.
    val bucket = when(col(lenCol).isNotNull,
      edges.foldLeft(lit(0)) { (acc, e) =>
        acc + when(col(lenCol) >= e, 1).otherwise(0)
      })

    val shard = pmod(conv(substring(
        md5(concat_ws("#", lit(seed), col(keyCol).cast(StringType))), 9, 8),
      16, 10).cast(LongType), lit(shards.toLong)).cast(IntegerType)
    val w = Window.partitionBy(col("__shard"), col("bucket"))
      .orderBy(col(lenCol), col(keyCol))
    df.withColumn("bucket", bucket)
      .withColumn("__shard", shard)
      .withColumn("batch_idx",
        floor((row_number().over(w) - 1) / lit(batchSize.toDouble))
          .cast(LongType))
      .withColumn("shard", col("__shard"))
      .drop("__shard")
  }

  /**
   * Deterministic global shuffle for training-order randomization:
   * assigns each row a (shard, pos) address in a pseudorandom but
   * fully reproducible total order — shard = seeded hash mod `shards`,
   * pos = rank of the seeded hash uniform within the shard. Reading
   * shards in order then rows by pos visits the corpus in an order
   * that is uncorrelated with the input order yet bit-stable across
   * runs and engines (the md5 uniform again — `rand()`-based shuffles
   * cannot be replayed or resumed).
   *
   * 100 TB design: ONE shuffle on the shard key; each window partition
   * holds corpus/`shards` rows, so `shards` bounds per-task window
   * state exactly like [[TextStats.packSequences]]'s sharding (size it
   * to ~rows-per-shard × row-width ≲ executor memory). A curriculum
   * loader streams shard files sequentially; re-shuffling between
   * epochs is a different `seed`, not a different algorithm.
   */
  def globalShuffle(df: DataFrame, keyCol: String, seed: Long,
                    shards: Int): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val u = hashUniform(concat_ws("#", lit(seed), col(keyCol)))
    val shard = pmod(conv(substring(
        md5(concat_ws("#", lit(seed), col(keyCol).cast(StringType))), 9, 8),
      16, 10).cast(LongType), lit(shards.toLong)).cast(IntegerType)
    val w = Window.partitionBy(col("__shard"))
      .orderBy(col("__u"), col(keyCol))
    df.withColumn("__u", u)
      .withColumn("__shard", shard)
      .withColumn("pos", row_number().over(w).cast(LongType) - 1)
      .withColumn("shard", col("__shard"))
      .drop("__u", "__shard")
  }

  /**
   * Deterministic weighted INTERLEAVE of strata into one training
   * order — the "read 4 web docs per book doc per code doc" schedule a
   * multi-corpus pretraining run consumes. Each stratum's rows are
   * first put in a seeded pseudorandom within-stratum order, then
   * assigned a weighted-fair-queueing virtual finish time
   * `interleave_key = (stratum_rank + 0.5) / weight` — sorting the
   * output by (interleave_key, stratum, key) yields a total order in
   * which every prefix contains strata in proportion to their weights
   * (the WFQ property), degrading gracefully when a stratum runs out.
   * Rows of strata not in `weights` get `default`; weight <= 0 drops
   * the stratum. All-integer ranks + one IEEE division: bit-stable
   * across runs AND engines (no `ln`/`pow`, whose libm rounding
   * differs), resumable mid-stream at any virtual time.
   *
   * 100 TB design: NO per-stratum global window (that would serialize
   * each stratum through one task). The exact within-stratum rank
   * decomposes into a seeded-hash SHARD rank plus a per-(stratum,
   * shard) offset: ranks come from windows over (stratum, shard) —
   * per-task state is stratum/`shards`-bounded, the [[globalShuffle]]
   * contract — and offsets from an exclusive prefix sum over the
   * (strata × shards)-row count frame, broadcast back. One data
   * shuffle total; the within-stratum order is (shard, uniform, key),
   * every component of which is hash-derived and engine-replayable.
   *
   * Output: input columns + (stratum_rank, interleave_key).
   */
  def interleaveByMixture(df: DataFrame, stratumCol: String, keyCol: String,
                          weights: Map[String, Double], seed: Long,
                          shards: Int = 64,
                          default: Double = 0.0): DataFrame = {
    require(weights.nonEmpty, "need at least one stratum weight")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val w = weights.foldLeft(lit(default)) { case (acc, (value, x)) =>
      when(col(stratumCol) === lit(value), lit(x)).otherwise(acc)
    }
    val m = md5(concat_ws("#", lit(seed), col(keyCol).cast(StringType)))
    val shard = pmod(conv(substring(m, 9, 8), 16, 10).cast(LongType),
      lit(shards.toLong)).cast(IntegerType)
    val u = conv(substring(m, 1, 8), 16, 10).cast(DoubleType) / lit(4294967296.0)
    val kept = df.withColumn("__w", w).filter(col("__w") > 0)
      .withColumn("__shard", shard).withColumn("__u", u)
    val localW = Window.partitionBy(col(stratumCol), col("__shard"))
      .orderBy(col("__u"), col(keyCol))
    val offsets = kept.groupBy(col(stratumCol).as("__st"), col("__shard").as("__sh"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(
        Window.partitionBy(col("__st")).orderBy(col("__sh"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__n")
    kept
      .withColumn("__r", row_number().over(localW).cast(LongType) - 1)
      .join(broadcast(offsets),
        col(stratumCol) === col("__st") && col("__shard") === col("__sh"))
      .withColumn("stratum_rank", col("__off") + col("__r"))
      .withColumn("interleave_key",
        (col("stratum_rank").cast(DoubleType) + lit(0.5)) / col("__w"))
      .drop("__w", "__shard", "__u", "__r", "__st", "__sh", "__off")
  }

  /**
   * k-ANONYMITY suppression — the tabular-privacy primitive next to
   * the text-level PII redaction: keep only rows whose
   * quasi-identifier combination is shared by at least `k` rows, so
   * no released row is attributable to fewer than k individuals
   * (Sweeney 2002). Small groups are DROPPED (suppression), not
   * generalized — generalization hierarchies are a policy input this
   * engine does not invent. `group_size` rides along so downstream
   * audits can verify the floor.
   *
   * 100 TB design: ONE quasi-key window count (no join back — a join
   * on the quasi columns would both re-shuffle and silently drop
   * NULL-valued quasi groups, which ARE groups under k-anonymity).
   */
  def suppressSmallGroups(df: DataFrame, quasiCols: Seq[String],
                          k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 1, "k must be >= 1")
    val w = Window.partitionBy(quasiCols.map(col): _*)
    df.withColumn("group_size", count(lit(1)).over(w))
      .filter(col("group_size") >= k)
  }
}
