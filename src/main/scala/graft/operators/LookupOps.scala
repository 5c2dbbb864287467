package graft.operators

import graft.config.{LookupConfig, MappingRule}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import java.util.concurrent.atomic.AtomicInteger

/**
 * Lookup planner: compiles the reference's per-row SQL lookups into
 * single distributed joins.
 *
 * External lookup (reference: plugins/default_lookup.py:44-95) issues
 * one `SELECT CAST(val AS text) FROM tbl WHERE CAST(key AS text) = %s`
 * round-trip PER ROW — its biggest pathology. Here it becomes ONE
 * broadcast (or shuffle, if the dim is big) left-outer hash join.
 *
 * Semantics preserved:
 *  - both keys compare as TEXT (the reference casts both sides);
 *  - the looked-up value arrives as TEXT;
 *  - a NULL key bypasses the lookup and keeps the current value;
 *  - `on_missing` ∈ {null, skip, default:X, error}, default error
 *    (default_lookup.py:76-89), case-insensitive;
 *  - multiple dim matches: the reference takes the cursor's first row
 *    (nondeterministic); we take MIN(value) for determinism.
 *
 * Self-lookup (reference: plugins/default_lookup.py:97-108 +
 * plugins/default_loader.py:109-154) — the two-phase tmp-column /
 * UPDATE…FROM dance — collapses into one self-join on the DataFrame
 * before writing: no tmp columns, no second pass over the target.
 *
 * Scale note (100 TB): dims are joined WITHOUT a broadcast hint —
 * Catalyst broadcasts below `spark.sql.autoBroadcastJoinThreshold` and
 * falls back to sort-merge above it, which is exactly the degradation
 * path we want (a forced hint on an unbounded dim OOMs executors).
 */
object LookupOps {

  private val ctr = new AtomicInteger()

  /** Result of compiling one lookup step. `abortViolationCol`, when set,
    * names a boolean helper column on `df` flagging rows that must abort
    * the job (on_missing=error); the caller asserts it empty pre-write
    * and projects the helper away. skip-rows are filtered out eagerly,
    * unless `deferSkip` asked for them to be FLAGGED instead
    * (`skipFlagCol`) so the caller can keep one frame for a combined
    * violation pass and filter once at the end. */
  final case class LookupResult(df: DataFrame, abortViolationCol: Option[String],
                                skipFlagCol: Option[String] = None)

  /**
   * Rewrites `targetCol` of `df` (currently holding the key value) to the
   * looked-up `value_column` from `dim`. Result column type is STRING —
   * the reference's CAST(val AS text) contract.
   */
  def externalLookup(
      df: DataFrame,
      targetCol: String,
      lookup: LookupConfig,
      dim: DataFrame,
      deferSkip: Boolean = false): LookupResult = {
    val id = ctr.incrementAndGet()
    val kc = s"__lk_key_$id"
    val vc = s"__lk_val_$id"
    val valueCol = lookup.valueColumn.getOrElse(lookup.keyColumn)
    val dimSide = dim
      .select(col(lookup.keyColumn).cast(StringType).as(kc),
              col(valueCol).cast(StringType).as(vc))
      .where(col(kc).isNotNull)
      .groupBy(col(kc)).agg(min(col(vc)).as(vc))

    val key = col(targetCol).cast(StringType)
    var joined = df.join(dimSide, key === col(kc), "left")
    val matched = col(kc).isNotNull
    // evaluated BEFORE the value rewrite, while targetCol still holds the key
    val missed = col(targetCol).isNotNull && !matched

    // dispatch case-insensitively, but slice the default: payload from the
    // ORIGINAL string — the reference lowercases only for comparison and
    // injects the raw value (default_lookup.py on_missing block), so
    // `default:N/A` must yield "N/A", not "n/a".
    val onMissingRaw = lookup.onMissing.getOrElse("error")
    val onMissing = onMissingRaw.toLowerCase
    var abortViolationCol: Option[String] = None
    var skipFlagCol: Option[String] = None
    onMissing match {
      case "skip" =>
        if (deferSkip) {
          val flagCol = s"__lk_skip_$id"
          joined = joined.withColumn(flagCol, missed)
          skipFlagCol = Some(flagCol)
        } else joined = joined.filter(!missed)
      case "null" => ()
      case s if s.startsWith("default:") => ()
      case _ => // error (the reference's default, default_lookup.py:78)
        val violCol = s"__lk_viol_$id"
        joined = joined.withColumn(violCol, missed)
        abortViolationCol = Some(violCol)
    }
    val base = when(col(targetCol).isNull, lit(null).cast(StringType))
      .when(matched, col(vc))
    val valueExpr = onMissing match {
      case s if s.startsWith("default:") => base.otherwise(lit(onMissingRaw.split(":", 2)(1)))
      case _ => base.otherwise(lit(null).cast(StringType))
    }
    LookupResult(joined.withColumn(targetCol, valueExpr).drop(kc, vc),
      abortViolationCol, skipFlagCol)
  }

  /**
   * Compiles lookup-EXISTENCE validation (reference:
   * plugins/default_validation.py:63-91 — a per-row `SELECT 1 … LIMIT 1`
   * probe) into a single left join against the dim's distinct keys.
   * Returns the frame plus an `ok` predicate column name the caller
   * feeds into the validation-action machinery, to be dropped after.
   */
  def existenceProbe(
      df: DataFrame,
      targetCol: String,
      lookup: LookupConfig,
      dim: DataFrame): (DataFrame, String) = {
    val id = ctr.incrementAndGet()
    val kc = s"__ex_key_$id"
    val okCol = s"__ex_ok_$id"
    val dimSide = dim.select(col(lookup.keyColumn).cast(StringType).as(kc))
      .where(col(kc).isNotNull).distinct()
    val joined = df.join(dimSide, col(targetCol).cast(StringType) === col(kc), "left")
    // NULL values bypass validation (default_validation.py:17-19)
    (joined.withColumn(okCol, col(targetCol).isNull || col(kc).isNotNull).drop(kc), okCol)
  }

  /**
   * Self-lookup: re-key `targetCol` (holding an FK into THIS dataset)
   * through the dataset's own `key_column` -> `value_column`. Equivalent
   * to the reference's tmp-column + `UPDATE t SET tgt = s.val FROM t s
   * WHERE t.tmp = s.key AND s.val IS NOT NULL` + DROP COLUMN
   * (plugins/default_loader.py:109-154), in one plan. No match or NULL
   * value -> NULL (the reference nulls the column up front,
   * plugins/default_lookup.py:104-107).
   *
   * NOTE: the in-plan join sees only THIS run's rows. If the target table
   * is preloaded with other data the reference's post-write UPDATE would
   * also match those; use a post-write SQL fixup (sinks.DdlExecutor) for
   * that compat mode (SURVEY §7.5.4).
   */
  def selfLookup(df: DataFrame, targetCol: String, lookup: LookupConfig): DataFrame = {
    val id = ctr.incrementAndGet()
    val kc = s"__self_key_$id"
    val vc = s"__self_val_$id"
    val valueCol = lookup.valueColumn.getOrElse(lookup.keyColumn)
    val dimSide = df
      .select(col(lookup.keyColumn).cast(StringType).as(kc), col(valueCol).as(vc))
      .where(col(kc).isNotNull && col(vc).isNotNull)
      .groupBy(col(kc)).agg(min(col(vc)).as(vc))
    df.join(dimSide, col(targetCol).cast(StringType) === col(kc), "left")
      .withColumn(targetCol, col(vc))
      .drop(kc, vc)
  }
}
