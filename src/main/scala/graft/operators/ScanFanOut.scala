package graft.operators

import org.apache.spark.sql.DataFrame
import scala.util.control.NonFatal

/**
 * CPU-dense scan FAN-OUT — guide §2.5's "input skew: one huge
 * unsplittable file ... repartition immediately after the read",
 * applied where graft's per-row kernels (byte-BPE encode ~0.5–2 MB/s
 * per core, Viterbi segmentation, n-gram scoring) are orders of
 * magnitude slower than a shuffle of the same bytes.
 *
 * The problem it solves: a parquet scan parallelizes at ROW-GROUP
 * granularity, so a small input (one file, one row group — or a
 * gzip'd JSONL drop at any size) plans as ONE scan task no matter how
 * many cores the cluster has, and every row-local kernel downstream
 * of it serializes onto one core (measured: the chat pack family's
 * count-encode and cells-encode stages each ran 1-task × 1.1–2.9 s on
 * a 32-core session — 31 cores idle). File-split configs
 * (`maxPartitionBytes`, `openCostInBytes`, `minPartitionNum`) cannot
 * fix this class: splitting a one-row-group file produces one real
 * split and N−1 empty ones (measured and rejected in r21).
 *
 * The fix: ONE round-robin repartition of the (projected) rows before
 * the expensive projection. Catalyst's column pruning inserts the
 * narrow Project BELOW the exchange, so the shuffle carries only the
 * columns the kernel reads, and the kernel expression itself stays
 * ABOVE the exchange — the encode runs post-shuffle at full
 * parallelism. Cost model: shuffling X bytes at disk/loopback speed
 * is ~1-2% of encoding the same X bytes, so the trade is favorable
 * whenever the scan is under-parallelized at all.
 *
 * SCALE-ADAPTIVE, not a local-mode tune: the fan-out fires only when
 * the optimizer's size estimate for the input is at most
 * [[ScanFanOut.MaxBytes]] (256 MB). At production scale a 100 TB
 * corpus estimates far above it and the operator is a no-op (zero
 * plan change); unknown estimates default to Long.MaxValue
 * sizeInBytes and likewise skip. Correctness: the
 * repartition only permutes rows of row-local / key-keyed operators
 * whose outputs are order-insensitive (pack geometry keys on doc_id,
 * window assembly array_sorts, aggregates commute), and Spark's
 * sort-before-repartition keeps the assignment deterministic under
 * task retry (SPARK-23207).
 */
object ScanFanOut {
  /** The largest estimated input size that still fans out. */
  private[graft] val MaxBytes: Long = 256L * 1024 * 1024

  /** An optimizer size estimate; a non-fatal failure to estimate reads
    * as unknown (Long.MaxValue, so the fan-out skips), fatal errors and
    * interrupts propagate. */
  private[graft] def sizeEstimate(stats: => BigInt): BigInt =
    try stats catch { case NonFatal(_) => BigInt(Long.MaxValue) }

  /** `df` repartitioned to the session's default parallelism when its
    * optimizer size estimate is small enough that a one-task scan
    * would serialize the downstream kernel; `df` unchanged otherwise.
    * Idempotent: a frame that already carries a >= cores round-robin
    * repartition (an upstream fan-out — e.g. the query fanned the
    * source before building derived columns) is NOT re-shuffled. A
    * streaming frame is returned unchanged. */
  private[graft] def apply(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (cores <= 1 || df.isStreaming) df
    else {
      val fanned = df.queryExecution.analyzed.exists {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition =>
          r.shuffle && r.numPartitions >= cores
        case _ => false
      }
      // optimizedPlan.stats is driver-side estimation only (no jobs);
      // unknown sizes surface as defaultSizeInBytes = Long.MaxValue
      // and skip the fan-out — the safe failure mode.
      val est = sizeEstimate(df.queryExecution.optimizedPlan.stats.sizeInBytes)
      if (!fanned && est <= BigInt(MaxBytes)) df.repartition(cores) else df
    }
  }
}
