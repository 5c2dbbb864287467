package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Bridge into the `private[sql]` Column <-> Expression conversions, so
 * graft's native Catalyst expressions (e.g. graft.functions.DotProduct)
 * can be used as Columns without registering session extensions — the
 * standard technique for Spark extension libraries that ship custom
 * expressions (Spark 4 removed the public Column(Expression)
 * constructor in the Connect refactor). It also holds the two other
 * `private[sql]`/`private[spark]` reads graft needs: a non-blocking
 * Observation read and a frame without its top-level Sort.
 */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Non-blocking observation read (`Observation.getOrEmpty` is
    * `private[spark]`; the public `get` blocks forever on a frame that
    * never executed).
    *
    * Null-schema guard: when AQE's empty-relation propagation replaces
    * the whole subtree (a query whose FINAL result is empty), Spark
    * completes the observation promise with a schema-less row and
    * `getOrEmpty` NPEs converting it to a map (measured: an observe →
    * filter → self-join plan whose join output is empty loses its
    * metrics this way even though the observe stage's shuffle ran).
    * Return the empty map instead — callers must treat "no metrics" as
    * "no signal", not "zero drops".
    *
    * Bounded retry: the metrics listener fires ASYNCHRONOUSLY after the
    * action returns and `getOrEmpty` itself waits only ~100 ms, so on a
    * loaded JVM a read right after `collect()` can race it. Poll up to
    * `maxWaitMs` (default ~3 s); a frame that never executed still
    * returns empty (bounded, unlike the forever-blocking public `get`).
    * Callers that EXPECT a possible no-signal state (e.g. a broadcast
    * blocking subplan, whose promise never completes) can pass a small
    * `maxWaitMs` to avoid paying the full poll on every read. */
  def observationGetOrEmpty(o: Observation, maxWaitMs: Long = 3000): Map[String, Any] = {
    var left = math.max(1L, maxWaitMs / 100)
    while (left > 0) {
      val m = try o.getOrEmpty catch { case _: NullPointerException => return Map.empty }
      if (m.nonEmpty) return m
      left -= 1
      if (left > 0) Thread.sleep(100)
    }
    Map.empty
  }

  /** The frame without its top-level global Sort, if any (else the
    * frame unchanged). Bench uses this to time the operator rather than
    * the deterministic-output wrapper: a global `orderBy` adds a
    * RangePartitioning exchange whose bounds-sampling pass executes the
    * child an EXTRA time, roughly doubling the measured cost of every
    * expensive projection (VERDICT r5 #6). Verify keeps the sort — the
    * driver's row-hash comparison needs deterministic row order.
    * (`classic.Dataset.ofRows` is `private[sql]`, hence the bridge.) */
  def withoutTopLevelSort(df: Dataset[Row]): Dataset[Row] =
    df.queryExecution.analyzed match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global =>
        classic.Dataset.ofRows(
          df.sparkSession.asInstanceOf[classic.SparkSession], s.child)
      case _ => df
    }
}
