package graft

import graft.plans.KeyProbes
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KeyProbesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("heavyKeyExists: exact probe, NULL keys counted, empty input safe") {
    val skewed = Seq((Some(1L), 1), (Some(1L), 2), (Some(1L), 3), (Some(2L), 4))
      .toDF("k", "x")
    assert(KeyProbes.heavyKeyExists(skewed, "k", 0.75))
    assert(!KeyProbes.heavyKeyExists(skewed, "k", 0.8))
    val nulls = Seq((Option.empty[Long], 1), (Option.empty[Long], 2),
      (Some(3L), 3)).toDF("k", "x")
    assert(KeyProbes.heavyKeyExists(nulls, "k", 0.5),
      "a monster NULL key serializes the window exactly like any other")
    assert(!KeyProbes.heavyKeyExists(
      Seq.empty[(Long, Int)].toDF("k", "x"), "k", 0.1))
  }

  test("heavyKeyExistsSampled: identical routing to exact on planted and uniform frames") {
    // planted 60%-share monster key, large enough that the 2% sample
    // clears the minSample floor — sampled and exact must agree, and
    // the estimate sits ~25 standard errors from the 0.25 threshold
    val monster = spark.range(120000).select(
      when(col("id") % 5 < 3, lit(7L)).otherwise(col("id") % 997).as("k"))
    assert(KeyProbes.heavyKeyExists(monster, "k", 0.25))
    assert(KeyProbes.heavyKeyExistsSampled(monster, "k", 0.25),
      "sampled probe must route the 60% key exactly like the exact probe")
    val uniform = spark.range(120000).select((col("id") % 997).as("k"))
    assert(!KeyProbes.heavyKeyExists(uniform, "k", 0.25))
    assert(!KeyProbes.heavyKeyExistsSampled(uniform, "k", 0.25),
      "sampled probe must keep uniform keys on the plain plan")
    // an empty sample = the frame is far too small for any key to
    // serialize a task — the probe answers false (plain plan) in one
    // job; routing is a wall-clock choice, so this cannot be wrong
    val tiny = Seq((1L, 1), (1L, 2), (1L, 3), (2L, 4)).toDF("k", "x")
    assert(!KeyProbes.heavyKeyExistsSampled(tiny, "k", 0.75),
      "a 4-row frame never routes to the bucketed plan")
    // a small-but-sampled monster frame still decides correctly in one
    // job: the 3σ band is miles below a 60% estimate at share=0.25
    val smallMonster = spark.range(3000).select(
      when(col("id") % 5 < 3, lit(7L)).otherwise(col("id") % 97).as("k"))
    assert(KeyProbes.heavyKeyExistsSampled(smallMonster, "k", 0.25))
    // the memoized front door probes once per (plan, key, thresholds):
    // the second call answers from the cache without launching a job
    val before = KeyProbes.probeCacheSize
    assert(KeyProbes.heavyKeyProbeCached(smallMonster, "k", 0.25))
    assert(KeyProbes.probeCacheSize == before + 1)
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(KeyProbes.heavyKeyProbeCached(smallMonster, "k", 0.25))
      Thread.sleep(300)
      assert(jobs == 0, s"cached probe must not launch a job, saw $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    // near-threshold band: a 25%-share key probed at share=0.25 lands
    // inside ±margin and must fall back to the exact answer
    val edge = spark.range(100000).select(
      when(col("id") % 4 === 0, lit(7L)).otherwise(col("id") % 997).as("k"))
    assert(KeyProbes.heavyKeyExistsSampled(edge, "k", 0.25) ==
      KeyProbes.heavyKeyExists(edge, "k", 0.25),
      "inside the margin band the sampled probe defers to exact")
  }

  test("distinctKeysAtLeastSampled: cardinality routing from a BOUNDED probe input (r19, VERDICT r18 #2)") {
    val uniform = spark.range(40000).select((col("id") % 20000).as("k"))
    // 20k distinct: clears a 100-key threshold, not a 1M-key one
    assert(KeyProbes.distinctKeysAtLeastSampled(uniform, "k", 100L),
      "20k distinct keys must clear a 100-key threshold")
    assert(!KeyProbes.distinctKeysAtLeastSampled(uniform, "k", 1000000L),
      "20k distinct keys must not clear a 1M-key threshold")
    // THE input bound: the probe aggregates the deterministic ~2%
    // hash sample, never the frame — pin the sample's size directly
    val probed = KeyProbes.distinctProbeFrame(uniform, "k", 0.02).count()
    assert(probed > 0 && probed < 40000 / 10,
      s"the probe must sketch a bounded (~2%) sample, saw $probed of 40000 rows")
    // an empty/tiny sample = the frame is tiny: plain plan, one job
    val tiny = spark.range(5).select(col("id").as("k"))
    assert(!KeyProbes.distinctKeysAtLeastSampled(tiny, "k", 1000000L),
      "a 5-row frame never routes to the sharded plan")
    // repeat-heavy frames err toward the sharded plan, never the
    // single-task one: distinct-in-sample approaches D itself, so the
    // decision boundary (threshold x fraction) can only over-route
    val repeats = spark.range(200000).select((col("id") % 5000).as("k"))
    assert(KeyProbes.distinctKeysAtLeastSampled(repeats, "k", 5000L),
      "a frame AT the threshold must take the safe (sharded) side")
    // the memoized front door answers from the cache on the second call
    val before = KeyProbes.probeCacheSize
    assert(KeyProbes.distinctKeysProbeCached(uniform, "k", 100L))
    assert(KeyProbes.probeCacheSize == before + 1)
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(KeyProbes.distinctKeysProbeCached(uniform, "k", 100L))
      Thread.sleep(300)
      assert(jobs == 0, s"cached probe must not launch a job, saw $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
