package graft

import graft.operators.Preference
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class PreferenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val convType = ArrayType(StructType(Seq(
    StructField("role", StringType), StructField("content", StringType))))
  private val pairSchema = StructType(Seq(
    StructField("id", LongType), StructField("prompt", convType),
    StructField("chosen", StringType), StructField("rejected", StringType)))

  private def t(r: String, c: String) = Row(r, c)

  private def pairs(rows: (Long, Seq[Row], String, String)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map {
        case (i, p, c, r) => Row(i, p, c, r) }),
      pairSchema)

  test("validatePairs flags each structural defect independently") {
    val df = pairs(
      (1L, Seq(t("user", "q")), "good", "bad"),                  // all ok
      (2L, Seq.empty[Row], "a", "b"),                            // no prompt
      (3L, Seq(t("user", "q"), t("assistant", "a")), "x", "y"),  // ends assistant
      (4L, Seq(t("assistant", "hi"), t("user", "q")), "x", "y"), // starts assistant
      (5L, Seq(t("user", "q")), "Same  Answer", "same answer"),  // equal pair
      (6L, Seq(t("user", "q")), "  ", "b"),                      // blank chosen
      (7L, Seq(t("system", "s"), t("user", "q")), "x", "y"))     // system prefix ok
    val got = Preference.validatePairs(df, "prompt", "chosen", "rejected")
      .select("id", "has_prompt", "prompt_starts_user", "prompt_ends_user",
        "distinct_pair", "nonempty_chosen", "pair_ok")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
          r.getBoolean(4), r.getBoolean(5), r.getBoolean(6))).toMap
    assert(got(1L) == ((true, true, true, true, true, true)))
    assert(got(2L)._1 == false && got(2L)._6 == false)
    assert(got(3L)._3 == false, "assistant-final prompt is not awaiting")
    assert(got(4L)._2 == false)
    assert(got(5L)._4 == false, "case/whitespace-equal pair is not distinct")
    assert(got(6L)._5 == false)
    assert(got(7L) == ((true, true, true, true, true, true)),
      "leading system turn is allowed")
  }

  test("validatePairConvs checks shared prefix and distinct finals") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("a", convType), StructField("b", convType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Seq(t("user", "q"), t("assistant", "x")),
        Seq(t("user", "q"), t("assistant", "y"))),
      Row(2L, Seq(t("user", "q"), t("assistant", "x")),
        Seq(t("user", "q2"), t("assistant", "y"))),
      Row(3L, Seq(t("user", "q"), t("assistant", "x")),
        Seq(t("user", "q"), t("assistant", "X  "))),
      Row(4L, Seq(t("assistant", "x")), Seq(t("assistant", "y"))),
      Row(5L, Seq.empty[Row], Seq.empty[Row]))), schema)
    val got = Preference.validatePairConvs(df, "a", "b")
      .select("id", "shares_prefix", "distinct_final", "pair_conv_ok")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(got(1L) == ((true, true, true)))
    assert(got(2L)._1 == false, "tampered prompt turn")
    assert(got(3L)._2 == false, "case/whitespace-equal finals")
    assert(got(4L) == ((true, true, true)), "single-turn empty prefix")
    assert(got(5L) == ((false, false, false)), "empty sides")
  }

  test("dedupPairs collapses on (prompt, chosen), ignores rejected") {
    val p = Seq(t("user", "q"))
    val df = pairs(
      (1L, p, "win", "lose1"),
      (2L, p, "win", "lose2"),   // same prompt+chosen, different loser
      (3L, p, "WIN  ", "x"),     // same under the canon
      (4L, p, "other", "x"),     // different chosen
      (5L, Seq(t("user", "q2")), "win", "x")) // different prompt
    val got = Preference.dedupPairs(df, "id", "prompt", "chosen")
      .select("id", "n_copies").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 4L -> 1L, 5L -> 1L))
  }

  test("dedupPairs: empty chosen falls back to singleton id families") {
    val df = pairs(
      (1L, Seq(t("user", "q")), "", "x"),
      (2L, Seq(t("user", "q")), "  ", "y"),
      (3L, Seq(t("user", "q")), null, "z"))
    val got = Preference.dedupPairs(df, "id", "prompt", "chosen").collect()
    assert(got.length == 3 && got.forall(_.getAs[Long]("n_copies") == 1L),
      "no-evidence pairs never collapse into one skewed family")
  }

  // ---- reference dedup: the per-family WINDOW formulation (min id and
  // family count over a partition on the normalized (prompt, chosen);
  // empty-chosen rows partition on their own id), kept here to pin the
  // operator's one-pass exemplar aggregate against an independent plan
  private def windowDedup(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__pn"),
      col("__cn"), when(col("__cn") === "", col("id")))
    df.withColumn("__pn", Preference.promptNorm("prompt"))
      .withColumn("__cn", Preference.respNorm(col("chosen")))
      .withColumn("__keep", min(col("id")).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .filter(col("id") === col("__keep"))
      .select(df.columns.map(col) :+ col("n_copies"): _*)
  }

  test("dedupPairs equals the window reference on the fixture and a monster family") {
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "n_copies").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
    // planted-fixture parity (canonicalization + no-evidence singletons)
    val p = Seq(t("user", "q"))
    val fixture = pairs(
      (1L, p, "win", "lose1"), (2L, p, "win", "lose2"), (3L, p, "WIN  ", "x"),
      (4L, p, "other", "x"), (5L, Seq(t("user", "q2")), "win", "x"),
      (6L, p, "", "x"), (7L, p, null, "y"))
    assert(asSet(Preference.dedupPairs(fixture, "id", "prompt", "chosen")) ==
      asSet(windowDedup(fixture)))
    // monster family: 60% of 20k pairs share (prompt, chosen)
    val big = spark.range(20000).select(col("id"),
      array(struct(lit("user").as("role"), lit("q").as("content"))).as("prompt"),
      when(col("id") % 5 < 3, lit("the winning answer"))
        .otherwise(concat(lit("w"), col("id"))).as("chosen"),
      lit("lose").as("rejected"))
    val want = asSet(windowDedup(big))
    assert(want.contains(0L -> 12000L), "fixture sanity: monster family kept at min id")
    val kept = Preference.dedupPairs(big, "id", "prompt", "chosen")
    assert(asSet(kept) == want, "the exemplar aggregate diverges from the window reference")
    assert(!PlanWalk.nodes(kept).map(_.nodeName.toLowerCase)
      .exists(_.contains("window")),
      "one-pass aggregate plan must not contain a window")
  }

  test("dedupPairs refuses a pre-existing n_copies column") {
    val df = pairs((1L, Seq(t("user", "q")), "a", "b"))
      .withColumn("n_copies", lit(9))
    intercept[IllegalArgumentException] {
      Preference.dedupPairs(df, "id", "prompt", "chosen")
    }
  }

  test("pairsFromScored: best vs worst per prompt, deterministic ties") {
    val scoredSchema = StructType(Seq(
      StructField("rid", LongType), StructField("prompt", convType),
      StructField("resp", StringType), StructField("score", DoubleType)))
    val p1 = Seq(t("user", "q1")); val p2 = Seq(t("user", "q2"))
    val p3 = Seq(t("user", "q3")); val p4 = Seq(t("user", "q4"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      // p1: clear best/worst plus a top-score TIE -> lowest id wins
      Row(1L, p1, "tied-a", 9.0), Row(2L, p1, "tied-b", 9.0),
      Row(3L, p1, "worst", 1.0),
      // p2: zero separation -> no pair
      Row(4L, p2, "same", 5.0), Row(5L, p2, "also", 5.0),
      // p3: single response -> no pair
      Row(6L, p3, "alone", 7.0),
      // p4: worst-side tie -> lowest id wins there too
      Row(7L, p4, "best", 8.0),
      Row(8L, p4, "low-a", 2.0), Row(9L, p4, "low-b", 2.0))), scoredSchema)
    val got = Preference.pairsFromScored(df, "rid", "prompt", "resp", "score")
      .select("pair_id", "chosen", "rejected", "chosen_score",
        "rejected_score", "n_candidates")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5)))).toMap
    assert(got.keySet == Set(1L, 7L),
      "no-separation and singleton families emit nothing")
    assert(got(1L) == (("tied-a", "worst", 9.0, 1.0, 3L)),
      "top-score tie goes to the lowest response id")
    assert(got(7L) == (("best", "low-a", 8.0, 2.0, 3L)),
      "bottom-score tie goes to the lowest response id")
  }

  test("splitPairsLeakSafe sends all pairs of a prompt to one slice") {
    val rows = (1L to 40L).map { i =>
      val promptId = (i % 10).toString // 10 prompts, 4 pairs each
      (i, Seq(t("user", s"question $promptId")), s"c$i", s"r$i")
    }
    val out = Preference.splitPairsLeakSafe(pairs(rows: _*), "prompt",
      Seq("train" -> 0.5, "test" -> 0.5))
      .withColumn("pkey", col("prompt")(0).getField("content"))
      .select("pkey", "split").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSet)
    assert(out.values.forall(_.size == 1),
      "a prompt family must never straddle slices")
    assert(out.values.flatten.toSet.size == 2, "both slices used")
  }
}
