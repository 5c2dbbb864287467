package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/**
 * Property-based invariants over generator-produced adversarial text
 * (unicode, control whitespace, punctuation runs, empties). Sampling
 * is SEEDED — the same 150 cases every run, so a failure here is a
 * real counterexample, never CI noise. Each property evaluates as ONE
 * Spark job over a single generated frame (per-case jobs would be
 * 100x slower for no extra coverage).
 */
class InvariantPropertiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.from(0)
      .map(i => g.apply(Gen.Parameters.default, Seed(42L + i)))
      .flatten.take(n).toSeq

  private val textGen: Gen[String] =
    Gen.listOf(Gen.oneOf('a', 'b', 'Z', ' ', ' ', '\t', '\n', 'é', '木',
      '!', '.', '?', '0', '9', '-')).map(_.mkString)

  private lazy val texts: Seq[String] = samples(textGen, 150) ++
    Seq("", " ", "  ", "\t\n", "a", "é é é", "same same same")

  test("normalizeForDedup and normalizeAggressive are idempotent") {
    import graft.functions.TextFunctions
    val df = texts.toDF("t")
    val bad = df.select(
        TextFunctions.normalizeForDedup(col("t")).as("n1"),
        TextFunctions.normalizeForDedup(
          TextFunctions.normalizeForDedup(col("t"))).as("n2"),
        TextFunctions.normalizeAggressive(col("t")).as("a1"),
        TextFunctions.normalizeAggressive(
          TextFunctions.normalizeAggressive(col("t"))).as("a2"))
      .filter(col("n1") =!= col("n2") || col("a1") =!= col("a2"))
      .count()
    assert(bad == 0L)
  }

  test("redactPii is idempotent: a redacted text has nothing left to redact") {
    import graft.functions.TextFunctions
    val planted = texts.zipWithIndex.map { case (t, i) =>
      s"$t user$i@example.com 10.0.0.$i 123-45-6789 +1415555$i"
    }
    val bad = planted.toDF("t")
      .select(TextFunctions.redactPii(col("t")).as("r1"))
      .withColumn("r2", TextFunctions.redactPii(col("r1")))
      .filter(col("r1") =!= col("r2")).count()
    assert(bad == 0L)
  }

  test("exactDedup is idempotent and leaves unique keys") {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val once = graft.operators.Dedup.exactDedup(df, "text", "doc_id",
      byFingerprint = true)
    val twice = graft.operators.Dedup.exactDedup(once, "text", "doc_id",
      byFingerprint = true)
    val a = once.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = twice.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b, "second dedup must be a no-op")
    assert(a.toSeq.map(_._2).distinct.size == a.size, "texts must be unique")
  }

  test("assignSplit is growth-stable: a row's split never depends on the rest") {
    val ids = (1L to 157L).toDF("doc_id")
    val splits = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val full = graft.operators.Sampling.assignSplit(ids, "doc_id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val half = graft.operators.Sampling.assignSplit(
        ids.filter(col("doc_id") % 2 === 0), "doc_id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(half.forall { case (k, v) => full(k) == v },
      "subset rows must keep their full-corpus assignment")
  }

  test("applyBpe subword counts are monotone non-increasing in the merge list") {
    import graft.operators.TextStats
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val m1 = Seq(("a", "b"))
    val m2 = m1 ++ Seq(("ab", "a"), ("0", "9"), ("é", "木"))
    val c1 = TextStats.applyBpe(df, "doc_id", "text", m1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val c2 = TextStats.applyBpe(df, "doc_id", "text", m2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(c1.keySet == c2.keySet)
    assert(c1.forall { case (k, n) => c2(k) <= n },
      "extending the merge list can only merge more")
  }

  test("phraseSearch counts equal a naive driver-side scan on adversarial text") {
    import graft.operators.TextStats
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (phrase <- Seq("a", "a b", "é é", "same same")) {
      val got = TextStats.phraseSearch(df, "doc_id", "text", phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val words = phrase.split("\\s+").toSeq
      val want = texts.zipWithIndex.flatMap { case (t, i) =>
        val toks = t.split("\\s+").filter(_.nonEmpty).toSeq
        val c = toks.sliding(words.length).count(_ == words)
        if (c > 0 && toks.length >= words.length) Some(i.toLong -> c.toLong)
        else None
      }.toMap
      assert(got == want, s"phrase '$phrase'")
    }
  }

  test("ngramNovelty is bounded, 0 against self, 1 against nothing") {
    import graft.operators.TextStats
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val self = TextStats.ngramNovelty(df, df, "doc_id", "text", n = 2)
      .collect()
    assert(self.forall(_.getDouble(3) == 0.0), "self-reference: novelty 0")
    val empty = df.filter(lit(false))
    val none = TextStats.ngramNovelty(df, empty, "doc_id", "text", n = 2)
      .collect()
    assert(none.forall(_.getDouble(3) == 1.0), "empty reference: novelty 1")
    assert(self.forall(r => r.getLong(2) <= r.getLong(1)),
      "known grams never exceed total grams")
  }

  test("Misra-Gries sketch: counts never exceed truth; heavy items survive") {
    import graft.operators.TextStats
    // adversarial token stream from the generator corpus
    val df = texts.toDF("text")
    val truth = texts.flatMap(_.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = truth.values.sum
    for (k <- Seq(2, 4, 16)) {
      val sk = TextStats.approxTopTokens(df, "text", sketchK = k, topM = k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val err = n / (k + 1)
      sk.foreach { case (t, c) =>
        assert(c <= truth(t) && c >= truth(t) - err,
          s"k=$k token '$t': stored $c, true ${truth(t)}, bound $err")
      }
      truth.filter(_._2 > err).keys.foreach(t =>
        assert(sk.contains(t), s"k=$k: heavy '$t' must survive"))
    }
  }

  test("interleaveByMixture emits every weighted row exactly once with a total order") {
    import graft.operators.Sampling
    val df = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, if (i % 3 == 0) "x" else if (i % 3 == 1) "y" else "z")
    }.toDF("doc_id", "lang")
    val out = Sampling.interleaveByMixture(df, "lang", "doc_id",
      Map("x" -> 3.0, "y" -> 1.0), seed = 7L, shards = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("stratum_rank"), r.getAs[Double]("interleave_key")))
    val in = df.filter(col("lang").isin("x", "y"))
      .select("doc_id").as[Long].collect().toSet
    assert(out.map(_._1).toSet == in && out.length == in.size,
      "row-preserving on weighted strata, z dropped")
    // keys are distinct within a stratum and monotone in rank
    for ((_, g) <- out.groupBy(_._2))
      assert(g.sortBy(_._3).map(_._4).sliding(2)
        .forall(w => w.size < 2 || w(0) < w(1)))
  }

  test("quantile sketch: rank error bounded and order-preserving at every capacity") {
    import graft.functions.QuantileSketch
    val probs = Seq(0.1, 0.5, 0.9)
    val n = 20000
    // seeded permutation of 0..n-1: value distance IS rank distance
    val xs = samples(Gen.chooseNum(0, 1 << 30), n)
      .zipWithIndex.sortBy(_._1).map(_._2.toDouble)
    val sorted = (0 until n).map(_.toDouble)
    def exact(p: Double) = sorted(math.max(1, math.ceil(p * n).toLong).toInt - 1)
    for (cap <- Seq(64, 256, 1024)) {
      val got = spark.sparkContext.parallelize(xs, 8).toDF("v")
        .agg(QuantileSketch.quantiles(col("v"), cap, probs))
        .collect()(0).getSeq[Double](0)
      // monotone in p; within the observed range; rank error shrinks
      // with capacity (loose 4x-theory bound keeps the test stable)
      assert(got.sliding(2).forall(w => w.size < 2 || w(0) <= w(1)),
        s"cap=$cap non-monotone: $got")
      assert(got.forall(v => v >= 0.0 && v <= n - 1))
      probs.zip(got).foreach { case (p, v) =>
        assert(math.abs(v - exact(p)) <= (4.0 * n) / cap,
          s"cap=$cap p=$p: $v vs ${exact(p)}")
      }
    }
  }

  test("averageHash: invariant to lossless re-encode on generated images") {
    import graft.operators.Multimodal
    val rng = new scala.util.Random(42)
    (0 until 20).foreach { i =>
      val (w, h) = (1 + rng.nextInt(40), 1 + rng.nextInt(40))
      val px = Array.fill(w * h)(rng.nextInt(1 << 24))
      def img() = {
        val m = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) m.setRGB(x, y, px(y * w + x))
        m
      }
      val direct = Multimodal.averageHash(img())
      // through the PNG container (lossless): identical raster -> identical hash
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img(), "png", bos)
      val back = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bos.toByteArray))
      assert(Multimodal.averageHash(back) == direct,
        s"case $i (${w}x$h): png round-trip changed the hash")
    }
  }

  test("asofJoin window, broadcast and skewed paths equal brute force") {
    import graft.operators.Temporal
    // seeded adversarial layout: few keys, clustered timestamps with
    // exact collisions, so ties/equal-ts/empty-side paths all occur
    val rnd = new scala.util.Random(42)
    def t(sec: Int) = new java.sql.Timestamp(1704067200000L + sec * 1000L)
    val leftRows = (1 to 120).map(i =>
      (rnd.nextInt(5).toLong, t(rnd.nextInt(40)), i.toLong))
    val rightRows = (1 to 80).map(i =>
      (rnd.nextInt(6).toLong, t(rnd.nextInt(40)), i * 1.5))
    // unique (k, ts) on the right: the deterministic contract
    val rightU = rightRows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val left = leftRows.toDF("k", "ts", "id")
    val right = rightU.toDF("k", "ts", "v")

    def brute(dir: String, tol: Option[Double]): Map[Long, Option[Double]] =
      leftRows.map { case (k, ts, id) =>
        val cands = rightU.filter(_._1 == k)
        def within(rt: java.sql.Timestamp) = tol.forall(x =>
          math.abs(ts.getTime - rt.getTime) / 1000.0 <= x)
        val back = cands.filter(r => !r._2.after(ts) && within(r._2))
          .sortBy(_._2.getTime).lastOption
        val fwd = cands.filter(r => !r._2.before(ts) && within(r._2))
          .sortBy(_._2.getTime).headOption
        val pick = dir match {
          case "backward" => back
          case "forward" => fwd
          case _ => (back, fwd) match {
            case (Some(b), Some(f)) =>
              if (ts.getTime - b._2.getTime <= f._2.getTime - ts.getTime)
                Some(b) else Some(f)
            case (b, f) => b.orElse(f)
          }
        }
        id -> pick.map(_._3)
      }.toMap

    for (dir <- Seq("backward", "forward", "nearest");
         tol <- Seq(None, Some(7.0))) {
      val want = brute(dir, tol)
      val got = Temporal.asofJoin(left, right, "k", "ts", Seq("v"),
        direction = dir, toleranceSeconds = tol)
        .collect().map(r => r.getLong(2) -> Option(r.get(4))).toMap
      assert(got == want, s"window path diverges at dir=$dir tol=$tol")
      if (dir == "backward") {
        val bc = Temporal.asofJoinBroadcast(left, right, "k", "ts", Seq("v"),
          toleranceSeconds = tol)
          .collect().map(r => r.getLong(2) -> Option(r.get(4))).toMap
        assert(bc == want, s"broadcast path diverges at tol=$tol")
      }
      if (dir != "nearest") {
        val sk = Temporal.asofJoinSkewed(left, right, "k", "ts", Seq("v"),
          direction = dir, toleranceSeconds = tol, numBuckets = 7)
          .collect().map(r => r.getLong(2) -> Option(r.get(4))).toMap
        assert(sk == want, s"bucketed skew path diverges at dir=$dir tol=$tol")
      }
    }
  }

  test("skew-family property: scd2/rolling/resample bucketed paths equal brute force") {
    import graft.operators.{Temporal, Windowed}
    // seeded frame: 5 keys, dense ts collisions (duplicate (k, ts)
    // pairs with distinct ties), exact-integer values so rounding can
    // never blur a real divergence
    val rnd = new scala.util.Random(1234)
    val rows = (0 until 160).map { i =>
      val k = 1L + rnd.nextInt(5)
      val ts = new java.sql.Timestamp(
        1700000000000L + rnd.nextInt(200000) * 1000L)
      (k, ts, rnd.nextInt(23).toDouble,
        ('a' + rnd.nextInt(3)).toChar.toString, i.toLong)
    }
    val df = rows.toDF("k", "ts", "v", "s", "tie")

    // ---- SCD2: dedup max-tie per ts, collapse equal values, half-open
    val scd2Want: Set[(Long, Long, Option[Long], String, Long)] =
      rows.groupBy(_._1).flatMap { case (k, rs) =>
        val dedup = rs.groupBy(_._2).toSeq
          .map { case (ts, g) => (ts, g.maxBy(_._5)._4) }
          .sortBy(_._1.getTime)
        val kept = dedup.zipWithIndex.collect {
          case ((ts, s), i) if i == 0 || dedup(i - 1)._2 != s => (ts, s)
        }
        kept.zipWithIndex.map { case ((vf, s), i) =>
          (k, vf.getTime, kept.lift(i + 1).map(_._1.getTime), s,
            (i + 1).toLong)
        }
      }.toSet
    def scd2Got(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        Option(r.getTimestamp(2)).map(_.getTime), r.getString(3),
        r.getLong(4))).toSet
    assert(scd2Got(Temporal.changeIntervals(df, "k", "ts", "s",
      Some("tie"))) == scd2Want, "plain SCD2 diverges from brute force")
    for (nb <- Seq(2, 7, 31))
      assert(scd2Got(Temporal.changeIntervalsSkewed(df, "k", "ts", "s",
        Some("tie"), nb)) == scd2Want, s"bucketed SCD2 diverges at nb=$nb")

    // ---- rolling: nRows-frame stats in (ts, tie) order
    def rollWant(n: Int): Map[Long, (Double, Double, Double, Long)] =
      rows.groupBy(_._1).flatMap { case (_, rs) =>
        val sorted = rs.sortBy(r => (r._2.getTime, r._5))
        sorted.zipWithIndex.map { case (r, i) =>
          val w = sorted.slice(math.max(0, i - n + 1), i + 1).map(_._3)
          val avg = BigDecimal(w.sum / w.size)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          r._5 -> ((avg, w.min, w.max, w.size.toLong))
        }
      }
    def rollGot(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(2) -> ((r.getDouble(4),
        r.getDouble(5), r.getDouble(6), r.getLong(7)))).toMap
    for (n <- Seq(1, 4)) {
      val want = rollWant(n)
      assert(rollGot(Windowed.rollingAgg(df, "k", "ts", "v", n, "tie"))
        == want, s"plain rolling diverges from brute force at n=$n")
      for (nb <- Seq(2, 7, 31))
        assert(rollGot(Windowed.rollingAggSkewed(df, "k", "ts", "v", n,
          "tie", nb)) == want, s"bucketed rolling diverges at n=$n nb=$nb")
    }

    // ---- resample: unique-(k, ts) log (max-tie value), daily grid,
    // backward fill
    val logU = rows.groupBy(r => (r._1, r._2)).map { case ((k, ts), g) =>
      (k, ts, g.maxBy(_._5)._3)
    }.toSeq
    val logDf = logU.toDF("k", "ts", "v")
    def dayTrunc(ms: Long): Long = ms - math.floorMod(ms, 86400000L)
    val resWant: Set[(Long, Long, Option[Long], Option[Double])] =
      logU.groupBy(_._1).flatMap { case (k, rs) =>
        val lo = dayTrunc(rs.map(_._2.getTime).min)
        val hi = dayTrunc(rs.map(_._2.getTime).max)
        (lo to hi by 86400000L).map { g =>
          val m = rs.filter(_._2.getTime <= g).sortBy(_._2.getTime)
            .lastOption
          (k, g, m.map(_._2.getTime), m.map(_._3))
        }
      }.toSet
    def resGot(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        Option(r.getTimestamp(2)).map(_.getTime),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    assert(resGot(Temporal.resampleLocf(logDf, "k", "ts", Seq("v"), "day"))
      == resWant, "plain resample diverges from brute force")
    for (nb <- Seq(2, 7, 31))
      assert(resGot(Temporal.resampleLocfSkewed(logDf, "k", "ts", Seq("v"),
        "day", numBuckets = nb)) == resWant,
        s"bucketed resample diverges at nb=$nb")
  }

  test("byte-BPE decode/offsets invariants over adversarial unicode (r18)") {
    import graft.functions.{ByteBpeDecode, ByteBpeEncode}
    val merges = Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
      ("69", "6E"), ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
    // widen the alphabet: 4-byte astral chars + combining marks join
    // the base generator's multi-byte set
    val wide = texts.zipWithIndex.map { case (t, i) =>
      if (i % 3 == 0) t + "😀" else if (i % 3 == 1) "é" + t
      else t
    }
    val df = wide.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    // decode(encode(t)) == t, and offsets tile len(utf8(t)) exactly,
    // evaluated as ONE job
    val bad = df.select(col("id"), col("t"),
        ByteBpeDecode.byteBpeDecode(
          ByteBpeEncode.byteBpeIds(col("t"), merges), merges).as("rt"),
        coalesce(element_at(
          ByteBpeEncode.byteBpeOffsets(col("t"), merges), -1), // last span
          struct(lit(0L).as("token_id"), lit(0L).as("byte_start"),
            lit(0L).as("byte_len"))).as("last"))
      .filter(col("rt") =!= col("t") ||
        (col("last").getField("byte_start") + col("last").getField("byte_len"))
          =!= length(encode(col("t"), "UTF-8")))
      .count()
    assert(bad == 0L,
      "decode must invert encode and offsets must tile the UTF-8 bytes " +
        "on every adversarial sample")
  }

  test("packed token stream: brute-force replay at random geometries (r17)") {
    // the r17 token-stream family against a driver-side brute force:
    // encode every doc + eos, concat per shard in id order, chop —
    // the packed windows, their spans, and the per-doc surfaces must
    // all tile back to that exact stream at EVERY (budget, shards)
    import graft.operators.TextStats
    val merges = Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
      ("69", "6E"), ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
    val eos = 256L + merges.size
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // reference: one collect of the per-doc kernel ids
    val perDoc = docs.select(col("doc_id"),
        graft.functions.ByteBpeEncode.byteBpeIds(col("text"), merges)
          .as("ids"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1) :+ eos))
      .sortBy(_._1)
    for ((budget, shards) <- Seq((3, 1), (7, 2), (16, 5), (64, 3))) {
      val streams = perDoc.groupBy(_._1 % shards)
        .map { case (sh, ds) => sh -> ds.sortBy(_._1).flatMap(_._2).toSeq }
      // windows
      val got = TextStats.materializePackedTokenIds(docs, "doc_id", "text",
          merges, budget, shards)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
      val want = streams.flatMap { case (sh, st) =>
        st.grouped(budget).zipWithIndex.map { case (w, i) =>
          (sh, i.toLong) -> w.toSeq }
      }.toMap
      assert(got == want, s"windows diverge at budget=$budget shards=$shards")
      // spans tile the same windows
      val spans = TextStats.packedDocSpans(docs, "doc_id", "text", merges,
          budget, shards)
        .collect().groupBy(r => (r.getLong(0), r.getLong(1)))
        .map { case (k, rs) => k -> rs.map(_.getLong(4)).sum }
      assert(spans == want.map { case (k, w) => k -> w.length.toLong },
        s"span totals diverge at budget=$budget shards=$shards")
      // r18 READER closure: unpack(windows, spans) must return every
      // doc's ids + eos at EVERY geometry — the reader works against
      // the same brute-force reference, not just the packer's output
      val unpacked = TextStats.unpackTokenWindows(
          TextStats.materializePackedTokenIds(docs, "doc_id", "text",
            merges, budget, shards),
          TextStats.packedDocSpans(docs, "doc_id", "text", merges,
            budget, shards))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(unpacked == perDoc.toMap,
        s"unpack(pack) diverges at budget=$budget shards=$shards")
    }
  }
}
