package graft

import graft.operators.Chat
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class ChatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val convType = ArrayType(StructType(Seq(
    StructField("role", StringType), StructField("content", StringType))))
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("conv", convType)))

  private def conv(turns: (String, String)*): Seq[Row] =
    turns.map { case (r, c) => Row(r, c) }

  private def frame(rows: (Long, Seq[Row])*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, c) => Row(i, c) }),
      schema)

  private lazy val planted = frame(
    1L -> conv("user" -> "hi there", "assistant" -> "hello friend"),
    2L -> conv("system" -> "be terse", "user" -> "hi", "assistant" -> "yo"),
    3L -> conv("assistant" -> "i speak first"),               // bad start
    4L -> conv("user" -> "a", "user" -> "b", "assistant" -> "c"), // nonalternating
    5L -> conv("user" -> "q", "assistant" -> "ans", "user" -> "thanks"), // bad end
    6L -> conv("user" -> "q", "assistant" -> "   "),          // empty turn
    7L -> conv("user" -> "q", "tool" -> "x", "assistant" -> "a"), // bad role
    8L -> Seq.empty[Row])                                     // empty conv

  test("validateChat flags each structural defect independently") {
    val v = Chat.validateChat(planted, "conv")
      .select("id", "chat_ok", "starts_user", "alternates",
        "ends_assistant", "has_empty_turn", "has_bad_role")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
          r.getBoolean(4), r.getBoolean(5), r.getBoolean(6))).toMap
    assert(v(1L) == ((true, true, true, true, false, false)))
    assert(v(2L) == ((true, true, true, true, false, false)),
      "leading system prompt is allowed")
    assert(!v(3L)._1 && !v(3L)._2, "assistant-first fails starts_user")
    assert(!v(4L)._1 && !v(4L)._3, "user,user breaks alternation")
    assert(!v(5L)._1 && !v(5L)._4, "trailing user turn fails ends_assistant")
    assert(!v(6L)._1 && v(6L)._5, "blank content flags has_empty_turn")
    assert(!v(7L)._1 && v(7L)._6, "role 'tool' flags has_bad_role")
    assert(v(8L) == ((false, false, true, false, false, false)),
      "empty conversation: vacuous alternation, everything else fails")
  }

  test("extraRoles admits tool turns as out-of-band (function calling)") {
    val toolConv = frame(1L -> conv("user" -> "weather in oslo?",
      "assistant" -> "calling weather()", "tool" -> "{\"temp\": 4}",
      "assistant" -> "it is 4 degrees"))
    // classic contract: tool is a bad role
    val strict = Chat.validateChat(toolConv, "conv").collect()(0)
    assert(strict.getAs[Boolean]("has_bad_role") &&
      !strict.getAs[Boolean]("chat_ok"))
    // with the extra role: tool joins the vocabulary and occupies the
    // non-assistant alternation slot — user,assistant,tool,assistant
    // has no equal-role adjacency
    val tool = Chat.validateChat(toolConv, "conv", extraRoles = Seq("tool"))
      .collect()(0)
    assert(!tool.getAs[Boolean]("has_bad_role") &&
      tool.getAs[Boolean]("alternates") && tool.getAs[Boolean]("chat_ok"),
      "a tool-call transcript is valid under the extended vocabulary")
    // back-to-back assistant turns still flag under the extension
    val broken = frame(3L -> conv("user" -> "q", "assistant" -> "a1",
      "assistant" -> "a2"))
    assert(!Chat.validateChat(broken, "conv", extraRoles = Seq("tool"))
      .collect()(0).getAs[Boolean]("alternates"))
    val emptyTool = frame(2L -> conv("user" -> "q",
      "assistant" -> "call", "tool" -> "  ", "assistant" -> "a"))
    val et = Chat.validateChat(emptyTool, "conv", extraRoles = Seq("tool"))
      .collect()(0)
    assert(et.getAs[Boolean]("has_empty_turn") && !et.getAs[Boolean]("chat_ok"),
      "an empty tool result is still an empty turn")
  }

  test("NULL turn content counts as empty: flagged, zero tokens") {
    val withNull = frame(1L -> Seq(Row("user", "hi"), Row("assistant", null)))
    val v = Chat.validateChat(withNull, "conv").collect()(0)
    assert(v.getAs[Boolean]("has_empty_turn") && !v.getAs[Boolean]("chat_ok"),
      "NULL content must flag has_empty_turn, not slip past the check")
    val s = Chat.chatStats(withNull, "conv").collect()(0)
    assert(s.getAs[Long]("n_assistant_tokens") == 0L &&
      s.getAs[Long]("n_user_tokens") == 1L,
      "NULL content is 0 tokens, never legacy size(NULL) = -1")
    // render keeps the turn (role marker + empty body) so the rendered
    // text stays aligned with the span chatTokenSpans emits for it —
    // concat's NULL propagation + array_join's NULL-skip used to drop
    // the whole turn
    val r = Chat.renderChat(withNull, "conv")
      .select("rendered").collect()(0).getString(0)
    assert(r == "<|user|>\nhi<|end|>\n<|assistant|>\n<|end|>\n",
      "NULL content renders as an empty turn, not a vanished one")
    val spans = Chat.chatTokenSpans(withNull, "id", "conv").collect()
    assert(spans.length == 2 && spans(1).getAs[Long]("n_turn_tokens") == 0L,
      "span row for the NULL-content turn still exists and is empty")
  }

  test("decontaminateChat drops conversations sharing an n-gram with eval") {
    import spark.implicits._
    val convs = frame(
      1L -> conv("user" -> "the quick brown fox", "assistant" -> "jumps over dogs"),
      2L -> conv("user" -> "totally unrelated words", "assistant" -> "none shared"),
      // the eval 3-gram spans a TURN boundary in the flattened stream
      3L -> conv("user" -> "ends with the quick", "assistant" -> "brown fox starts"))
    val eval_ = Seq((100L, "we saw the quick brown fox yesterday")).toDF("eid", "etext")
    val kept = Chat.decontaminateChat(convs, "id", "conv", eval_, "eid", "etext", n = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L),
      "doc 1 shares 'the quick brown'; doc 3 shares it ACROSS turns")
  }

  test("scrubChatTurns cuts eval windows inside turns, preserves the rest") {
    import spark.implicits._
    val convs = frame(
      1L -> conv("user" -> "please quote the secret eval answer here",
        "assistant" -> "sure thing boss"),
      2L -> conv("user" -> "clean question", "assistant" -> "clean answer"),
      8L -> Seq.empty[Row])
    val eval_ = Seq((1L, "the secret eval answer")).toDF("eid", "etext")
    val out = Chat.scrubChatTurns(convs, "id", "conv", eval_, "eid", "etext", n = 4)
      .select("id", "conv").collect().map(r => r.getLong(0) ->
        r.getSeq[Row](1).map(t => (t.getString(0), t.getString(1)))).toMap
    assert(out(1L) == Seq("user" -> "please quote here",
      "assistant" -> "sure thing boss"),
      "only the covered window is cut; roles and order survive")
    assert(out(2L) == Seq("user" -> "clean question",
      "assistant" -> "clean answer"), "untouched turns are byte-identical")
    assert(out(8L).isEmpty, "empty conversations pass through as empty")
  }

  test("dedupByAssistant refuses an input that already has n_copies") {
    val withCol = planted.withColumn("n_copies", lit(7))
    intercept[IllegalArgumentException] {
      Chat.dedupByAssistant(withCol, "id", "conv")
    }
  }

  test("renderChat flattens in order with the ChatML-shaped template") {
    val r = Chat.renderChat(planted.filter(col("id") === 2), "conv")
      .select("rendered").collect()(0).getString(0)
    assert(r ==
      "<|system|>\nbe terse<|end|>\n<|user|>\nhi<|end|>\n<|assistant|>\nyo<|end|>\n")
    val empty = Chat.renderChat(planted.filter(col("id") === 8), "conv")
      .select("rendered").collect()(0).getString(0)
    assert(empty == "")
  }

  test("chatStats counts turns and tokens by role") {
    val s = Chat.chatStats(planted.filter(col("id") === 2), "conv")
      .select("n_turns", "n_user_turns", "n_assistant_turns",
        "n_user_tokens", "n_assistant_tokens", "max_turn_tokens")
      .collect()(0)
    assert(s.getLong(0) == 3 && s.getLong(1) == 1 && s.getLong(2) == 1)
    assert(s.getLong(3) == 1 && s.getLong(4) == 1)
    assert(s.getLong(5) == 2, "system 'be terse' is the longest turn")
    val e = Chat.chatStats(planted.filter(col("id") === 8), "conv")
      .select("n_turns", "max_turn_tokens").collect()(0)
    assert(e.getLong(0) == 0 && e.isNullAt(1),
      "empty conversation: zero turns, NULL max")
  }

  test("chatTokenSpans assigns contiguous half-open token ranges") {
    val rows = Chat.chatTokenSpans(
      planted.filter(col("id") === 1), "id", "conv")
      .orderBy("turn_idx").collect()
    assert(rows.map(r => (r.getLong(1), r.getString(2), r.getLong(3),
      r.getLong(4), r.getLong(5))).toSeq == Seq(
      (0L, "user", 2L, 0L, 2L), (1L, "assistant", 2L, 2L, 4L)))
    // spans tile the stream: each start equals the previous end, and
    // the final end is the total content token count
    val multi = frame(9L -> conv("user" -> "one two three",
      "assistant" -> "four", "user" -> "five six", "assistant" -> "seven"))
    val sp = Chat.chatTokenSpans(multi, "id", "conv")
      .orderBy("turn_idx").collect()
      .map(r => (r.getLong(4), r.getLong(5)))
    assert(sp.head._1 == 0L && sp.last._2 == 7L)
    assert(sp.sliding(2).forall(w => w.size < 2 || w(0)._2 == w(1)._1))
    // empty conversation contributes no rows
    assert(Chat.chatTokenSpans(planted.filter(col("id") === 8), "id", "conv")
      .isEmpty)
  }

  // ---- reference dedup: the per-family WINDOW formulation (min id and
  // family count over a partition on the normalized answer; answerless
  // rows partition on their own id), kept here to pin the operator's
  // one-pass exemplar aggregate against an independent plan
  private def windowDedup(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(
      col("__norm"), when(col("__norm") === "", col("id")))
    df.withColumn("__norm", Chat.assistantNorm("conv"))
      .withColumn("__keep", min(col("id")).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .filter(col("id") === col("__keep"))
      .select(df.columns.map(col) :+ col("n_copies"): _*)
  }

  test("dedupByAssistant equals the window reference on the fixture and a monster family") {
    // planted-fixture parity first (covers normalization, multi-turn
    // concat, no-assistant singletons)
    val fixture = frame(
      1L -> conv("user" -> "how do i sort", "assistant" -> "Use  Merge   Sort"),
      2L -> conv("user" -> "other prompt", "assistant" -> "use merge sort"),
      3L -> conv("user" -> "x", "assistant" -> "different answer"),
      4L -> conv("user" -> "y", "assistant" -> "use merge", "assistant" -> "sort"),
      5L -> conv("user" -> "no answer here"))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "n_copies").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(asSet(Chat.dedupByAssistant(fixture, "id", "conv")) ==
      asSet(windowDedup(fixture)))
    // monster family: 60% of 20k conversations share one normalized
    // answer — the single-task window buffer the aggregate avoids
    val big = spark.range(20000).select(col("id"),
      array(
        struct(lit("user").as("role"),
          concat(lit("q"), col("id")).as("content")),
        struct(lit("assistant").as("role"),
          when(col("id") % 5 < 3, lit("use merge sort"))
            .otherwise(concat(lit("ans"), col("id"))).as("content"))).as("conv"))
    val want = asSet(windowDedup(big))
    assert(want.contains(0L -> 12000L), "fixture sanity: monster family kept at min id")
    val kept = Chat.dedupByAssistant(big, "id", "conv")
    assert(asSet(kept) == want, "the exemplar aggregate diverges from the window reference")
    // the kept rows carry the exemplar's whole row, not just its id
    assert(kept.filter(col("id") === 0).select("conv").head().getSeq[Row](0)
      .map(_.getString(1)) == Seq("q0", "use merge sort"))
    val nodes = PlanWalk.nodes(kept).map(_.nodeName.toLowerCase)
    assert(!nodes.exists(_.contains("window")),
      s"one-pass aggregate plan must not contain a window, got: ${nodes.mkString(", ")}")
  }

  test("dedupByAssistant keeps the lowest id per normalized answer set") {
    val d = frame(
      1L -> conv("user" -> "how do i sort", "assistant" -> "Use  Merge   Sort"),
      2L -> conv("user" -> "what's a fast sort algo?",
        "assistant" -> "use merge sort"),   // same answer, different prompt
      3L -> conv("user" -> "x", "assistant" -> "different answer"),
      4L -> conv("user" -> "y", "assistant" -> "use merge",
        "assistant" -> "sort"))            // same concat after normalization
    val kept = Chat.dedupByAssistant(d, "id", "conv")
      .select("id", "n_copies").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept == Map(1L -> 3L, 3L -> 1L),
      s"1,2,4 share one normalized answer; got $kept")
    // conversations with NO assistant content carry no dedup evidence:
    // every one survives (collapsing them would delete unrelated rows)
    val noAnswer = frame(
      10L -> conv("user" -> "first question"),
      11L -> conv("user" -> "different question"),
      12L -> conv("user" -> "q", "assistant" -> "   "))
    val kept2 = Chat.dedupByAssistant(noAnswer, "id", "conv")
      .select("id", "n_copies").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept2 == Map(10L -> 1L, 11L -> 1L, 12L -> 1L),
      s"assistant-less conversations must all survive; got $kept2")
  }

  test("parseChat inverts renderChat within the template contract") {
    val multi = frame(
      1L -> conv("system" -> "be terse", "user" -> "hi\nthere",
        "assistant" -> "multi\nline answer"),
      2L -> conv("user" -> "q", "assistant" -> "a"),
      3L -> Seq.empty[Row])
    val roundTripped = Chat.parseChat(
      Chat.renderChat(multi, "conv").select(col("id"), col("rendered")),
      "rendered")
      .select("id", "conv").collect()
      .map(r => r.getLong(0) -> r.getSeq[Row](1).map(t =>
        (t.getString(0), t.getString(1)))).toMap
    val original = multi.collect()
      .map(r => r.getLong(0) -> r.getSeq[Row](1).map(t =>
        (t.getString(0), t.getString(1)))).toMap
    assert(roundTripped == original,
      "parse(render(x)) must equal x, including multi-line content")
  }

  test("mapTurnContent transforms content, preserves roles and order") {
    val d = frame(1L -> conv("user" -> "Hello World", "assistant" -> "OK"))
    val out = Chat.mapTurnContent(d, "conv", c => lower(c))
      .select("conv").collect()(0).getSeq[Row](0)
      .map(t => (t.getString(0), t.getString(1)))
    assert(out == Seq(("user", "hello world"), ("assistant", "ok")))
  }

  test("chat pipeline (validate -> filter -> dedup -> render) has a bounded plan") {
    val ok = Chat.validateChat(planted, "conv").filter(col("chat_ok"))
      .select(col("id"), col("conv"))
    val out = Chat.renderChat(Chat.dedupByAssistant(ok, "id", "conv"), "conv")
    assert(out.count() >= 1)
    val card = graft.operators.Diagnostics.planCard(out).collect()(0)
    assert(card.getAs[Long]("n_shuffle_exchanges") <= 3,
      s"four chat operators must compose into one bounded plan, got $card")
  }

  test("chat operators are zero-shuffle projections (scale contract)") {
    val v = Chat.validateChat(planted, "conv")
    val r = Chat.renderChat(planted, "conv")
    val s = Chat.chatStats(planted, "conv")
    val sp = Chat.chatTokenSpans(planted, "id", "conv")
    for ((df, name) <- Seq(v -> "validateChat", r -> "renderChat",
      s -> "chatStats", sp -> "chatTokenSpans")) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"$name must not shuffle, plan:\n$plan")
    }
  }

  test("sftPackedTokenIds: per-turn encode, assistant-only mask, eos, chop") {
    val merges = Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
      ("69", "6E"), ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
    val eos = 256L + merges.size
    val df = frame(
      1L -> conv("user" -> "the and", "assistant" -> "in then"),
      2L -> Seq.empty[Row],
      4L -> conv("user" -> "on", "assistant" -> "the"),
      // seam edges for the one-call encode (see convCells): trailing
      // whitespace against the template's \n, unicode multi-byte,
      // EMPTY assistant content, leading spaces
      5L -> conv("user" -> "  café\t x ", "assistant" -> "",
        "user" -> " the", "assistant" -> "then  "))
    val out = Chat.sftPackedTokenIds(df, "id", "conv", merges,
      budget = 7, shards = 1)
    val seqs = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getSeq[Long](2), r.getSeq[Long](3), r.getLong(4)))
      .toMap
    seqs.values.foreach { case (ids, ms, n) =>
      assert(ids.length == n && ms.length == n && n <= 7,
        "aligned arrays, budget bound")
    }
    val stream = seqs.toSeq.sortBy(_._1).flatMap(_._2._1)
    val masks = seqs.toSeq.sortBy(_._1).flatMap(_._2._2)
    // reference: per-turn template encode + roles, id order, eos per conv
    import org.apache.spark.sql.DataFrame
    def turnIds(role: String, content: String): Seq[Long] = {
      val one: DataFrame = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(0L,
          s"<|$role|>\n$content<|end|>\n"))),
        StructType(Seq(StructField("id", LongType),
          StructField("t", StringType))))
      one.select(graft.functions.ByteBpeEncode.byteBpeIds(col("t"), merges))
        .head().getSeq[Long](0)
    }
    val want = Seq(
      (turnIds("user", "the and"), 0L), (turnIds("assistant", "in then"), 1L),
      (Seq(eos), 0L), // conv 1 eos
      (Seq(eos), 0L), // conv 2: EMPTY conversation -> eos only
      (turnIds("user", "on"), 0L), (turnIds("assistant", "the"), 1L),
      (Seq(eos), 0L), // conv 4 eos
      (turnIds("user", "  café\t x "), 0L), (turnIds("assistant", ""), 1L),
      (turnIds("user", " the"), 0L), (turnIds("assistant", "then  "), 1L),
      (Seq(eos), 0L)) // conv 5 eos
    assert(stream == want.flatMap(_._1),
      "chopped stream must equal PER-TURN reference ids + eos in id " +
        "order (pins the one-call whole-conversation encode against " +
        "the per-turn reference across every seam edge)")
    assert(masks == want.flatMap { case (ids, m) => ids.map(_ => m) },
      "mask must be 1 exactly on assistant-turn ids, 0 on eos")
    // only the final window of the single shard runs short
    val lastSeq = seqs.keys.map(_._2).max
    seqs.foreach { case ((_, sid), (_, _, n)) =>
      if (sid != lastSeq) assert(n == 7L, s"non-terminal window $sid short")
    }
    // renderChat consistency: the per-turn templates concatenate to the
    // rendered conversation string (the turnTemplate sharing contract)
    val rendered = Chat.renderChat(df, "conv").filter(col("id") === 1L)
      .select(col("rendered")).head().getString(0)
    assert(rendered ==
      "<|user|>\nthe and<|end|>\n<|assistant|>\nin then<|end|>\n")
  }

  test("sftPackedDocSpans tiles the packed SFT windows (shared address)") {
    val merges = Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
      ("69", "6E"), ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val convs = d.select(col("doc_id"), array(
      struct(lit("user").as("role"), col("text").as("content")),
      struct(lit("assistant").as("role"),
        reverse(col("text")).as("content"))).as("conv"))
    val spans = Chat.sftPackedDocSpans(convs, "doc_id", "conv", merges,
      budget = 128, shards = 8)
    val mat = Chat.sftPackedTokenIds(convs, "doc_id", "conv", merges,
      budget = 128, shards = 8)
    val bySeq = spans.collect()
      .groupBy(r => (r.getLong(0), r.getLong(1)))
      .map { case (k, rs) =>
        val sorted = rs.sortBy(_.getLong(3))
        var pos = 0L
        sorted.foreach { r =>
          assert(r.getLong(3) == pos, s"gap in window $k at ${r.getLong(3)}")
          pos += r.getLong(4)
        }
        k -> (pos, rs.length.toLong)
      }
    val wantSeq = mat.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(4), r.getLong(5)))
      .toMap
    assert(bySeq == wantSeq,
      "span tiling must equal sftPackedTokenIds' (n_tokens, n_docs) per window")
  }

  test("sftPackedTokenIdsNoSplit: next-fit, padding, truncation, no torn conv") {
    val merges = Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
      ("69", "6E"), ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
    val eos = 256L + merges.size
    val df = frame(
      1L -> conv("user" -> "hi", "assistant" -> "yo"),
      2L -> conv("user" -> "ok", "assistant" -> "no"),
      3L -> conv("user" -> ("x " * 40).trim, "assistant" -> "fin"), // oversized
      4L -> Seq.empty[Row])
    val budget = 48
    val out = Chat.sftPackedTokenIdsNoSplit(df, "id", "conv", merges,
      budget = budget, shards = 1)
    val rows = out.collect().map(r => r.getLong(1) ->
      (r.getSeq[Long](2), r.getSeq[Long](3), r.getLong(4), r.getLong(5),
        r.getBoolean(6))).toMap
    // every window padded to exactly budget; masks aligned; pad mask 0
    rows.values.foreach { case (ids, ms, n, _, _) =>
      assert(ids.length == budget && ms.length == budget)
      assert(ms.drop(n.toInt).forall(_ == 0L), "pad cells carry mask 0")
      assert(ids.drop(n.toInt).forall(_ == eos), "default pad is the eos id")
    }
    // independent next-fit replay over per-conv cell lengths
    // (byteBpeIds per rendered turn + the eos cell)
    def convLen(turns: Seq[(String, String)]): Long =
      turns.map { case (role, content) =>
        spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row(0L,
            s"<|$role|>\n$content<|end|>\n"))),
          StructType(Seq(StructField("i", LongType),
            StructField("t", StringType))))
          .select(size(graft.functions.ByteBpeEncode.byteBpeIds(col("t"),
            merges))).head().getInt(0).toLong
      }.sum + 1L // eos
    val lens = Seq(
      1L -> convLen(Seq("user" -> "hi", "assistant" -> "yo")),
      2L -> convLen(Seq("user" -> "ok", "assistant" -> "no")),
      3L -> convLen(Seq("user" -> ("x " * 40).trim, "assistant" -> "fin")),
      4L -> 1L)
    var seq = -1L; var used = budget.toLong + 1
    val wantAssign = lens.map { case (id, n) =>
      val eff = math.min(n, budget.toLong)
      if (used + eff > budget) { seq += 1; used = eff } else used += eff
      id -> seq
    }.toMap
    // windows carry the right docs: recompute per-window doc counts
    val wantDocs = wantAssign.groupBy(_._2).map { case (s, m) => s -> m.size }
    assert(rows.map { case (s, v) => s -> v._4.toInt } == wantDocs,
      "window membership must equal the independent next-fit replay")
    // the oversized conv: its window is truncated to budget real ids
    val overSeq = wantAssign(3L)
    val (oIds, _, oN, _, oTrunc) = rows(overSeq)
    assert(oTrunc && oN == budget.toLong && oIds.length == budget,
      "oversized conversation truncates to budget in its own window")
    assert(rows.filter(_._1 != overSeq).values.forall(!_._5),
      "no other window reports truncation")
  }

  test("sftPackedDocSpansNoSplit tiles the no-split windows exactly") {
    val merges = Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
      ("69", "6E"), ("61", "6E"), ("616E", "64"))
    val df = frame(
      1L -> conv("user" -> "hi", "assistant" -> "yo"),
      2L -> conv("user" -> "ok then", "assistant" -> "no"),
      3L -> conv("user" -> ("x " * 40).trim, "assistant" -> "fin"), // oversized
      4L -> Seq.empty[Row],
      5L -> conv("user" -> "the thin end", "assistant" -> "in the end"))
    val budget = 48
    val spans = Chat.sftPackedDocSpansNoSplit(df, "id", "conv", merges,
      budget = budget, shards = 2)
    val packed = Chat.sftPackedTokenIdsNoSplit(df, "id", "conv", merges,
      budget = budget, shards = 2)
    // per window: spans contiguous from 0, sum to n_tokens, count to
    // n_docs, truncation flags agree
    val byWin = spans.collect()
      .groupBy(r => (r.getLong(0), r.getLong(1)))
      .map { case (k, rs) =>
        val sorted = rs.sortBy(_.getLong(3))
        var pos = 0L
        sorted.foreach { r =>
          assert(r.getLong(3) == pos, s"gap in window $k at ${r.getLong(3)}")
          pos += r.getLong(4)
        }
        k -> (pos, rs.length.toLong, rs.exists(_.getBoolean(5)))
      }
    val want = packed.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(4), r.getLong(5), r.getBoolean(6))).toMap
    assert(byWin == want,
      "span tiling must equal the packer's (n_tokens, n_docs, truncated)")
    // one span per conversation (no-split; the empty conv carries its
    // EOS cell and so gets a 1-cell span)
    assert(spans.count() == 5L)
    // truncation flags equal the independent per-conv cell counts
    val nTok = Chat.sftTokenizeMask(df, "id", "conv", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val expectTrunc = nTok.filter(_._2 > budget).keys.toSet
    assert(expectTrunc.contains(3L), "fixture sanity: conv 3 is oversized")
    assert(spans.filter(col("truncated")).collect()
      .map(_.getLong(2)).toSet == expectTrunc,
      "exactly the over-budget conversations are flagged truncated")
  }

  test("unpackSftWindows inverts BOTH SFT packing conventions") {
    val merges = Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
      ("69", "6E"), ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
    val df = frame(
      1L -> conv("user" -> "the and", "assistant" -> "in then"),
      2L -> Seq.empty[Row],
      4L -> conv("user" -> "on", "assistant" -> "the"),
      5L -> conv("user" -> "  café\t x ", "assistant" -> "",
        "user" -> " the", "assistant" -> "then  "))
    def cells(o: org.apache.spark.sql.DataFrame) = o.collect()
      .map(r => r.getLong(0) ->
        (r.getSeq[Long](1).toList, r.getSeq[Long](2).toList)).toMap
    val want = cells(Chat.sftTokenizeMask(df, "id", "conv", merges)
      .select(col("id"), col("token_ids"), col("loss_mask")))

    // GPT-style: tiny budget forces window-crossing conversations;
    // unpack must reassemble the split spans exactly
    val got = cells(Chat.unpackSftWindows(
      Chat.sftPackedTokenIds(df, "id", "conv", merges, budget = 7, shards = 1),
      Chat.sftPackedDocSpans(df, "id", "conv", merges, budget = 7, shards = 1)))
    assert(got == want, "unpack(GPT-pack) must equal the tokenize surface")

    // no-split at budget 9: conversation 1 (and any other over 9
    // cells) comes back TRUNCATED to budget, pads excluded
    val gotNs = cells(Chat.unpackSftWindows(
      Chat.sftPackedTokenIdsNoSplit(df, "id", "conv", merges,
        budget = 9, shards = 1),
      Chat.sftPackedDocSpansNoSplit(df, "id", "conv", merges,
        budget = 9, shards = 1)))
    val wantNs = want.map { case (k, (ids, ms)) =>
      k -> (ids.take(9), ms.take(9)) }
    assert(gotNs == wantNs,
      "unpack(no-split pack) must equal tokenize truncated at budget")
    assert(want.exists(_._2._1.length > 9),
      "the fixture must actually exercise truncation")
  }

  test("sftTokenizeMask evaluates the whole-conversation encode ONCE") {
    // ADVICE r17: projecting token_ids and loss_mask from two copies of
    // the convCells expression ran the hot ids-mode kernel twice per
    // row (lambda-bearing expressions get no CSE); the staged __cells
    // column must leave exactly one ids-mode kernel in the plan
    val merges = Seq(("74", "68"), ("7468", "65"))
    val out = Chat.sftTokenizeMask(planted, "id", "conv", merges)
    val plan = out.queryExecution.optimizedPlan.toString
    val n = "graft_byte_bpe_ids".r.findAllIn(plan).size
    assert(n == 1, s"expected exactly one ids-mode kernel call, got $n")
  }

  test("count==size seam: count-mode cells equal the ids-mode cell array, per conversation and per no-split window") {
    // the packers size conversations with the kernel's COUNT mode
    // (convCellCount) and fill them with its IDS mode (convCells); the
    // two agree only if no pre-token spans a turn seam. Adversarial
    // turns put template tokens, whitespace runs, contractions and
    // multi-byte text against every seam; the merge lists include
    // seam-crossing pairs (\n<, >\n, |>) and lists trained on the
    // rendered template itself
    val rnd = new scala.util.Random(20261019L)
    val frags = Seq(" ", "  ", "\n", "\n\n", "\t", "\r\n", "\u000B",
      "\u00A0", "<", "|", ">", "<|", "|>", "<|end|>", "<|end|>\n",
      "<|user|>\n", "end", "the", " the", "and", " in", "on", "er", "é",
      " café", "😀", "中文", "'s", "'ll", "42", " 7", "!", "?!", "x")
    val roles = Seq("user", "assistant", "system", "tool", "", " assistant",
      "assistant\n", "<|end|>", null)
    def content(): String =
      if (rnd.nextInt(10) == 0) null
      else Seq.fill(rnd.nextInt(7))(frags(rnd.nextInt(frags.size))).mkString
    val rows = (1L to 150L).map { id =>
      id -> (if (id % 50 == 0) null
      else Seq.fill(rnd.nextInt(6))(
        Row(roles(rnd.nextInt(roles.size)), content())))
    }
    val df = frame(rows: _*).cache()
    val rendered = Chat.renderChat(df.filter(col("conv").isNotNull), "conv")
    def trained(texts: org.apache.spark.sql.DataFrame, textCol: String, n: Int) =
      graft.operators.TextStats.trainBpeBytesLocal(
        graft.operators.TextStats.bytePretokenCounts(texts, textCol),
        numMerges = n, minPairCount = 1L).map(m => (m._1, m._2))
    val mergeLists = Seq(
      "fixture" -> Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
        ("69", "6E"), ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E")),
      "seam pairs" -> Seq(("0A", "3C"), ("3E", "0A"), ("7C", "3E"),
        ("3C", "7C"), ("3C7C", "65"), ("0A", "0A"), ("20", "20"),
        ("2020", "0A"), ("27", "73"), ("C3", "A9")),
      "trained on renderings" -> trained(rendered, "rendered", 300),
      "trained on corpus" -> trained(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
        "text", 10000))
    for ((name, merges) <- mergeLists) {
      // per conversation: the ids-mode cell array is whole (zip_with
      // pads a short side with NULLs) and its size is the count-mode
      // cell count the address pass uses
      val cells = Chat.sftTokenizeMask(df, "id", "conv", merges).collect()
        .filter(!_.isNullAt(1)).map { r =>
          val ids = r.getSeq[Any](1)
          val ms = r.getSeq[Any](2)
          assert(!ids.contains(null) && !ms.contains(null) &&
            ids.size == ms.size && r.getLong(3) == ids.size,
            s"$name: conversation ${r.getLong(0)} cells are torn")
          r.getLong(0) -> ids.size.toLong
        }.toMap
      val counted = Chat.sftPackedDocSpansNoSplit(df, "id", "conv", merges,
        budget = 1 << 20, shards = 3).collect()
        .map(r => r.getLong(2) -> r.getLong(4)).toMap
      assert(cells.size == rows.count(_._2 != null))
      assert(counted == cells,
        s"$name: convCellCount must equal size(convCells) per conversation")
      // per window: sum(span_len) (n_tokens) must equal the assembled
      // cell array's size, read back as the non-pad prefix under a pad
      // id no real cell carries
      for (budget <- Seq(5, 37)) {
        val windows = Chat.sftPackedTokenIdsNoSplit(df, "id", "conv", merges,
          budget = budget, shards = 3, padId = Some(-1L)).collect()
          .map { r =>
            val ids = r.getSeq[Any](2)
            assert(!ids.contains(null) && ids.size == budget &&
              r.getSeq[Any](3).size == budget,
              s"$name/$budget: window (${r.getLong(0)}, ${r.getLong(1)})")
            val real = ids.count(_ != -1L).toLong
            assert(real == r.getLong(4),
              s"$name/$budget: sum(span_len) ${r.getLong(4)} != " +
                s"size(__cells) $real in window (${r.getLong(0)}, ${r.getLong(1)})")
            (r.getLong(0), r.getLong(1)) -> real
          }.toMap
        val spanSums = Chat.sftPackedDocSpansNoSplit(df, "id", "conv", merges,
          budget = budget, shards = 3).collect()
          .groupBy(r => (r.getLong(0), r.getLong(1)))
          .map { case (k, rs) => k -> rs.map(_.getLong(4)).sum }
        assert(spanSums == windows,
          s"$name/$budget: span table and packed windows must agree")
      }
    }
    df.unpersist()
  }

  test("sftPackedTokenIdsNoSplit: any numeric id type packs identically") {
    // ADVICE r17: the address scan read the id with getLong, so an
    // IntegerType doc id threw ClassCastException while the sibling
    // packers accepted any numeric id — pinned fixed here
    val merges = Seq(("74", "68"), ("7468", "65"), ("69", "6E"))
    val df = frame(
      1L -> conv("user" -> "hi", "assistant" -> "yo"),
      2L -> conv("user" -> "ok", "assistant" -> "no"),
      3L -> conv("user" -> "the thin end", "assistant" -> "in the end"))
    val asInt = df.withColumn("id", col("id").cast(IntegerType))
    val want = Chat.sftPackedTokenIdsNoSplit(df, "id", "conv", merges,
      budget = 32, shards = 2).collect().map(_.toString).sorted
    val got = Chat.sftPackedTokenIdsNoSplit(asInt, "id", "conv", merges,
      budget = 32, shards = 2).collect().map(_.toString).sorted
    assert(got.sameElements(want),
      "IntegerType ids must pack exactly like LongType ids")
  }

  test("sftPackedArtifactFrames: shared-address build == independent operators, both conventions (r20)") {
    val merges = Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
      ("69", "6E"), ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(80)
    val convs = d.select(col("doc_id"), array(
      struct(lit("user").as("role"), col("text").as("content")),
      struct(lit("assistant").as("role"),
        reverse(col("text")).as("content"))).as("conv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case s: Seq[_] => s.toList
        case x => x
      }).toSet
    // split convention
    val (w1, s1) = Chat.sftPackedArtifactFrames(convs, "doc_id", "conv",
      merges, budget = 128, shards = 4)
    assert(rows(w1) == rows(Chat.sftPackedTokenIds(convs, "doc_id", "conv",
      merges, budget = 128, shards = 4)),
      "shared-path split windows must equal the independent packer")
    assert(rows(s1) == rows(Chat.sftPackedDocSpans(convs, "doc_id", "conv",
      merges, budget = 128, shards = 4)),
      "shared-path split spans must equal the independent builder")
    // no-split convention (non-default pad exercises the pad plumbing)
    val (w2, s2) = Chat.sftPackedArtifactFrames(convs, "doc_id", "conv",
      merges, budget = 96, shards = 4, padId = Some(999L), noSplit = true)
    assert(rows(w2) == rows(Chat.sftPackedTokenIdsNoSplit(convs, "doc_id",
      "conv", merges, budget = 96, shards = 4, padId = Some(999L))),
      "shared-path no-split windows must equal the independent packer")
    assert(rows(s2) == rows(Chat.sftPackedDocSpansNoSplit(convs, "doc_id",
      "conv", merges, budget = 96, shards = 4)),
      "shared-path no-split spans must equal the independent builder")
    // the doc twin
    val (w3, s3) = graft.operators.TextStats.packedArtifactFrames(d,
      "doc_id", "text", merges, budget = 128, shards = 4)
    assert(rows(w3) == rows(graft.operators.TextStats
      .materializePackedTokenIds(d, "doc_id", "text", merges, 128, 4)),
      "shared-path doc windows must equal the independent packer")
    assert(rows(s3) == rows(graft.operators.TextStats.packedDocSpans(d,
      "doc_id", "text", merges, 128, 4)),
      "shared-path doc spans must equal the independent builder")
  }
}

