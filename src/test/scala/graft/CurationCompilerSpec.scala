package graft

import graft.config._
import graft.plans.CurationCompiler
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CurationCompilerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fromYaml parses stages in order with operator defaults") {
    val cfg = CurationConfig.fromYaml(
      """curation:
        |  id_col: id
        |  text_col: body
        |  stages:
        |    - op: filter_lines
        |    - op: quality_filter
        |      langs: [en, de]
        |    - op: dedup_collapse
        |      threshold: 0.7
        |    - op: split
        |      weights: {train: 0.9, test: 0.1}
        |""".stripMargin)
    assert(cfg.idCol == "id" && cfg.textCol == "body")
    assert(cfg.stages == Seq(
      FilterLinesStage(5, 0.6, 0.5, 0.5),
      QualityFilterStage(Seq("en", "de"), 3, 0.06),
      DedupCollapseStage(5, 0.7, 100),
      SplitStage(Seq("train" -> 0.9, "test" -> 0.1), None)))
  }

  test("config validation: unknown op, pack not last, unresolved eval") {
    def cfg(stages: String) = CurationConfig.fromYaml(
      s"curation:\n  stages:\n$stages")
    intercept[IllegalArgumentException](cfg("    - op: frobnicate\n"))
    intercept[IllegalArgumentException](
      cfg("    - op: pack\n    - op: dedup_exact\n"))
    val decon = cfg("    - op: decontaminate\n      eval: missing_frame\n")
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      CurationCompiler.compile(decon, docs).collect())
  }

  test("blocklist, stopword and mojibake stages compile and filter correctly") {
    val docs = Seq(
      (1L, "the winner gets a free prize today"),
      (2L, "a normal document about the weather"),
      (3L, "damaged cafÃ© donâ€™t text"),
      (4L, null.asInstanceOf[String]) // NULL text survives mojibake_filter
    ).toDF("doc_id", "text")
    val out = CurationCompiler.compileYaml(
      """curation:
        |  stages:
        |    - op: mojibake_filter
        |      max_hits_per_char: 0.01
        |    - op: blocklist
        |      phrases: [free prize]
        |    - op: remove_stopwords
        |      stopwords: [the, a]
        |""".stripMargin, docs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(2L),
      "mojibake doc and blocklisted doc must both drop " +
        "(NULL text drops at the blocklist stage: contains(NULL) is NULL)")
    assert(out(2L) == "normal document about weather",
      "stopwords removed from the surviving doc")
    // mojibake_filter ALONE preserves NULL and empty text (the
    // filterLines NULL-passthrough convention — no measurable ratio)
    val nullSafe = CurationCompiler.compileYaml(
      "curation:\n  stages:\n    - op: mojibake_filter\n",
      docs.unionByName(Seq((5L, "")).toDF("doc_id", "text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nullSafe == Set(1L, 2L, 4L, 5L),
      "only the damaged doc drops; NULL and empty text pass through")
  }

  test("dedup_lines_within_doc stage compiles, batch and streaming alike") {
    val docs = Seq(
      (1L, "repeated line\ncontent a\nrepeated line\ncontent b"),
      (2L, "unique one\nunique two")
    ).toDF("doc_id", "text")
    val yaml = "curation:\n  stages:\n    - op: dedup_lines_within_doc\n"
    val out = CurationCompiler.compileYaml(yaml, docs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "repeated line\ncontent a\ncontent b")
    assert(out(2L) == "unique one\nunique two")
    assert(CurationCompiler.compileYaml(yaml, docs).columns.toSeq ==
      Seq("doc_id", "text"), "stage keeps the documents-frame contract")
    // streaming compile accepts it (row-local) and matches batch
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val sOut = CurationCompiler.compileStreaming(
      graft.config.CurationConfig.fromYaml(yaml),
      mem.toDF().toDF("doc_id", "text"), "doc_id", "0 seconds")
    assert(sOut.isStreaming)
    val q = sOut.writeStream.format("memory").queryName("cur_dl")
      .outputMode("append").start()
    mem.addData((1L, "repeated line\ncontent a\nrepeated line\ncontent b"))
    q.processAllAvailable()
    val got = spark.sql("SELECT text FROM cur_dl").collect()(0).getString(0)
    q.stop()
    assert(got == "repeated line\ncontent a\ncontent b")
  }

  test("stage chaining: line correction feeds exact dedup in one plan") {
    val docs = Seq(
      (1L, "real prose line here\nBUY NOW CLICK HERE"),
      (2L, "real prose line here"), // = doc 1 after correction
      (3L, "different content entirely")
    ).toDF("doc_id", "text")
    val out = CurationCompiler.compileYaml(
      """curation:
        |  stages:
        |    - op: filter_lines
        |    - op: dedup_exact
        |""".stripMargin, docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L),
      "docs 1 and 2 become identical after line correction; first id survives")
  }

  test("qualityFilterKeep preserves columns and matches clean's decisions on a deduped frame") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val deduped = graft.operators.Dedup.exactDedup(d, "text", "doc_id",
      byFingerprint = true)
    val viaKeep = graft.operators.CorpusClean.qualityFilterKeep(deduped, "text",
      Seq("en"), 3, 0.06)
    assert(viaKeep.columns.toSeq == d.columns.toSeq, "frame columns preserved")
    val keepIds = viaKeep.select("doc_id").collect().map(_.getLong(0)).toSet
    val cleanIds = graft.operators.CorpusClean.clean(d, "doc_id", "text",
        Seq("en"), 3, 0.06)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keepIds == cleanIds, "same keep decisions as the bundled clean()")
  }

  test("compileStreaming: stateless stages equal batch row-for-row; corpus-global stages rejected") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val yaml =
      """curation:
        |  stages:
        |    - op: filter_lines
        |    - op: blocklist
        |      phrases: [free prize]
        |    - op: split
        |      weights: {train: 0.8, test: 0.2}
        |      keep: train
        |""".stripMargin
    val prose = "a perfectly reasonable paragraph of running text here"
    val rows = (1L to 40L).map { i =>
      val body = if (i % 7 == 0) s"$prose\nwin a free prize" else s"$prose $i"
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), i, body)
    }
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val cfg = CurationConfig.fromYaml(yaml)
    val out = CurationCompiler.compileStreaming(cfg,
      mem.toDF().toDF("ts", "doc_id", "text"), "ts", "10 minutes")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("stream_curation")
      .outputMode("append").start()
    mem.addData(rows: _*); q.processAllAvailable()
    val got = spark.sql("SELECT doc_id FROM stream_curation")
      .collect().map(_.getLong(0)).toSet
    q.stop()
    val want = CurationCompiler.compile(cfg,
        rows.toDF("ts", "doc_id", "text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want, "streaming curation must equal the batch compile")
    // corpus-global stages are rejected with a reason
    val packCfg = CurationConfig.fromYaml(
      "curation:\n  stages:\n    - op: pack\n")
    intercept[UnsupportedOperationException](
      CurationCompiler.compileStreaming(packCfg,
        mem.toDF().toDF("ts", "doc_id", "text"), "ts", "10 minutes"))
  }

  test("compiled YAML pipeline is row-identical to the hand-composed pretrain pipeline") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val yaml =
      """curation:
        |  stages:
        |    - op: quality_filter
        |      langs: [en]
        |    - op: dedup_collapse
        |    - op: decontaminate
        |      eval: holdout
        |    - op: split
        |      weights: {train: 0.8, valid: 0.1, test: 0.1}
        |      keep: train
        |    - op: token_budget
        |      strata: [lang]
        |      budget_tokens: 2000
        |    - op: pack
        |      budget: 512
        |      shards: 4
        |""".stripMargin
    val holdout = d.filter(pmod(col("doc_id"), lit(97)) === 0)
    val fromConfig = CurationCompiler.compileYaml(yaml, d,
      Map("holdout" -> holdout)).collect().map(_.toString).sorted
    // the q_pipeline_pretrain composition, hand-built
    val cleaned = graft.operators.CorpusClean.clean(d, "doc_id", "text",
      Seq("en"), 3, 0.06)
    val cleanedDocs = d.join(cleaned.select("doc_id"), Seq("doc_id"), "left_semi")
    val pairs = graft.operators.Dedup.ngramJaccardPairs(d, "doc_id", "text",
      n = 5, threshold = 0.5, dfCap = 100)
    val surv = graft.operators.Dedup.collapseNearDups(cleanedDocs, "doc_id",
      pairs, "doc_a", "doc_b")
    val decon = graft.operators.Dedup.decontaminate(surv, holdout,
      "doc_id", "text", n = 13)
    val train = graft.operators.Sampling.assignSplit(decon, "doc_id",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      .filter(col("split") === "train").drop("split")
    val sampled = graft.operators.Sampling.tokenBudgetSample(train,
      Seq("lang"), "doc_id",
      graft.functions.TextFunctions.tokenCount(col("text")), budget = 2000L)
    val byHand = graft.operators.TextStats.packSequences(sampled, "doc_id",
      "text", budget = 512, shards = 4).collect().map(_.toString).sorted
    assert(fromConfig.sameElements(byHand),
      "the config path must reproduce the programmatic pipeline exactly")
  }

  test("chat config: parse, defaults, render-not-last and unknown-op rejection") {
    val cfg = ChatCurationConfig.fromYaml(
      """chat_curation:
        |  id_col: cid
        |  stages:
        |    - {op: validate_filter, extra_roles: [tool]}
        |    - {op: redact}
        |    - {op: dedup_assistant, keep_copies: true}
        |    - {op: decontaminate, eval: holdout, ngram: 8}
        |    - {op: scrub, eval: holdout}
        |    - {op: render}
        |""".stripMargin)
    assert(cfg.idCol == "cid" && cfg.convCol == "conv")
    assert(cfg.stages == Seq(
      ChatValidateFilterStage(Seq("tool")), ChatRedactStage(),
      ChatDedupAssistantStage(keepCopies = true),
      ChatDecontaminateStage("holdout", 8, "doc_id", "text"),
      ChatScrubStage("holdout", 13, "doc_id", "text"), ChatRenderStage()))
    intercept[IllegalArgumentException] {
      ChatCurationConfig.fromYaml(
        "stages:\n  - {op: render}\n  - {op: redact}\n")
    }
    intercept[IllegalArgumentException] {
      ChatCurationConfig.fromYaml("stages:\n  - {op: explode_conversation}\n")
    }
    intercept[IllegalArgumentException] {
      ChatCurationConfig.fromYaml("stages:\n  - {op: scrub}\n")
    }
  }

  test("chat config pipeline compiles end-to-end with eval resolution") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val convType = ArrayType(StructType(Seq(
      StructField("role", StringType), StructField("content", StringType))))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("conv", convType)))
    def conv(ts: (String, String)*) = ts.map { case (r, c) => Row(r, c) }
    val convs = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, conv("user" -> "tell me the secret benchmark answer please now",
        "assistant" -> "the secret answer is forty two exactly")),
      Row(2L, conv("user" -> "a clean question", "assistant" -> "a clean answer")),
      Row(3L, conv("assistant" -> "starts wrong")))), schema)
    val eval_ = Seq((9L, "the secret answer is forty two")).toDF("doc_id", "text")
    val out = CurationCompiler.compileChatYaml(
      """stages:
        |  - {op: validate_filter}
        |  - {op: scrub, eval: holdout, ngram: 4}
        |  - {op: render}
        |""".stripMargin,
      convs, resolve = Map("holdout" -> eval_))
      .select("doc_id", "rendered").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L, 2L), "invalid conversation filtered")
    assert(!out(1L).contains("secret answer is forty two") &&
      out(1L).contains("exactly"),
      "eval window scrubbed inside the turn, rest of the turn kept")
    assert(out(2L).contains("a clean answer"), "untouched turns intact")
    intercept[IllegalArgumentException] {
      CurationCompiler.compileChatYaml(
        "stages:\n  - {op: decontaminate, eval: missing}\n", convs)
    }
  }

  test("validate_filter compiles to one scan, two fences and no semi-join") {
    // conv COMPUTED from a scanned column: the shape whose pushed
    // filter(chat_ok) would substitute the conv construction into a
    // scan-side predicate if the staged conv were not fenced; the
    // non-system turn list the flags read four times is staged and
    // fenced the same way
    val dir = java.nio.file.Files.createTempDirectory("graft_chat_validate")
    try {
      spark.range(60).select(col("id").as("doc_id"),
        when(col("id") % 4 === 0, concat(lit("assistant|first "), col("id")))
          .otherwise(concat(lit("user|q"), col("id"), lit(";assistant|a"),
            col("id") % 7)).as("packed"))
        .write.mode("overwrite").parquet(dir.toString)
      val convs = spark.read.parquet(dir.toString).select(col("doc_id"),
        transform(split(col("packed"), ";"), t => struct(
          split(t, "\\|").getItem(0).as("role"),
          split(t, "\\|").getItem(1).as("content"))).as("conv"))
      val out = CurationCompiler.compileChatYaml(
        "stages:\n  - {op: validate_filter}\n", convs)
      assert(out.columns.toSeq == Seq("doc_id", "conv"), "flag columns dropped")
      assert(out.select("doc_id").as[Long].collect().toSet ==
        (0L until 60L).filter(_ % 4 != 0).toSet, "assistant-first rows filtered")
      val nodes = PlanWalk.nodes(out)
      val joins = nodes.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.joinType
      }
      assert(!joins.contains(org.apache.spark.sql.catalyst.plans.LeftSemi),
        s"validity is an inline filter, not an id semi-join: $joins")
      val scans = nodes.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.size == 1, s"one source scan, got ${scans.size}")
      val fences = nodes.flatMap(_.expressions.flatMap(_.collect {
        case f: graft.functions.OptimizerFence => f
      }))
      assert(fences.size == 2,
        s"conv and the non-system turns staged behind one fence each, got ${fences.size}")
      val turnFilters = nodes.flatMap(_.expressions.flatMap(_.collect {
        case f: org.apache.spark.sql.catalyst.expressions.ArrayFilter => f
      }))
      assert(turnFilters.size == 1,
        s"the non-system turn list is built once, got ${turnFilters.size}")
    } finally {
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("chat streaming compile: row-local stages run, dedup is watermarked, scrub rejected") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    def toConv(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("conv", transform(split(col("packed"), ";"), t =>
        struct(split(t, "\\|").getItem(0).as("role"),
          coalesce(split(t, "\\|").getItem(1), lit("")).as("content"))))
    val cfg = ChatCurationConfig.fromYaml(
      """stages:
        |  - {op: validate_filter}
        |  - {op: dedup_assistant}
        |  - {op: render}
        |""".stripMargin)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = CurationCompiler.compileStreamingChat(cfg,
      toConv(mem.toDF().toDF("doc_id", "ts", "packed")), "ts", "10 minutes")
      .select("doc_id", "rendered")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("stream_chat_cfg")
      .outputMode("append").start()
    mem.addData(
      (1L, ts("2024-01-01 00:01:00"), "user|hi there;assistant|same answer"),
      (2L, ts("2024-01-01 00:02:00"), "user|hello again;assistant|same answer"),
      (3L, ts("2024-01-01 00:03:00"), "assistant|starts wrong"),
      (4L, ts("2024-01-01 00:04:00"), "user|other;assistant|different answer"))
    q.processAllAvailable()
    val got = spark.sql("SELECT doc_id FROM stream_chat_cfg").collect()
      .map(_.getLong(0)).toSet
    q.stop()
    assert(got == Set(1L, 4L),
      "invalid conv filtered, duplicate answer dropped within watermark")
    intercept[UnsupportedOperationException] {
      CurationCompiler.compileStreamingChat(
        ChatCurationConfig.fromYaml(
          "stages:\n  - {op: scrub, eval: holdout}\n"),
        toConv(mem.toDF().toDF("doc_id", "ts", "packed")), "ts", "10 minutes",
        resolve = Map("holdout" -> Seq((1L, "x")).toDF("doc_id", "text")))
    }
    // pack_sft_ids must reject CLEANLY (ADVICE r17: the missing arm
    // made this a fold-time scala.MatchError), and before any
    // ModelStore read — the merges path here does not exist
    intercept[UnsupportedOperationException] {
      CurationCompiler.compileStreamingChat(
        ChatCurationConfig.fromYaml(
          """tokenizer: {kind: bpe_bytes, merges: /nonexistent/merges}
            |stages:
            |  - {op: pack_sft_ids, budget: 64, shards: 2}
            |""".stripMargin),
        toConv(mem.toDF().toDF("doc_id", "ts", "packed")), "ts", "10 minutes")
    }
  }

  test("events analytics config compiles to the programmatic pipeline exactly") {
    val yaml =
      """events_analytics:
        |  user_col: user_id
        |  ts_col: ts
        |  enrich:
        |    left_type: purchase
        |    right_type: view
        |    value_col: value
        |  sessions:
        |    gap_seconds: 7200
        |""".stripMargin
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val compiled = CurationCompiler.compileEventsYaml(yaml, events)
      .collect().map(_.toSeq).toSet
    val programmatic = graft.ExtensionQueries
      .queries("q_pipeline_events")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSet
    assert(compiled == programmatic,
      "the config surface must compile to the same plan as the " +
        "programmatic q_pipeline_events — no drift possible")
  }

  test("augmentation stages: parse, terminal enforcement, batch/stream no-drift") {
    import graft.config._
    val cfg = CurationConfig.fromYaml(
      """curation:
        |  stages:
        |    - {op: dedup_exact}
        |    - {op: denoiser_mix, r_density: 0.2, x_mean_span: 16}
        |""".stripMargin)
    assert(cfg.stages.last == DenoiserMixStage(0.2, 3, 0.5, 16))
    assert(CurationConfig.fromYaml(
      "curation:\n  stages:\n    - {op: span_corrupt, mean_span: 5}\n")
      .stages.last == SpanCorruptStage(0.15, 5))
    assert(CurationConfig.fromYaml(
      "curation:\n  stages:\n    - {op: fim}\n")
      .stages.last == FimStage(0.5, 0.5))
    // terminal stages must be last
    intercept[IllegalArgumentException] {
      CurationConfig.fromYaml(
        "curation:\n  stages:\n    - {op: denoiser_mix}\n    - {op: dedup_exact}\n")
    }
    // compiled == programmatic composition, row for row
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val compiled = CurationCompiler.compileYaml(
      """curation:
        |  stages:
        |    - {op: dedup_exact}
        |    - {op: denoiser_mix}
        |""".stripMargin, docs)
      .collect().map(_.toSeq).toSet
    val programmatic = graft.operators.TextStats.denoiserMix(
        graft.operators.Dedup.exactDedup(docs, "text", "doc_id",
          byFingerprint = true), "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(compiled == programmatic,
      "config surface must compose the same operators — no drift")
    // the terminal stages are row-local: the STREAMING compiler takes
    // them (a span_corrupt intake on a stream of already-curated docs)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val out = CurationCompiler.compileStreaming(
      CurationConfig.fromYaml(
        "curation:\n  stages:\n    - {op: span_corrupt}\n"),
      mem.toDF().toDF("doc_id", "text"), "doc_id", "0 seconds")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("cur_span")
      .outputMode("append").start()
    val rows = docs.select("doc_id", "text").as[(Long, String)]
      .collect().toSeq.take(100)
    mem.addData(rows: _*); q.processAllAvailable()
    val got = spark.sql("SELECT doc_id, inputs, targets FROM cur_span")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    q.stop()
    val want = graft.operators.TextStats.spanCorrupt(
        rows.toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "inputs", "targets")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == want, "streamed config stage must equal batch")
  }

  test("events analytics skew config: parsed, hardened paths engaged, zero drift") {
    val cfg = graft.config.EventsAnalyticsConfig.fromYaml(
      """events_analytics:
        |  enrich: {left_type: purchase, right_type: view}
        |  sessions: {gap_seconds: 7200}
        |  skew: {num_buckets: 16}
        |""".stripMargin)
    assert(cfg.skewBuckets == Some(16))
    assert(graft.config.EventsAnalyticsConfig.fromYaml(
      """events_analytics:
        |  enrich: {left_type: a, right_type: b}
        |  sessions: {gap_seconds: 1}
        |  skew: {}
        |""".stripMargin).skewBuckets == Some(64),
      "an empty skew mapping selects the bucketed plans at 64 buckets")
    assert(graft.config.EventsAnalyticsConfig.fromYaml(
      """events_analytics:
        |  enrich: {left_type: a, right_type: b}
        |  sessions: {gap_seconds: 1}
        |""".stripMargin).skewBuckets.isEmpty,
      "no skew mapping -> plain plans, byte-identical to r15 behavior")
    intercept[IllegalArgumentException] {
      graft.config.EventsAnalyticsConfig.fromYaml(
        """events_analytics:
          |  enrich: {left_type: a, right_type: b}
          |  sessions: {gap_seconds: 1}
          |  skew: {num_buckets: 1}
          |""".stripMargin)
    }
    // the skew mapping selects the plans: the compiled plan must carry
    // (key, bucket)-partitioned windows AND produce exactly the plain
    // pipeline's rows
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val skewed = CurationCompiler.compileEventsYaml(
      """events_analytics:
        |  enrich: {left_type: purchase, right_type: view, value_col: value}
        |  sessions: {gap_seconds: 7200}
        |  skew: {num_buckets: 8}
        |""".stripMargin, events)
    val winParts = PlanWalk.nodes(skewed).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.length
    }
    assert(winParts.contains(2),
      s"skew config must compile (key, bucket) windows, got $winParts")
    val plain = CurationCompiler.compileEventsYaml(
      """events_analytics:
        |  enrich: {left_type: purchase, right_type: view, value_col: value}
        |  sessions: {gap_seconds: 7200}
        |""".stripMargin, events)
    assert(skewed.collect().map(_.toSeq).toSet ==
      plain.collect().map(_.toSeq).toSet,
      "hardened and plain config plans must agree row-for-row")
  }

  test("tokenizer config: parsed and validated; budget + pack stages size with the kernel, zero drift") {
    // validation is loud
    intercept[IllegalArgumentException] {
      graft.config.CurationConfig.fromYaml(
        """curation:
          |  tokenizer: {kind: wordpiece, merges: /tmp/x}
          |  stages: [{op: strip_markup}]
          |""".stripMargin)
    }
    intercept[IllegalArgumentException] {
      graft.config.CurationConfig.fromYaml(
        """curation:
          |  tokenizer: {kind: bpe_bytes}
          |  stages: [{op: strip_markup}]
          |""".stripMargin)
    }
    assert(graft.config.CurationConfig.fromYaml(
      "curation: {stages: [{op: strip_markup}]}").tokenizer.isEmpty,
      "tokenizer omitted -> the \\S+ proxy, byte-identical to r16 behavior")
    // persist a merge list, then the config path must equal the
    // programmatic kernel composition on both counting stages
    val merges = Seq(("74", "68"), ("7468", "65"), ("69", "6E"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_tok_cfg").toString
    graft.sources.ModelStore.saveMerges(spark,
      merges.map { case (l, r) => (l, r, 0L) }, tmp)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val kernelSize = coalesce(
      graft.functions.ByteBpeEncode.byteBpeCount(col("text"), merges), lit(0L))
    val budgetCfg = CurationCompiler.compileYaml(
      s"""curation:
         |  tokenizer: {kind: bpe_bytes, merges: $tmp}
         |  stages:
         |    - {op: token_budget, strata: [lang], budget_tokens: 900}
         |""".stripMargin, docs)
    val budgetWant = graft.operators.Sampling.tokenBudgetSample(docs,
      Seq("lang"), "doc_id", kernelSize, budget = 900L)
    assert(budgetCfg.collect().map(_.toSeq).toSet ==
      budgetWant.collect().map(_.toSeq).toSet,
      "config budget stage must equal the programmatic kernel composition")
    val packCfg = CurationCompiler.compileYaml(
      s"""curation:
         |  tokenizer: {kind: bpe_bytes, merges: $tmp}
         |  stages:
         |    - {op: pack, budget: 128, shards: 4}
         |""".stripMargin, docs)
    val packWant = graft.operators.TextStats.packSequences(docs, "doc_id",
      "text", budget = 128, shards = 4, sizeCol = Some(kernelSize))
    assert(packCfg.collect().map(_.toSeq).toSet ==
      packWant.collect().map(_.toSeq).toSet,
      "config pack stage must equal the programmatic kernel composition")
    // and the kernel counts genuinely differ from the proxy on this
    // corpus (the no-drift assertions above are not vacuous)
    val proxyPack = graft.operators.TextStats.packSequences(docs, "doc_id",
      "text", budget = 128, shards = 4)
    assert(packCfg.collect().map(_.toSeq).toSet !=
      proxyPack.collect().map(_.toSeq).toSet,
      "kernel sizing must actually change the packing on the fixture")
  }

  test("events twa config: parsed, skew mapping selects the plan, zero drift") {
    val cfg = graft.config.EventsTwaConfig.fromYaml(
      """events_twa:
        |  value_col: value
        |  skew: {num_buckets: 16}
        |""".stripMargin)
    assert(cfg.userCol == "user_id" && cfg.tsCol == "ts" &&
      cfg.tieCol == "event_id" && cfg.skewBuckets == Some(16))
    assert(graft.config.EventsTwaConfig.fromYaml(
      "events_twa: {value_col: value}").skewBuckets.isEmpty,
      "no skew mapping -> the plain per-key window plan")
    intercept[IllegalArgumentException] {
      graft.config.EventsTwaConfig.fromYaml(
        "events_twa: {skew: {num_buckets: 1}}")
    }
    intercept[IllegalArgumentException] {
      graft.config.EventsTwaConfig.fromYaml("other_root: {}")
    }
    // unknown keys fail at parse time, naming the key: a retired
    // routing share, a misspelled option, a skew mapping that is not
    // a mapping
    val share = intercept[IllegalArgumentException] {
      graft.config.EventsTwaConfig.fromYaml(
        "events_twa: {skew: {share: 0.25, num_buckets: 8}}")
    }
    assert(share.getMessage.contains("'share'"), share.getMessage)
    val typo = intercept[IllegalArgumentException] {
      graft.config.EventsTwaConfig.fromYaml("events_twa: {valu_col: value}")
    }
    assert(typo.getMessage.contains("'valu_col'"), typo.getMessage)
    intercept[IllegalArgumentException] {
      graft.config.EventsTwaConfig.fromYaml("events_twa: {skew: 8}")
    }
    // no-drift: the skew mapping compiles the (key, bucket) windows,
    // which agree row-for-row with the plain programmatic operator
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val routed = CurationCompiler.compileEventsTwaYaml(
      """events_twa:
        |  value_col: value
        |  skew: {num_buckets: 8}
        |""".stripMargin, events)
    val winParts = PlanWalk.nodes(routed).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.length
    }
    assert(winParts.contains(2),
      s"skewed twa config must compile (key, bucket) windows, got $winParts")
    val want = graft.operators.Temporal.timeWeightedAvg(events,
      "user_id", "ts", "value", "event_id")
    assert(routed.collect().map(_.toSeq).toSet ==
      want.collect().map(_.toSeq).toSet,
      "config-compiled twa must equal the programmatic operator")
    // skew omitted -> plain single-key windows
    val plain = CurationCompiler.compileEventsTwaYaml(
      "events_twa: {value_col: value}", events)
    plain.collect()
    val plainParts = PlanWalk.nodes(plain).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.length
    }
    assert(plainParts.nonEmpty && plainParts.forall(_ == 1),
      "skew-less twa config stays on the plain per-key plan")
  }

  test("pack_ids stage: terminal + tokenizer-required + zero drift vs programmatic") {
    val merges = Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
      ("69", "6E"), ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_packids_cfg").toString
    try {
      graft.sources.ModelStore.saveMerges(spark,
        merges.map { case (l, r) => (l, r, 0L) }, tmp)
      // tokenizer required
      intercept[IllegalArgumentException] {
        graft.config.CurationConfig.fromYaml(
          "curation:\n  stages:\n    - {op: pack_ids}\n")
      }
      // terminal enforced
      intercept[IllegalArgumentException] {
        graft.config.CurationConfig.fromYaml(
          s"""curation:
             |  tokenizer: {kind: bpe_bytes, merges: $tmp}
             |  stages:
             |    - {op: pack_ids}
             |    - {op: strip_markup}
             |""".stripMargin)
      }
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val cfg = graft.plans.CurationCompiler.compileYaml(
        s"""curation:
           |  tokenizer: {kind: bpe_bytes, merges: $tmp}
           |  stages:
           |    - {op: dedup_exact}
           |    - {op: pack_ids, budget: 64, shards: 4, eos_id: 300}
           |""".stripMargin, docs)
      val want = graft.operators.TextStats.materializePackedTokenIds(
        graft.operators.Dedup.exactDedup(docs, "text", "doc_id",
          byFingerprint = true),
        "doc_id", "text", merges, budget = 64, shards = 4, eosId = Some(300L))
      assert(cfg.collect().map(_.toSeq).toSet ==
        want.collect().map(_.toSeq).toSet,
        "config pack_ids must equal the programmatic composition")
      // streaming compiler rejects it (corpus-global sequence assembly)
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
      val sdf = ms.toDF.toDF("doc_id", "text", "ts")
      intercept[UnsupportedOperationException] {
        graft.plans.CurationCompiler.compileStreaming(
          graft.config.CurationConfig.fromYaml(
            s"""curation:
               |  tokenizer: {kind: bpe_bytes, merges: $tmp}
               |  stages:
               |    - {op: pack_ids}
               |""".stripMargin), sdf, "ts", "10 minutes")
      }
    } finally {
      import java.nio.file.{Files, Path, Paths}
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("pack_manifest stage: parse, tokenizer-required, terminal, zero drift, stream reject") {
    val merges = Seq(("74", "68"), ("7468", "65"), ("20", "746865"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_manifest_cfg").toString
    try {
      graft.sources.ModelStore.saveMerges(spark,
        merges.map { case (l, r) => (l, r, 0L) }, tmp)
      intercept[IllegalArgumentException] {
        graft.config.CurationConfig.fromYaml(
          "curation:\n  stages:\n    - {op: pack_manifest}\n")
      }
      intercept[IllegalArgumentException] {
        graft.config.CurationConfig.fromYaml(
          s"""curation:
             |  tokenizer: {kind: bpe_bytes, merges: $tmp}
             |  stages:
             |    - {op: pack_manifest}
             |    - {op: strip_markup}
             |""".stripMargin)
      }
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val cfg = graft.plans.CurationCompiler.compileYaml(
        s"""curation:
           |  tokenizer: {kind: bpe_bytes, merges: $tmp}
           |  stages:
           |    - {op: pack_manifest, budget: 64, shards: 4, windows_per_file: 4}
           |""".stripMargin, docs)
      val want = graft.operators.TextStats.packFileManifest(
        graft.operators.TextStats.materializePackedTokenIds(docs,
          "doc_id", "text", merges, budget = 64, shards = 4),
        windowsPerFile = 4)
      assert(cfg.collect().map(_.toSeq).toSet ==
        want.collect().map(_.toSeq).toSet,
        "config pack_manifest must equal the programmatic rollup")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
      val sdf = ms.toDF.toDF("doc_id", "text", "ts")
      intercept[UnsupportedOperationException] {
        graft.plans.CurationCompiler.compileStreaming(
          graft.config.CurationConfig.fromYaml(
            s"""curation:
               |  tokenizer: {kind: bpe_bytes, merges: $tmp}
               |  stages:
               |    - {op: pack_manifest}
               |""".stripMargin), sdf, "ts", "10 minutes")
      }
    } finally {
      import java.nio.file.{Files, Path, Paths}
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("pack_store stage: parse, path/tokenizer-required, terminal, artifact no-drift, validate green, stream reject (r19)") {
    val merges = Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
      ("69", "6E"), ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_store_cfg_m").toString
    val cfgStore = java.nio.file.Files.createTempDirectory("graft_store_cfg").toString
    val progStore = java.nio.file.Files.createTempDirectory("graft_store_prog").toString
    def rmrf(d: String): Unit = {
      import java.nio.file.{Files, Path, Paths}
      Files.walk(Paths.get(d)).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
    try {
      graft.sources.ModelStore.saveMerges(spark,
        merges.map { case (l, r) => (l, r, 0L) }, tmp)
      // path required
      intercept[IllegalArgumentException] {
        graft.config.CurationConfig.fromYaml(
          s"""curation:
             |  tokenizer: {kind: bpe_bytes, merges: $tmp}
             |  stages:
             |    - {op: pack_store}
             |""".stripMargin)
      }
      // tokenizer required
      intercept[IllegalArgumentException] {
        graft.config.CurationConfig.fromYaml(
          s"curation:\n  stages:\n    - {op: pack_store, path: $cfgStore}\n")
      }
      // terminal
      intercept[IllegalArgumentException] {
        graft.config.CurationConfig.fromYaml(
          s"""curation:
             |  tokenizer: {kind: bpe_bytes, merges: $tmp}
             |  stages:
             |    - {op: pack_store, path: $cfgStore}
             |    - {op: strip_markup}
             |""".stripMargin)
      }
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      // the stage writes the store and returns the validate() row
      val out = graft.plans.CurationCompiler.compileYaml(
        s"""curation:
           |  tokenizer: {kind: bpe_bytes, merges: $tmp}
           |  stages:
           |    - {op: pack_store, budget: 64, shards: 4,
           |       windows_per_file: 4, epochs: 2, seed: 7, path: $cfgStore}
           |""".stripMargin, docs)
      val row = out.head()
      assert(row.getAs[Boolean]("ok") &&
        row.getAs[Long]("n_mismatched_files") == 0L,
        s"the config-built artifact must validate clean, got $row")
      // meta carries the stage's params (eos defaults to 256+|merges|)
      val meta = graft.sources.PackedArtifactStore.readMeta(spark, cfgStore)
      assert(meta == graft.sources.PackedArtifactStore.Meta(64, 4, 4,
        256L + merges.size, 2, 7L),
        s"meta must carry the stage params, got $meta")
      // no-drift: the config-built artifact read back + unpacked equals
      // the programmatic store row-for-row
      graft.sources.PackedArtifactStore.write(
        graft.operators.TextStats.materializePackedTokenIds(docs, "doc_id",
          "text", merges, budget = 64, shards = 4),
        graft.operators.TextStats.packedDocSpans(docs, "doc_id", "text",
          merges, budget = 64, shards = 4),
        progStore,
        graft.sources.PackedArtifactStore.Meta(64, 4, 4,
          256L + merges.size, 2, 7L))
      def unpacked(path: String) = graft.operators.TextStats
        .unpackTokenWindows(
          graft.sources.PackedArtifactStore.readWindows(spark, path),
          graft.sources.PackedArtifactStore.readSpans(spark, path))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(unpacked(cfgStore) == unpacked(progStore),
        "config-built and programmatic artifacts must unpack identically")
      assert(graft.sources.PackedArtifactStore.readManifest(spark, cfgStore)
        .collect().map(_.toSeq).toSet ==
        graft.sources.PackedArtifactStore.readManifest(spark, progStore)
          .collect().map(_.toSeq).toSet,
        "manifests must match row-for-row")
      assert(graft.sources.PackedArtifactStore
        .readOrder(spark, cfgStore, 1L).collect().map(_.toSeq).toSet ==
        graft.sources.PackedArtifactStore
          .readOrder(spark, progStore, 1L).collect().map(_.toSeq).toSet,
        "persisted training orders must match")
      // streaming reject: artifact compaction needs the whole corpus
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
      val sdf = ms.toDF.toDF("doc_id", "text", "ts")
      intercept[UnsupportedOperationException] {
        graft.plans.CurationCompiler.compileStreaming(
          graft.config.CurationConfig.fromYaml(
            s"""curation:
               |  tokenizer: {kind: bpe_bytes, merges: $tmp}
               |  stages:
               |    - {op: pack_store, path: $cfgStore}
               |""".stripMargin), sdf, "ts", "10 minutes")
      }
    } finally {
      rmrf(tmp); rmrf(cfgStore); rmrf(progStore)
    }
  }

  test("chat pack_store stage: parse, no-drift vs programmatic SFT store, no_split routing, stream reject (r19)") {
    val merges = Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
      ("69", "6E"), ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_cstore_m").toString
    val cfgStore = java.nio.file.Files.createTempDirectory("graft_cstore_cfg").toString
    val nsStore = java.nio.file.Files.createTempDirectory("graft_cstore_ns").toString
    val progStore = java.nio.file.Files.createTempDirectory("graft_cstore_prog").toString
    def rmrf(d: String): Unit = {
      import java.nio.file.{Files, Path, Paths}
      Files.walk(Paths.get(d)).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
    try {
      graft.sources.ModelStore.saveMerges(spark,
        merges.map { case (l, r) => (l, r, 0L) }, tmp)
      // path + tokenizer + terminal validations
      intercept[IllegalArgumentException] {
        graft.config.ChatCurationConfig.fromYaml(
          s"""chat_curation:
             |  tokenizer: {kind: bpe_bytes, merges: $tmp}
             |  stages:
             |    - {op: pack_store}
             |""".stripMargin)
      }
      intercept[IllegalArgumentException] {
        graft.config.ChatCurationConfig.fromYaml(
          s"chat_curation:\n  stages:\n    - {op: pack_store, path: $cfgStore}\n")
      }
      intercept[IllegalArgumentException] {
        graft.config.ChatCurationConfig.fromYaml(
          s"""chat_curation:
             |  tokenizer: {kind: bpe_bytes, merges: $tmp}
             |  stages:
             |    - {op: pack_store, path: $cfgStore}
             |    - {op: redact}
             |""".stripMargin)
      }
      // ADVICE r20: the split convention never pads — a pad_id without
      // no_split would write meta no window honors; reject at parse
      intercept[IllegalArgumentException] {
        graft.config.ChatCurationConfig.fromYaml(
          s"""chat_curation:
             |  tokenizer: {kind: bpe_bytes, merges: $tmp}
             |  stages:
             |    - {op: pack_store, pad_id: 999, path: $cfgStore}
             |""".stripMargin)
      }
      val convs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(60).select(col("doc_id"), array(
          struct(lit("user").as("role"), col("text").as("content")),
          struct(lit("assistant").as("role"),
            substring(col("text"), 1, 40).as("content"))).as("conv"))
      // split convention: config artifact == programmatic store
      val out = graft.plans.CurationCompiler.compileChatYaml(
        s"""chat_curation:
           |  tokenizer: {kind: bpe_bytes, merges: $tmp}
           |  stages:
           |    - {op: pack_store, budget: 128, shards: 4,
           |       windows_per_file: 4, epochs: 1, seed: 3, path: $cfgStore}
           |""".stripMargin, convs)
      val row = out.head()
      assert(row.getAs[Boolean]("ok") &&
        row.getAs[Long]("n_mismatched_files") == 0L,
        s"the config-built SFT artifact must validate clean, got $row")
      graft.sources.PackedArtifactStore.write(
        graft.operators.Chat.sftPackedTokenIds(convs, "doc_id", "conv",
          merges, budget = 128, shards = 4),
        graft.operators.Chat.sftPackedDocSpans(convs, "doc_id", "conv",
          merges, budget = 128, shards = 4),
        progStore,
        graft.sources.PackedArtifactStore.Meta(128, 4, 4,
          256L + merges.size, 1, 3L))
      def unpacked(path: String) = graft.operators.Chat.unpackSftWindows(
        graft.sources.PackedArtifactStore.readWindows(spark, path),
        graft.sources.PackedArtifactStore.readSpans(spark, path))
        .collect()
        .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getSeq[Long](2)))
        .toMap
      assert(unpacked(cfgStore) == unpacked(progStore),
        "config-built and programmatic SFT artifacts must unpack identically")
      assert(graft.sources.PackedArtifactStore.readMeta(spark, cfgStore) ==
        graft.sources.PackedArtifactStore.Meta(128, 4, 4,
          256L + merges.size, 1, 3L))
      // no_split routes both frames through the no-split convention:
      // every window pads to exactly the budget
      graft.plans.CurationCompiler.compileChatYaml(
        s"""chat_curation:
           |  tokenizer: {kind: bpe_bytes, merges: $tmp}
           |  stages:
           |    - {op: pack_store, budget: 512, shards: 4,
           |       windows_per_file: 4, no_split: true, pad_id: 999,
           |       path: $nsStore}
           |""".stripMargin, convs).collect()
      val lens = graft.sources.PackedArtifactStore.readWindows(spark, nsStore)
        .select(size(col("token_ids")).as("n")).distinct().collect()
        .map(_.getInt(0)).toSet
      assert(lens == Set(512),
        s"no-split windows must all pad to the budget, got sizes $lens")
      // the loader contract is RECOVERABLE from meta/ (r20, ADVICE
      // r19): a non-default pad id and the convention flag persist
      val nsMeta = graft.sources.PackedArtifactStore.readMeta(spark, nsStore)
      assert(nsMeta.noSplit && nsMeta.padId == 999L &&
        nsMeta.effectivePadId == 999L,
        s"pad_id/no_split must persist to meta, got $nsMeta")
      assert(graft.sources.PackedArtifactStore.readMeta(spark, cfgStore)
        .effectivePadId == 256L + merges.size,
        "an unset pad_id must resolve to the EOS id")
      // and the padded cells actually carry the declared pad id
      val padIds = graft.sources.PackedArtifactStore
        .readWindows(spark, nsStore)
        .filter(col("n_tokens") < 512)
        .select(element_at(col("token_ids"), 512).as("last")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(padIds == Set(999L),
        s"pad tails must carry the declared pad id, got $padIds")
      // streaming reject
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
      val sdf = ms.toDF.toDF("doc_id", "text", "ts")
      intercept[UnsupportedOperationException] {
        graft.plans.CurationCompiler.compileStreamingChat(
          graft.config.ChatCurationConfig.fromYaml(
            s"""chat_curation:
               |  tokenizer: {kind: bpe_bytes, merges: $tmp}
               |  stages:
               |    - {op: pack_store, path: $cfgStore}
               |""".stripMargin), sdf, "ts", "10 minutes")
      }
    } finally {
      rmrf(tmp); rmrf(cfgStore); rmrf(nsStore); rmrf(progStore)
    }
  }

  test("doc_spans / pack_sft_spans stages: parse, tokenizer-required, terminal, zero drift, stream reject") {
    val merges = Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
      ("69", "6E"), ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_spans_cfg").toString
    try {
      graft.sources.ModelStore.saveMerges(spark,
        merges.map { case (l, r) => (l, r, 0L) }, tmp)
      // tokenizer required on BOTH surfaces
      intercept[IllegalArgumentException] {
        graft.config.CurationConfig.fromYaml(
          "curation:\n  stages:\n    - {op: doc_spans}\n")
      }
      intercept[IllegalArgumentException] {
        graft.config.ChatCurationConfig.fromYaml(
          "chat_curation:\n  stages:\n    - {op: pack_sft_spans}\n")
      }
      // terminal enforced
      intercept[IllegalArgumentException] {
        graft.config.CurationConfig.fromYaml(
          s"""curation:
             |  tokenizer: {kind: bpe_bytes, merges: $tmp}
             |  stages:
             |    - {op: doc_spans}
             |    - {op: strip_markup}
             |""".stripMargin)
      }
      // zero drift vs the programmatic address book — document side
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val cfgD = graft.plans.CurationCompiler.compileYaml(
        s"""curation:
           |  tokenizer: {kind: bpe_bytes, merges: $tmp}
           |  stages:
           |    - {op: doc_spans, budget: 64, shards: 4}
           |""".stripMargin, docs)
      val wantD = graft.operators.TextStats.packedDocSpans(docs,
        "doc_id", "text", merges, budget = 64, shards = 4)
      assert(cfgD.collect().map(_.toSeq).toSet ==
        wantD.collect().map(_.toSeq).toSet,
        "config doc_spans must equal the programmatic address book")
      // chat side
      val convs = docs.limit(50).select(col("doc_id"), array(
        struct(lit("user").as("role"), col("text").as("content")),
        struct(lit("assistant").as("role"),
          substring(col("text"), 1, 40).as("content"))).as("conv"))
      val cfgC = graft.plans.CurationCompiler.compileChatYaml(
        s"""chat_curation:
           |  tokenizer: {kind: bpe_bytes, merges: $tmp}
           |  stages:
           |    - {op: pack_sft_spans, budget: 64, shards: 4}
           |""".stripMargin, convs)
      val wantC = graft.operators.Chat.sftPackedDocSpans(convs,
        "doc_id", "conv", merges, budget = 64, shards = 4)
      assert(cfgC.collect().map(_.toSeq).toSet ==
        wantC.collect().map(_.toSeq).toSet,
        "config pack_sft_spans must equal the programmatic address book")
      // streaming compilers reject cleanly on both surfaces
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
      val sdf = ms.toDF.toDF("doc_id", "text", "ts")
      intercept[UnsupportedOperationException] {
        graft.plans.CurationCompiler.compileStreaming(
          graft.config.CurationConfig.fromYaml(
            s"""curation:
               |  tokenizer: {kind: bpe_bytes, merges: $tmp}
               |  stages:
               |    - {op: doc_spans}
               |""".stripMargin), sdf, "ts", "10 minutes")
      }
      val msc = MemoryStream[(Long, String, java.sql.Timestamp)]
      val cdf = msc.toDF.toDF("doc_id", "packed", "ts")
        .withColumn("conv", array(struct(lit("user").as("role"),
          col("packed").as("content"))))
      intercept[UnsupportedOperationException] {
        graft.plans.CurationCompiler.compileStreamingChat(
          graft.config.ChatCurationConfig.fromYaml(
            s"""chat_curation:
               |  tokenizer: {kind: bpe_bytes, merges: $tmp}
               |  stages:
               |    - {op: pack_sft_spans}
               |""".stripMargin), cdf, "ts", "10 minutes")
      }
    } finally {
      import java.nio.file.{Files, Path, Paths}
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("pack_sft_ids_nosplit / pack_sft_spans_nosplit stages: parse, no-drift, stream reject") {
    val merges = Seq(("74", "68"), ("7468", "65"), ("69", "6E"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_nosplit_cfg").toString
    try {
      graft.sources.ModelStore.saveMerges(spark,
        merges.map { case (l, r) => (l, r, 0L) }, tmp)
      // tokenizer required
      intercept[IllegalArgumentException] {
        graft.config.ChatCurationConfig.fromYaml(
          "chat_curation:\n  stages:\n    - {op: pack_sft_ids_nosplit}\n")
      }
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val convs = docs.limit(40).select(col("doc_id"), array(
        struct(lit("user").as("role"), col("text").as("content")),
        struct(lit("assistant").as("role"),
          substring(col("text"), 1, 30).as("content"))).as("conv"))
      // ids: zero drift vs programmatic, incl. pad_id override
      val cfgIds = graft.plans.CurationCompiler.compileChatYaml(
        s"""chat_curation:
           |  tokenizer: {kind: bpe_bytes, merges: $tmp}
           |  stages:
           |    - {op: pack_sft_ids_nosplit, budget: 96, shards: 4, pad_id: 7}
           |""".stripMargin, convs)
      val wantIds = graft.operators.Chat.sftPackedTokenIdsNoSplit(convs,
        "doc_id", "conv", merges, budget = 96, shards = 4,
        padId = Some(7L))
      assert(cfgIds.collect().map(_.toSeq).toSet ==
        wantIds.collect().map(_.toSeq).toSet,
        "config pack_sft_ids_nosplit must equal the programmatic packer")
      // spans: zero drift
      val cfgSp = graft.plans.CurationCompiler.compileChatYaml(
        s"""chat_curation:
           |  tokenizer: {kind: bpe_bytes, merges: $tmp}
           |  stages:
           |    - {op: pack_sft_spans_nosplit, budget: 96, shards: 4}
           |""".stripMargin, convs)
      val wantSp = graft.operators.Chat.sftPackedDocSpansNoSplit(convs,
        "doc_id", "conv", merges, budget = 96, shards = 4)
      assert(cfgSp.collect().map(_.toSeq).toSet ==
        wantSp.collect().map(_.toSeq).toSet,
        "config pack_sft_spans_nosplit must equal the programmatic spans")
      // streaming reject (sequential per-shard next-fit is corpus-global)
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
      val cdf = ms.toDF.toDF("doc_id", "packed", "ts")
        .withColumn("conv", array(struct(lit("user").as("role"),
          col("packed").as("content"))))
      intercept[UnsupportedOperationException] {
        graft.plans.CurationCompiler.compileStreamingChat(
          graft.config.ChatCurationConfig.fromYaml(
            s"""chat_curation:
               |  tokenizer: {kind: bpe_bytes, merges: $tmp}
               |  stages:
               |    - {op: pack_sft_ids_nosplit}
               |""".stripMargin), cdf, "ts", "10 minutes")
      }
    } finally {
      import java.nio.file.{Files, Path, Paths}
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("pack_sft_ids chat stage: terminal + tokenizer-required + zero drift") {
    val merges = Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
      ("69", "6E"), ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_sftpack_cfg").toString
    try {
      graft.sources.ModelStore.saveMerges(spark,
        merges.map { case (l, r) => (l, r, 0L) }, tmp)
      intercept[IllegalArgumentException] {
        graft.config.ChatCurationConfig.fromYaml(
          "chat_curation:\n  stages:\n    - {op: pack_sft_ids}\n")
      }
      intercept[IllegalArgumentException] {
        graft.config.ChatCurationConfig.fromYaml(
          s"""chat_curation:
             |  tokenizer: {kind: bpe_bytes, merges: $tmp}
             |  stages:
             |    - {op: pack_sft_ids}
             |    - {op: redact}
             |""".stripMargin)
      }
      import org.apache.spark.sql.Row
      val convType = org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("role",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("content",
            org.apache.spark.sql.types.StringType))))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("conv", convType)))
      val convs = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(1L, Seq(Row("user", "the and"), Row("assistant", "in on"))),
          Row(2L, Seq(Row("user", "q"), Row("assistant", "the then"))))),
        schema)
      val cfg = graft.plans.CurationCompiler.compileChatYaml(
        s"""chat_curation:
           |  tokenizer: {kind: bpe_bytes, merges: $tmp}
           |  stages:
           |    - {op: validate_filter}
           |    - {op: pack_sft_ids, budget: 16, shards: 2, eos_id: 300}
           |""".stripMargin, convs)
      val okIds = graft.operators.Chat.validateChat(convs, "conv")
        .filter(col("chat_ok")).select(col("doc_id"))
      val want = graft.operators.Chat.sftPackedTokenIds(
        convs.join(okIds, Seq("doc_id"), "left_semi"),
        "doc_id", "conv", merges, budget = 16, shards = 2,
        eosId = Some(300L))
      assert(cfg.collect().map(_.toSeq).toSet ==
        want.collect().map(_.toSeq).toSet,
        "config pack_sft_ids must equal the programmatic composition")
    } finally {
      import java.nio.file.{Files, Path, Paths}
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("events rfm config: parsed, compiled through rfmCard, zero drift") {
    val cfg = graft.config.EventsRfmConfig.fromYaml(
      """events_rfm:
        |  value_col: value
        |  n_tiles: 4
        |""".stripMargin)
    assert(cfg.userCol == "user_id" && cfg.tsCol == "ts" && cfg.nTiles == 4)
    intercept[IllegalArgumentException] {
      graft.config.EventsRfmConfig.fromYaml("events_rfm: {n_tiles: 1}")
    }
    intercept[IllegalArgumentException] {
      graft.config.EventsRfmConfig.fromYaml("other_root: {}")
    }
    // the retired routing threshold is an unknown key now: loud, named
    val retired = intercept[IllegalArgumentException] {
      graft.config.EventsRfmConfig.fromYaml(
        "events_rfm: {value_col: value, max_plain_keys: 1}")
    }
    assert(retired.getMessage.contains("'max_plain_keys'"), retired.getMessage)
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    // the fixture's key count is far below the threshold: the plain
    // global-ntile plan, row-for-row equal to the programmatic card
    // AND to the forced sharded ranks
    val compiled = CurationCompiler.compileEventsRfmYaml(
      "events_rfm: {value_col: value}", events)
    val parts = PlanWalk.nodes(compiled).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.length
    }
    assert(parts.contains(0),
      "a below-threshold rfm config takes the plain global-ntile plan")
    val got = compiled.collect().map(_.toSeq).toSet
    assert(got == graft.operators.Windowed.rfmCard(events,
      "user_id", "ts", "value", nTiles = 5).collect().map(_.toSeq).toSet,
      "config-compiled rfm must equal the programmatic card")
    assert(got == graft.operators.Windowed.rfmCardSharded(events,
      "user_id", "ts", "value", nTiles = 5, vBuckets = 8, kBuckets = 8)
      .collect().map(_.toSeq).toSet,
      "both plans must produce the identical card")
  }

  /** The Spark jobs `body` launches, in start order, as (description,
    * is a result job) pairs (the DedupSpec listener pattern: a private
    * job group, so jobs of other work never count). Under AQE one
    * driver action is one result job plus one job per shuffle stage it
    * materializes first; a job whose final stage is a shuffle map stage
    * (a stage with a shuffle dependency id — Spark-internal, read
    * reflectively) is such a stage job. */
  private def shuffleDepId(si: org.apache.spark.scheduler.StageInfo): Option[_] =
    si.getClass.getMethod("shuffleDepId").invoke(si).asInstanceOf[Option[_]]

  private def constructionJobs(group: String)(body: => Unit): Seq[(String, Boolean)] = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          started.add((String.valueOf(e.properties.getProperty("spark.job.description")),
            shuffleDepId(e.stageInfos.maxBy(_.stageId)).isEmpty))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "caller", interruptOnCancel = false)
    try {
      body
      // job events reach listeners asynchronously: wait for the tracker's count
      val deadline = System.nanoTime() + 10000000000L
      while (started.size < sc.statusTracker.getJobIdsForGroup(group).length &&
          System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(200)
      assert(started.size == sc.statusTracker.getJobIdsForGroup(group).length)
      import scala.jdk.CollectionConverters._
      started.asScala.toSeq
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }

  test("events configs and rfmCard launch only their own construction jobs") {
    // frames no earlier test has built: a per-JVM cache of earlier
    // answers cannot hide a construction job
    val log = spark.range(6000).select(
      when(col("id") % 5 < 3, lit(7L)).otherwise(col("id") % 89).as("user_id"),
      timestamp_millis(lit(1710000000000L) + col("id") * 7000L).as("ts"),
      col("id").as("event_id"),
      when(col("id") % 3 === 0, lit("purchase")).otherwise(lit("view"))
        .as("event_type"),
      (col("id") % 13).cast("double").as("value"))
    val skewYaml =
      """events_analytics:
        |  enrich: {left_type: purchase, right_type: view, value_col: value}
        |  sessions: {gap_seconds: 600}
        |  skew: {num_buckets: 8}
        |""".stripMargin
    var skewed: org.apache.spark.sql.DataFrame = null
    val eventsJobs = constructionJobs("graft-events-construction") {
      skewed = CurationCompiler.compileEventsYaml(skewYaml, log)
    }
    assert(eventsJobs.filter(_._2).map(_._1).sorted == Seq(
      "graft:Temporal.asofJoinSkewed.span", "graft:Windowed.sessionizeSkewed.span"),
      s"the skew mapping may launch only the two span passes, got $eventsJobs")
    assert(eventsJobs.forall(j => j._1.endsWith(".span")),
      s"every stage job belongs to a span pass, got $eventsJobs")
    val plain = CurationCompiler.compileEventsYaml(
      skewYaml.replace("  skew: {num_buckets: 8}\n", ""), log)
    assert(skewed.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet)

    val keyed = log.withColumn("user_id", col("event_id") % 2000)
    var card: org.apache.spark.sql.DataFrame = null
    val cardJobs = constructionJobs("graft-rfm-construction") {
      card = graft.operators.Windowed.rfmCard(keyed, "user_id", "ts", "value")
    }
    assert(cardJobs.count(_._2) == 1 &&
      cardJobs.forall(_._1 == "graft:Windowed.rfmCard.stats"),
      s"rfmCard must launch exactly its one stats job, got $cardJobs")
    // past a lowered threshold (2,000 keys > 100) the same single stats
    // pass picks the sharded ranks: no unpartitioned window, same card
    var sharded: org.apache.spark.sql.DataFrame = null
    val shardedJobs = constructionJobs("graft-rfm-sharded-construction") {
      sharded = graft.operators.Windowed.rfmCardWith(keyed, "user_id", "ts",
        "value", 5, plainMaxKeys = 100L, vBuckets = 8, kBuckets = 8)
    }
    assert(shardedJobs.count(_._2) == 1 &&
      shardedJobs.forall(_._1 == "graft:Windowed.rfmCard.stats"),
      s"a numeric-key sharded card needs only the stats job, got $shardedJobs")
    val planWindows = PlanWalk.nodes(sharded).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w.partitionSpec.length
    }
    assert(planWindows.nonEmpty && !planWindows.contains(0),
      s"past the threshold the card must take the sharded ranks, got $planWindows")
    assert(PlanWalk.nodes(card).exists {
      case w: org.apache.spark.sql.execution.window.WindowExec => w.partitionSpec.isEmpty
      case _ => false
    }, "below the threshold the card takes the three global ntile windows")
    assert(sharded.collect().map(_.toSeq).toSet == card.collect().map(_.toSeq).toSet)

    // the other bucketed plans' span passes carry their operator's name too
    val rollJobs = constructionJobs("graft-rolling-construction") {
      graft.operators.Windowed.rollingAggSkewed(log, "user_id", "ts", "value",
        3, "event_id", numBuckets = 8)
    }
    assert(rollJobs.count(_._2) == 1 &&
      rollJobs.forall(_._1 == "graft:Windowed.rollingAggSkewed.span"),
      s"rollingAggSkewed must launch only its named span pass, got $rollJobs")
    val scdJobs = constructionJobs("graft-scd2-construction") {
      graft.operators.Temporal.changeIntervalsSkewed(log, "user_id", "ts",
        "event_type", Some("event_id"), numBuckets = 8)
    }
    assert(scdJobs.count(_._2) == 1 &&
      scdJobs.forall(_._1 == "graft:Temporal.changeIntervalsSkewed.span"),
      s"changeIntervalsSkewed must launch only its named span pass, got $scdJobs")
  }

  test("events analytics config: parse defaults and loud failures") {
    val cfg = graft.config.EventsAnalyticsConfig.fromYaml(
      """events_analytics:
        |  enrich: {left_type: a, right_type: b, tolerance_seconds: 60}
        |  sessions: {gap_seconds: 100}
        |""".stripMargin)
    assert(cfg.userCol == "user_id" && cfg.typeCol == "event_type" &&
      cfg.toleranceSeconds == Some(60.0) && cfg.sessionGapSeconds == 100L)
    intercept[IllegalArgumentException] {
      graft.config.EventsAnalyticsConfig.fromYaml(
        "events_analytics:\n  sessions: {gap_seconds: 1}\n")
    }
    intercept[IllegalArgumentException] {
      graft.config.EventsAnalyticsConfig.fromYaml(
        "events_analytics:\n  enrich: {left_type: a, right_type: a}\n" +
          "  sessions: {gap_seconds: 1}\n")
    }
    // unknown keys fail at parse time and name the key, at every level:
    // a config written for the retired routing share stops here
    // instead of silently compiling another plan
    def unknown(yaml: String, key: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        graft.config.EventsAnalyticsConfig.fromYaml(yaml)
      }
      assert(e.getMessage.contains(s"'$key'"), e.getMessage)
    }
    val ok = "events_analytics:\n  enrich: {left_type: a, right_type: b}\n" +
      "  sessions: {gap_seconds: 1}\n"
    unknown(ok + "  skew: {share: 0.001, num_buckets: 8}\n", "share")
    unknown(ok + "  skew_buckets: 8\n", "skew_buckets")
    unknown("events_analytics:\n  enrich: {left_type: a, right_type: b, " +
      "tolerance: 60}\n  sessions: {gap_seconds: 1}\n", "tolerance")
    unknown("events_analytics:\n  enrich: {left_type: a, right_type: b}\n" +
      "  sessions: {gap_seconds: 1, gap: 2}\n", "gap")
    intercept[IllegalArgumentException] { // skew must be a mapping
      graft.config.EventsAnalyticsConfig.fromYaml(ok + "  skew: 8\n")
    }
  }

  test("from_store config (r20, VERDICT r19 #3): every surface mounts the artifact identically to the programmatic reader; parse/validation loud; streaming legality") {
    val merges = Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
      ("69", "6E"), ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
    val dir = java.nio.file.Files.createTempDirectory("graft_from_store").toString
    def rmrf(d: String): Unit = {
      import java.nio.file.{Files, Path, Paths}
      Files.walk(Paths.get(d)).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      graft.sources.PackedArtifactStore.write(
        graft.operators.TextStats.materializePackedTokenIds(docs, "doc_id",
          "text", merges, budget = 128, shards = 4),
        graft.operators.TextStats.packedDocSpans(docs, "doc_id", "text",
          merges, budget = 128, shards = 4),
        dir,
        graft.sources.PackedArtifactStore.Meta(128, 4, 4,
          256L + merges.size, epochs = 2, seed = 9L))
      def read(y: String, res: Map[String, org.apache.spark.sql.DataFrame] = Map.empty) =
        graft.plans.CurationCompiler.compileStoreReadYaml(y, spark, res)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      // parse/validation: loud failures
      intercept[IllegalArgumentException] {
        graft.config.StoreReadConfig.fromYaml("from_store: {read: windows}")
      }
      intercept[IllegalArgumentException] {
        graft.config.StoreReadConfig.fromYaml(s"from_store: {path: $dir}")
      }
      intercept[IllegalArgumentException] {
        graft.config.StoreReadConfig.fromYaml(
          s"from_store: {path: $dir, read: nonsense}")
      }
      intercept[IllegalArgumentException] {
        graft.config.StoreReadConfig.fromYaml(
          s"from_store: {path: $dir, read: window_mix}") // docs missing
      }
      intercept[IllegalArgumentException] {
        graft.config.StoreReadConfig.fromYaml(
          s"from_store: {path: $dir, read: ordered_slice, epoch: 0}")
      }
      // each surface == the programmatic reader
      assert(rows(read(s"from_store: {path: $dir, read: windows}")) ==
        rows(graft.sources.PackedArtifactStore.readWindows(spark, dir)))
      assert(rows(read(s"from_store: {path: $dir, read: spans}")) ==
        rows(graft.sources.PackedArtifactStore.readSpans(spark, dir)))
      assert(rows(read(s"from_store: {path: $dir, read: manifest}")) ==
        rows(graft.sources.PackedArtifactStore.readManifest(spark, dir)))
      assert(rows(read(s"from_store: {path: $dir, read: validate}")) ==
        rows(graft.sources.PackedArtifactStore.validate(spark, dir)))
      assert(rows(read(s"from_store: {path: $dir, read: unpack}")) ==
        rows(graft.operators.TextStats.unpackTokenWindows(
          graft.sources.PackedArtifactStore.readWindows(spark, dir),
          graft.sources.PackedArtifactStore.readSpans(spark, dir))))
      assert(rows(read(s"from_store: {path: $dir, read: ordered, epoch: 1}")) ==
        rows(graft.sources.PackedArtifactStore.readWindowsOrdered(spark,
          dir, 1L)))
      assert(rows(read(
        s"from_store: {path: $dir, read: ordered_slice, epoch: 1, slice: 1, n_slices: 3}")) ==
        rows(graft.sources.PackedArtifactStore.readWindowsOrderedSlice(spark,
          dir, 1L, 1, 3)))
      assert(rows(read(
        s"from_store: {path: $dir, read: window_mix, docs: d, stratum_col: source}",
        Map("d" -> docs))) ==
        rows(graft.operators.TextStats.packedWindowMix(
          graft.sources.PackedArtifactStore.readSpans(spark, dir), docs,
          "doc_id", "source")))
      // streaming legality: windows/spans stream as file sources, the
      // corpus-global surfaces reject with their reasons
      val cfgW = graft.config.StoreReadConfig.fromYaml(
        s"from_store: {path: $dir, read: windows}")
      val streamW = graft.plans.CurationCompiler
        .compileStoreReadStreaming(cfgW, spark)
      assert(streamW.isStreaming,
        "the windows surface must compile to a file stream")
      // ADVICE r20: the streamed frame must match the BATCH reader's
      // schema exactly (shard cast to LongType, leading position) so
      // stream/batch frames union without a type or order mismatch
      assert(streamW.schema ==
        graft.sources.PackedArtifactStore.readWindows(spark, dir).schema,
        "streaming windows schema must equal the batch read's")
      val cfgS = graft.config.StoreReadConfig.fromYaml(
        s"from_store: {path: $dir, read: spans}")
      assert(graft.plans.CurationCompiler
        .compileStoreReadStreaming(cfgS, spark).schema ==
        graft.sources.PackedArtifactStore.readSpans(spark, dir).schema,
        "streaming spans schema must equal the batch read's")
      // ADVICE r20: structurally malformed YAML raises the loud
      // IllegalArgumentException contract, not a ClassCastException
      intercept[IllegalArgumentException] {
        graft.config.StoreReadConfig.fromYaml("from_store: [a, b]")
      }
      intercept[IllegalArgumentException] {
        graft.config.StoreReadConfig.fromYaml("- just\n- a\n- list\n")
      }
      intercept[IllegalArgumentException] {
        graft.config.StoresInterleaveConfig.fromYaml("from_stores: scalar")
      }
      intercept[IllegalArgumentException] {
        graft.config.StoresInterleaveConfig.fromYaml(
          "from_stores: {stores: notalist}")
      }
      intercept[UnsupportedOperationException] {
        graft.plans.CurationCompiler.compileStoreReadStreaming(
          graft.config.StoreReadConfig.fromYaml(
            s"from_store: {path: $dir, read: unpack}"), spark)
      }
      intercept[UnsupportedOperationException] {
        graft.plans.CurationCompiler.compileStoreReadStreaming(
          graft.config.StoreReadConfig.fromYaml(
            s"from_store: {path: $dir, read: ordered, epoch: 0}"), spark)
      }
    } finally rmrf(dir)
  }
}
