package graft

import graft.config._
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.SessionEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("windowed counts aggregate a micro-batch with watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val stream = mem.toDF().toDF("ts", "user_id", "value")
    val out = StreamingOps.windowedEventCounts(stream, "ts", "user_id",
      "value", "10 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    mem.addData(
      (ts("2024-01-01 00:01:00"), 1L, 2.0),
      (ts("2024-01-01 00:02:00"), 1L, 3.0),
      (ts("2024-01-01 00:11:00"), 1L, 5.0),
      (ts("2024-01-01 00:03:00"), 2L, 7.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM win_counts").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    q.stop()
    assert(rows == Set(
      ("2024-01-01 00:00:00.0", 1L, 2L, 5.0),
      ("2024-01-01 00:10:00.0", 1L, 1L, 5.0),
      ("2024-01-01 00:00:00.0", 2L, 1L, 7.0)))
  }

  test("sessionize closes a session on gap within one batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val out = StreamingOps.sessionize(mem.toDS(), gapMs = 60000L,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    // two bursts 10 minutes apart -> first session closes when the second arrives
    mem.addData(
      SessionEvent(1L, ts("2024-01-01 00:00:00"), "click"),
      SessionEvent(1L, ts("2024-01-01 00:00:30"), "view"),
      SessionEvent(1L, ts("2024-01-01 00:10:00"), "click"))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM sessions").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getInt(3)))
    q.stop()
    assert(rows.toSeq == Seq((1L, "2024-01-01 00:00:00.0", "2024-01-01 00:00:30.0", 2)))
  }

  test("column-configured sessionize works over a renamed, string-keyed schema") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("device", "seen_at", "kind")
    val out = StreamingOps.sessionize(stream, "device", "seen_at", gapMs = 60000L,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
    assert(out.columns.toSeq == Seq("device", "session_start", "session_end", "n_events"))
    val q = out.writeStream.format("memory").queryName("col_sessions")
      .outputMode("append").start()
    mem.addData(
      ("cam-a", ts("2024-01-01 00:00:00"), "ping"),
      ("cam-a", ts("2024-01-01 00:00:30"), "ping"),
      ("cam-a", ts("2024-01-01 00:10:00"), "ping"), // gap -> closes first session
      ("cam-b", ts("2024-01-01 00:00:00"), "ping"))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM col_sessions").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
    q.stop()
    assert(rows.toSeq == Seq(("cam-a", "2024-01-01 00:00:00.0", "2024-01-01 00:00:30.0", 2L)))
  }

  test("compileStream applies a migration config incrementally with a static lookup") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq((1, "ALPHA"), (2, "BETA")).toDF("k", "v")
    val mem = MemoryStream[(Long, Int)]
    val cfg = TableConfig(sourceTable = "s", targetTable = "t", mappings = List(
      MappingRule(source = Some("id"), target = Some("id")),
      MappingRule(source = Some("nation"), target = Some("nation_name"),
        lookup = Some(LookupConfig("dim", "k", Some("v"), Some("null"))))))
    val out = StreamingOps.compileStream(cfg, mem.toDF().toDF("id", "nation"),
      n => if (n == "dim") Some(dim) else None)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("stream_migrate")
      .outputMode("append").start()
    mem.addData((10L, 1), (20L, 3))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM stream_migrate").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    q.stop()
    assert(rows == Map(10L -> "ALPHA", 20L -> null))
  }

  test("streamingExactDedup collapses duplicates within the watermark, fingerprint-keyed") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = StreamingOps.streamingExactDedup(
      mem.toDF().toDF("ts", "text"), "text", "ts", "10 minutes", byFingerprint = true)
    val q = deduped.writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 10:00:00"), "same doc"),
      (ts("2024-01-01 10:01:00"), "same doc"), // dup within watermark
      (ts("2024-01-01 10:02:00"), "other doc"))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 10:03:00"), "same doc")) // still within watermark
    q.processAllAvailable()
    val texts = spark.sql("SELECT text FROM stream_dedup").collect().map(_.getString(0))
    q.stop()
    assert(texts.sorted.toSeq == Seq("other doc", "same doc"))
    assert(!deduped.columns.contains("__fp")) // helper column dropped
  }

  test("streamingExactDedupAgainstIndex drops indexed texts per micro-batch, " +
    "decisions equal the batch delta operator") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 400)
    val p = java.nio.file.Files.createTempDirectory("graft_stream_didx").toString
    graft.operators.DedupIndex.build(corpus, "doc_id", "text", p)
    // a batch of: one text the index has (any indexed doc), one it doesn't
    val known = corpus.select("text").head().getString(0)
    val mem = MemoryStream[(Long, String)]
    val out = StreamingOps.streamingExactDedupAgainstIndex(
      mem.toDF().toDF("doc_id", "text"), "text", p)
    val q = out.writeStream.format("memory").queryName("stream_idx_dedup")
      .outputMode("append").start()
    mem.addData((9001L, known), (9002L, "a genuinely novel crawl document"))
    q.processAllAvailable()
    mem.addData((9003L, known)) // the static index applies to EVERY batch
    q.processAllAvailable()
    val got = spark.sql("SELECT doc_id FROM stream_idx_dedup")
      .collect().map(_.getLong(0)).toSet
    q.stop()
    assert(got == Set(9002L), s"expected only the novel doc, got $got")
    // batch twin on the same rows
    val batch = graft.operators.DedupIndex.exactDedupAgainst(
        Seq((9001L, known), (9002L, "a genuinely novel crawl document"),
          (9003L, known)).toDF("doc_id", "text"), "text", p)
      .collect().map(_.getLong(0)).toSet
    assert(batch == got)
  }

  test("minhashDedupAgainstIndexBatches: per-batch decisions equal the batch " +
    "delta operator row-for-row") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") < 400)
    val p = java.nio.file.Files.createTempDirectory("graft_stream_mhidx").toString
    graft.operators.DedupIndex.build(corpus, "doc_id", "text", p)
    // two micro-batches of real new docs (the suite's standing split has
    // genuine cross-set near-dups, so the delta actually drops rows)
    val newRows = docs.filter(col("doc_id") >= 400)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (batch1, batch2) = newRows.splitAt(newRows.length / 2)
    val got = scala.collection.concurrent.TrieMap[Long, Set[Long]]()
    val stage = StreamingOps.minhashDedupAgainstIndexBatches(
      "doc_id", "text", p, threshold = 0.5) { (survivors, id) =>
      got(id) = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(stage).start()
    mem.addData(batch1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(batch2.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    // batch twin per micro-batch: same frames, same index, same decision
    def batchDecision(rows: Array[(Long, String)]): Set[Long] = {
      val frame = rows.toSeq.toDF("doc_id", "text")
      val pairs = graft.operators.DedupIndex.minhashLshPairsAgainst(
        frame, "doc_id", "text", p, threshold = 0.5)
      frame.join(pairs.select(col("doc_new").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(got.keySet == Set(0L, 1L))
    assert(got(0L) == batchDecision(batch1))
    assert(got(1L) == batchDecision(batch2))
    // the delta must actually fire on this split, or the test is vacuous
    assert(got(0L).size + got(1L).size < newRows.length,
      "expected at least one near-dup drop across the micro-batches")
  }

  test("decontaminateBatches: per-batch decisions equal the batch operator") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val eval = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select("doc_id", "text")
    val newRows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (batch1, batch2) = newRows.splitAt(newRows.length / 2)
    val got = scala.collection.concurrent.TrieMap[Long, Set[Long]]()
    val stage = StreamingOps.decontaminateBatches("doc_id", "text", eval, n = 13) {
      (survivors, id) =>
        got(id) = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(stage).start()
    mem.addData(batch1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(batch2.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    def batchDecision(rows: Array[(Long, String)]): Set[Long] =
      graft.operators.Dedup.decontaminate(rows.toSeq.toDF("doc_id", "text"),
          eval, "doc_id", "text", n = 13)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.keySet == Set(0L, 1L))
    assert(got(0L) == batchDecision(batch1))
    assert(got(1L) == batchDecision(batch2))
    assert(got(0L).size + got(1L).size < newRows.length,
      "decontamination must actually drop rows on this corpus")
  }

  test("scrubContaminatedWindowsBatches: per-batch rebuilds equal the batch operator") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val eval = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select("doc_id", "text")
    val newRows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (batch1, batch2) = newRows.splitAt(newRows.length / 2)
    val got = scala.collection.concurrent.TrieMap[Long, Map[Long, String]]()
    val stage = StreamingOps.scrubContaminatedWindowsBatches(
        "doc_id", "text", eval, n = 8) { (scrubbed, id) =>
      got(id) = scrubbed.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(stage).start()
    mem.addData(batch1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(batch2.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    def batchDecision(rows: Array[(Long, String)]): Map[Long, String] =
      graft.operators.Dedup.scrubContaminatedWindows(
          rows.toSeq.toDF("doc_id", "text"), eval, "doc_id", "text", n = 8)
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == Set(0L, 1L))
    assert(got(0L) == batchDecision(batch1))
    assert(got(1L) == batchDecision(batch2))
    // the eval slice streams through too and is scrubbed to empty
    val evalIds = eval.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(evalIds.forall(id => (got(0L) ++ got(1L))(id) == ""),
      "eval members must be fully scrubbed")
  }

  test("semanticDecontaminateBatches: per-batch decisions equal the batch operator") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val eval = emb.filter(pmod(col("vec_id"), lit(97)) === 0)
      .select("vec_id", "embedding")
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val (batch1, batch2) = rows.splitAt(rows.length / 2)
    val got = scala.collection.concurrent.TrieMap[Long, Set[Long]]()
    val stage = StreamingOps.semanticDecontaminateBatches("vec_id", "embedding",
      eval, threshold = 0.45) { (survivors, id) =>
        got(id) = survivors.select("vec_id").collect().map(_.getLong(0)).toSet
    }
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(stage).start()
    mem.addData(batch1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(batch2.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    def batchDecision(rs: Array[(Long, Seq[Float])]): Set[Long] =
      graft.operators.Similarity.semanticDecontaminate(
          rs.toSeq.toDF("vec_id", "embedding"), eval,
          "vec_id", "embedding", 0.45)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.keySet == Set(0L, 1L))
    assert(got(0L) == batchDecision(batch1))
    assert(got(1L) == batchDecision(batch2))
    assert(got(0L).size + got(1L).size < rows.length,
      "semantic decontamination must actually drop rows on this corpus")
  }

  test("compileStream dispatches the configured validation plugin chain") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.plugins.PluginRegistry.install(new graft.plugins.LengthValidationPlugin)
    val mem = MemoryStream[(Long, String)]
    val cfg = TableConfig(sourceTable = "s", targetTable = "t", mappings = List(
      MappingRule(source = Some("v"), target = Some("v"), validation =
        List(ValidationRule("length", pattern = Some("1-4"), onFail = Some("skip"))))))
    val out = StreamingOps.compileStream(cfg, mem.toDF().toDF("id", "v"), _ => None,
      GlobalConfig(validationPlugins = List("length_validation", "default_validation")))
    val q = out.writeStream.format("memory").queryName("stream_chain")
      .outputMode("append").start()
    mem.addData((1L, "ok"), (2L, "waytoolong"))
    q.processAllAvailable()
    val vs = spark.sql("SELECT v FROM stream_chain").collect().map(_.getString(0))
    q.stop()
    assert(vs.toSeq == Seq("ok")) // plugin rule skipped the long value
  }

  test("compileStream rejects abort rules (no pre-scan on a stream)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val cfg = TableConfig(sourceTable = "s", targetTable = "t", mappings = List(
      MappingRule(source = Some("v"), target = Some("v"), validation =
        List(ValidationRule("regex", pattern = Some("[0-9]+"), onFail = Some("error"))))))
    intercept[IllegalArgumentException] {
      StreamingOps.compileStream(cfg, mem.toDF().toDF("id", "v"), _ => None)
    }
  }

  test("streamingCorpusClean matches the batch pipeline's decisions on a micro-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val good = "the house and the garden were quiet that morning and the light was very good"
    val rows = Seq(
      (1L, ts("2024-01-01 00:00:01"), good),  // keeps
      (2L, ts("2024-01-01 00:00:02"), good),  // dup of 1 within watermark -> dropped
      (3L, ts("2024-01-01 00:00:03"), Seq.fill(20)("buy now buy now").mkString(" ")), // repetitive
      (4L, ts("2024-01-01 00:00:04"),
        "der hund und die katze waren nicht in dem haus und das war auch gut"), // de
      (5L, ts("2024-01-01 00:00:05"), "zz qq xx vv ww")  // junk
    )
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = StreamingOps.streamingCorpusClean(
      mem.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
      watermark = "10 minutes", langs = Seq("en"), minQuality = 3,
      maxTopBigramRatio = 0.2)
    val q = out.writeStream.format("memory").queryName("stream_clean")
      .outputMode("append").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    val kept = spark.sql("SELECT doc_id FROM stream_clean").collect()
      .map(_.getLong(0)).toSet
    q.stop()
    // identical decisions to CorpusCleanSpec's batch case: only doc 1
    // survives (first-arriving copy of the duplicate text = lowest id
    // here, so the survivor matches batch too)
    assert(kept == Set(1L))
    // output schema matches the batch pipeline
    val batch = graft.operators.CorpusClean.clean(
      rows.map { case (id, _, t) => (id, t) }.toDF("doc_id", "text"),
      "doc_id", "text", langs = Seq("en"), minQuality = 3,
      maxTopBigramRatio = 0.2)
    assert(out.schema == batch.schema)
  }

  test("streaming langid and quality projections equal the batch operators row-for-row") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // real corpus rows (all five languages + junk present at sf0.001),
    // replayed as one micro-batch
    val staticDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val rows = staticDocs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val langOut = graft.functions.TextFunctions.withDetectedLanguage(
      mem.toDF().toDF("doc_id", "text"), col("text"), "detected_lang")
    val qualOut = StreamingOps.streamingQuality(
      mem.toDF().toDF("doc_id", "text"), "text")
    val q1 = langOut.writeStream.format("memory").queryName("stream_langid")
      .outputMode("append").start()
    val q2 = qualOut.writeStream.format("memory").queryName("stream_quality")
      .outputMode("append").start()
    mem.addData(rows: _*)
    q1.processAllAvailable(); q2.processAllAvailable()
    val streamLang = spark.sql("SELECT doc_id, detected_lang FROM stream_langid")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val streamQual = spark.sql(
        "SELECT doc_id, quality_score, n_tokens FROM stream_quality")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    q1.stop(); q2.stop()
    // batch twins on the same rows
    val batchLang = graft.functions.TextFunctions
      .withDetectedLanguage(staticDocs, col("text"), "detected_lang")
      .select("doc_id", "detected_lang")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val (staged, cols) = graft.functions.TextFunctions
      .stagedQuality(staticDocs, col("text"))
    val batchQual = staged
      .select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
      .select("doc_id", "quality_score", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamLang == batchLang)
    assert(streamQual == batchQual)
    // quality output keeps the frame's own columns plus the published set
    assert(qualOut.columns.startsWith(Seq("doc_id", "text")))
    assert(qualOut.columns.contains("quality_score"))
    // a frame column colliding with a published name (documents carries
    // its own n_chars) is REPLACED by the computed value, not duplicated
    // into an ambiguous pair
    val collided = StreamingOps.streamingQuality(
      mem.toDF().toDF("doc_id", "text").withColumn("n_chars", lit(-1L)), "text")
    assert(collided.columns.count(_ == "n_chars") == 1)
    assert(collided.select("n_chars").schema.nonEmpty) // resolvable by name
  }

  test("streaming samplers and split match the batch decisions row-for-row") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val staticDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val rows = staticDocs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val weight = least(lit(1.0), length(col("text")).cast("double") / 400.0)
    val sampled = graft.operators.Sampling.weightedSample(stream, "doc_id", weight)
    val split = graft.operators.Sampling.assignSplit(stream, "doc_id",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    assert(sampled.isStreaming && split.isStreaming)
    val q1 = sampled.writeStream.format("memory").queryName("stream_wsample")
      .outputMode("append").start()
    val q2 = split.writeStream.format("memory").queryName("stream_split")
      .outputMode("append").start()
    mem.addData(rows: _*)
    q1.processAllAvailable(); q2.processAllAvailable()
    val sIds = spark.sql("SELECT doc_id FROM stream_wsample")
      .collect().map(_.getLong(0)).toSet
    val sSplit = spark.sql("SELECT doc_id, split FROM stream_split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    q1.stop(); q2.stop()
    val bIds = graft.operators.Sampling
      .weightedSample(staticDocs, "doc_id", weight)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bSplit = graft.operators.Sampling
      .assignSplit(staticDocs, "doc_id",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sIds == bIds, "stream-sampled set must equal the batch decision")
    assert(sSplit == bSplit, "stream split must equal the batch assignment")
  }

  test("streaming reference-LM scoring is stateless and equals the batch scores") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val staticDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val ref = staticDocs.filter(col("doc_id") < 100)
    val rows = staticDocs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val scored = StreamingOps.streamingScoreAgainstReference(stream,
      "doc_id", "text", ref, "text", minCount = 2L)
    assert(scored.isStreaming, "must stay a streaming frame (stateless stage)")
    val q = scored.select("doc_id", "n_tokens", "mean_logprob")
      .writeStream.format("memory").queryName("stream_refscore")
      .outputMode("append").start()
    mem.addData(rows: _*); q.processAllAvailable()
    val got = spark.sql("SELECT doc_id, n_tokens, mean_logprob FROM stream_refscore")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    q.stop()
    val want = graft.operators.TextStats.unigramLogProbScoreAgainst(
        staticDocs, "doc_id", "text", ref, "text", minCount = 2L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(got.keySet == want.keySet)
    // count-weighted batch sum vs token-order streaming fold: both
    // round to 6 — agree within one ulp of the rounding grid
    want.foreach { case (id, (n, lp)) =>
      val (gn, glp) = got(id)
      assert(gn == n, s"doc $id n_tokens")
      (lp, glp) match {
        case (Some(a), Some(b)) =>
          assert(math.abs(a - b) <= 1e-6, s"doc $id: batch $a vs stream $b")
        case (x, y) => assert(x == y, s"doc $id null mismatch")
      }
    }
  }

  test("streamingScoreAgainstReference enforces the explicit maxVocab bound") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ref = Seq("aa aa bb bb cc cc dd dd").toDF("text") // 4 floored entries
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      StreamingOps.streamingScoreAgainstReference(stream, "doc_id", "text",
        ref, "text", minCount = 2L, maxVocab = 3)
    }
    assert(e.getMessage.contains("maxVocab"), e.getMessage)
    // at the bound it builds fine
    StreamingOps.streamingScoreAgainstReference(stream, "doc_id", "text",
      ref, "text", minCount = 2L, maxVocab = 4)
  }

  test("streaming DSIR scoring with frozen models equals the batch scores") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val staticDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val target = staticDocs.filter(col("doc_id") < 100)
    val rows = staticDocs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    // raw model frozen from the SAME static snapshot the batch run
    // scores -> decisions must agree
    val scored = StreamingOps.streamingDsirScore(stream, "doc_id", "text",
      target, "text", staticDocs, "text", numBuckets = 256)
    assert(scored.isStreaming, "must stay a streaming frame (stateless stage)")
    val q = scored.select("doc_id", "n_grams", "dsir_logratio")
      .writeStream.format("memory").queryName("stream_dsir")
      .outputMode("append").start()
    mem.addData(rows: _*); q.processAllAvailable()
    val got = spark.sql("SELECT doc_id, n_grams, dsir_logratio FROM stream_dsir")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    q.stop()
    val want = graft.operators.TextStats.dsirScore(staticDocs, "doc_id", "text",
        target, "text", numBuckets = 256)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, (n, lr)) =>
      val (gn, glr) = got(id)
      assert(gn == n, s"doc $id n_grams")
      (lr, glr) match {
        case (Some(a), Some(b)) =>
          assert(math.abs(a - b) <= 1e-6, s"doc $id: batch $a vs stream $b")
        case (x, y) => assert(x == y, s"doc $id null mismatch")
      }
    }
  }

  test("streamingTrendingTokens counts tokens per window with the minCount floor") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("ts", "text")
    val out = StreamingOps.streamingTrendingTokens(stream, "ts", "text",
      window = "10 minutes", watermark = "5 minutes", minCount = 2L)
    val q = out.writeStream.format("memory").queryName("trending")
      .outputMode("complete").start()
    mem.addData(
      (ts("2024-01-01 00:01:00"), "spam spam quality"),
      (ts("2024-01-01 00:02:00"), "spam text"),
      (ts("2024-01-01 00:11:00"), "spam once"))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM trending").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(2), r.getLong(3))).toSet
    q.stop()
    // window 1: spam x3 survives the floor; quality/text (x1) suppressed
    // window 2: spam x1 suppressed too
    assert(rows == Set(("2024-01-01 00:00:00.0", "spam", 3L)))
  }

  test("streamingChatDedup drops repeated answers, exempts assistant-less rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    def toConv(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("conv", transform(split(col("packed"), ";"), t =>
        struct(split(t, "\\|").getItem(0).as("role"),
          coalesce(split(t, "\\|").getItem(1), lit("")).as("content"))))
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = StreamingOps.streamingChatDedup(
      toConv(mem.toDF().toDF("id", "ts", "packed")), "id", "conv",
      "ts", "10 minutes")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("chat_dedup_s")
      .outputMode("append").start()
    mem.addData(
      (1L, ts("2024-01-01 00:01:00"), "user|how to sort;assistant|Use  Merge Sort"),
      (2L, ts("2024-01-01 00:02:00"), "user|fast sort?;assistant|use merge sort"),
      (3L, ts("2024-01-01 00:03:00"), "user|other;assistant|different"),
      (4L, ts("2024-01-01 00:04:00"), "user|no answer yet"),
      (5L, ts("2024-01-01 00:05:00"), "user|also unanswered"))
    q.processAllAvailable()
    val kept = spark.sql("SELECT id FROM chat_dedup_s").collect()
      .map(_.getLong(0)).toSet
    q.stop()
    assert(kept == Set(1L, 3L, 4L, 5L),
      s"2 duplicates 1's normalized answer; 4 and 5 are exempt; got $kept")
  }

  test("streamingTrendingTokensSketch equals exact windowed counts when k >= vocab") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val out = StreamingOps.streamingTrendingTokensSketch(
      mem.toDF().toDF("ts", "text"), "ts", "text",
      window = "10 minutes", watermark = "5 minutes", sketchK = 16, topM = 2)
    val q = out.writeStream.format("memory").queryName("trending_sk")
      .outputMode("complete").start()
    mem.addData(
      (ts("2024-01-01 00:01:00"), "spam spam quality"),
      (ts("2024-01-01 00:02:00"), "spam text"),
      (ts("2024-01-01 00:11:00"), "once upon once"))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM trending_sk").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(2), r.getLong(3))).toSet
    q.stop()
    // k >= per-window vocab: the sketch is exact; top-2 per window by
    // (count desc, token asc)
    assert(rows == Set(
      ("2024-01-01 00:00:00.0", "spam", 3L),
      ("2024-01-01 00:00:00.0", "quality", 1L),
      ("2024-01-01 00:10:00.0", "once", 2L),
      ("2024-01-01 00:10:00.0", "upon", 1L)), s"got $rows")
  }

  test("streamingQuantilesByWindow: per-window cuts exact below capacity") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val out = StreamingOps.streamingQuantilesByWindow(
      mem.toDF().toDF("ts", "len"), "ts", "len",
      probs = Seq(0.5, 1.0), capacity = 64,
      window = "10 minutes", watermark = "5 minutes")
    val q = out.writeStream.format("memory").queryName("quantwin")
      .outputMode("complete").start()
    // window 1: 1..9 -> p50 = 5, max = 9; window 2: 10,20 -> p50 = 10
    mem.addData((1 to 9).map(i =>
      (ts(s"2024-01-01 00:0$i:00"), i.toDouble)): _*)
    mem.addData((ts("2024-01-01 00:11:00"), 10.0),
      (ts("2024-01-01 00:12:00"), 20.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM quantwin").collect()
      .map(r => r.getTimestamp(0).toString ->
        ((r.getLong(2), r.getSeq[Double](3)))).toMap
    q.stop()
    assert(rows("2024-01-01 00:00:00.0") == ((9L, Seq(5.0, 9.0))),
      "below-capacity window must produce EXACT rank quantiles")
    assert(rows("2024-01-01 00:10:00.0") == ((2L, Seq(10.0, 20.0))))
  }

  test("streamingQualityByWindow aggregates doc quality per window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val out = StreamingOps.streamingQualityByWindow(
      mem.toDF().toDF("ts", "text"), "ts", "text",
      window = "10 minutes", watermark = "5 minutes")
    val q = out.writeStream.format("memory").queryName("qwin")
      .outputMode("complete").start()
    val textA = "the quick brown fox jumps over a lazy dog and then it runs"
    val textB = "x"
    mem.addData(
      (ts("2024-01-01 00:01:00"), textA),
      (ts("2024-01-01 00:02:00"), textB),
      (ts("2024-01-01 00:11:00"), textA))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM qwin").collect()
      .map(r => r.getTimestamp(0).toString ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    q.stop()
    // window 1 averages the two docs; window 2 is textA alone — its
    // per-doc values must equal the batch projection's
    val qa = Seq(textA).toDF("text").select(
        graft.functions.TextFunctions.qualityColumns(col("text")).toMap
          .apply("quality_score").cast("double").as("q"),
        graft.functions.TextFunctions.qualityColumns(col("text")).toMap
          .apply("n_tokens").cast("double").as("n"))
      .collect().head
    assert(rows("2024-01-01 00:00:00.0")._1 == 2L)
    assert(rows("2024-01-01 00:10:00.0") == ((1L, qa.getDouble(0), qa.getDouble(1))))
  }

  test("streaming BPE encode equals the batch segmentation row-for-row") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val staticDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val merges = Seq(("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"))
    val rows = staticDocs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val out = graft.operators.TextStats.applyBpe(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", merges)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("stream_bpe")
      .outputMode("append").start()
    mem.addData(rows: _*); q.processAllAvailable()
    val got = spark.sql("SELECT doc_id, n_tokens, n_subwords FROM stream_bpe")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    val want = graft.operators.TextStats.applyBpe(staticDocs, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("streaming byte-BPE ids equal batch under fixture and 10k trained merges") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val staticDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val rows = staticDocs.as[(Long, String)].collect().toSeq
    val fixture = Seq(("74", "68"), ("7468", "65"), ("20", "746865"))
    // a production-size trained list: the kernel's reference-object
    // model must serialize into streaming tasks at any table size
    val big = graft.operators.TextStats.trainBpeBytesLocal(
      graft.operators.TextStats.bytePretokenCounts(staticDocs, "text"),
      numMerges = 10000, minPairCount = 1L).map(m => (m._1, m._2))
    assert(big.size > 100, "the corpus must support a trained list past fixture scale")
    for ((merges, name) <- Seq((fixture, "fixture"), (big, "trained"))) {
      val mem = MemoryStream[(Long, String)]
      val out = graft.operators.TextStats.encodeBpeBytesIds(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", merges)
      assert(out.isStreaming)
      val q = out.writeStream.format("memory").queryName(s"stream_bpe_$name")
        .outputMode("append").start()
      mem.addData(rows: _*); q.processAllAvailable()
      val got = spark.sql(s"SELECT doc_id, token_ids FROM stream_bpe_$name")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      q.stop()
      val want = graft.operators.TextStats.encodeBpeBytesIds(
          staticDocs, "doc_id", "text", merges)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got == want, s"$name list must match batch row-for-row")
    }
  }

  test("streaming SFT tokenize+mask equals batch (row-local cell stream)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fixture = Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
      ("69", "6E"), ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
    val staticDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(100)
    def convify(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), array(
        struct(lit("user").as("role"), col("text").as("content")),
        struct(lit("assistant").as("role"),
          reverse(col("text")).as("content"))).as("conv"))
    val rows = staticDocs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val out = graft.operators.Chat.sftTokenizeMask(
      convify(mem.toDF().toDF("doc_id", "text")), "doc_id", "conv", fixture)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("stream_sft_tok")
      .outputMode("append").start()
    val (h1, h2) = rows.splitAt(rows.size / 2)
    mem.addData(h1: _*); q.processAllAvailable()
    mem.addData(h2: _*); q.processAllAvailable()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2), r.getLong(3),
        r.getLong(4))
    val got = spark.sql("SELECT doc_id, token_ids, loss_mask, n_tokens, " +
      "n_assistant_tokens FROM stream_sft_tok").collect().map(key).toSet
    q.stop()
    val want = graft.operators.Chat.sftTokenizeMask(
        convify(staticDocs), "doc_id", "conv", fixture)
      .collect().map(key).toSet
    assert(got == want, "streaming tokenize+mask must match batch row-for-row")
    assert(want.forall { case (_, ids, ms, n, na) =>
      ids.length == n && ms.length == n && na == ms.sum && na > 0 })
  }

  test("streaming detokenize + token offsets equal batch (row-local kernels)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fixture = Seq(("74", "68"), ("7468", "65"), ("20", "746865"),
      ("69", "6E"), ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
    val staticDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val rows = staticDocs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF().toDF("doc_id", "text")
    // tokenize in-stream, then detokenize in-stream: the composed
    // round trip must return the source text row-for-row
    val out = graft.operators.TextStats.detokenize(
      src.select(col("doc_id"), graft.functions.ByteBpeEncode.byteBpeIds(
        col("text"), fixture).as("ids")), "doc_id", "ids", fixture)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("stream_detok")
      .outputMode("append").start()
    mem.addData(rows: _*); q.processAllAvailable()
    val got = spark.sql("SELECT doc_id, text FROM stream_detok")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    q.stop()
    assert(got == rows.toMap, "in-stream round trip must return the source")

    val mem2 = MemoryStream[(Long, String)]
    val out2 = graft.operators.TextStats.tokenOffsets(
      mem2.toDF().toDF("doc_id", "text"), "doc_id", "text", fixture)
    assert(out2.isStreaming)
    val q2 = out2.writeStream.format("memory").queryName("stream_offs")
      .outputMode("append").start()
    mem2.addData(rows: _*); q2.processAllAvailable()
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      r.getSeq[org.apache.spark.sql.Row](1)
        .map(o => (o.getLong(0), o.getLong(1), o.getLong(2)))
    val got2 = spark.sql("SELECT doc_id, token_offsets FROM stream_offs")
      .collect().map(key).toMap
    q2.stop()
    val want2 = graft.operators.TextStats.tokenOffsets(
      staticDocs, "doc_id", "text", fixture).collect().map(key).toMap
    assert(got2 == want2, "streaming offsets must match batch row-for-row")
  }

  test("streaming FIM augmentation equals batch (hash draws replay per micro-batch)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val staticDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val rows = staticDocs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val out = graft.operators.TextStats.fimTransform(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", 0.5, 0.5)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("stream_fim")
      .outputMode("append").start()
    // TWO adds = two micro-batches: the second half's draws must not
    // depend on batch boundaries (pure per-row hash replay)
    val (h1, h2) = rows.splitAt(rows.size / 2)
    mem.addData(h1: _*); q.processAllAvailable()
    mem.addData(h2: _*); q.processAllAvailable()
    val got = spark.sql("SELECT doc_id, fim_mode, text FROM stream_fim")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    q.stop()
    val want = graft.operators.TextStats.fimTransform(
        staticDocs, "doc_id", "text", 0.5, 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == want)
    assert(want.exists(_._2 != "none") && want.exists(_._2 == "none"),
      "fixture must exercise both participating and skipped docs")
  }

  test("streaming span corruption equals batch across micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val staticDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val rows = staticDocs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val out = graft.operators.TextStats.spanCorrupt(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("stream_spancorrupt")
      .outputMode("append").start()
    val (h1, h2) = rows.splitAt(rows.size / 2)
    mem.addData(h1: _*); q.processAllAvailable()
    mem.addData(h2: _*); q.processAllAvailable()
    val got = spark.sql(
        "SELECT doc_id, n_spans, n_corrupted, inputs, targets FROM stream_spancorrupt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toSet
    q.stop()
    val want = graft.operators.TextStats.spanCorrupt(
        staticDocs, "doc_id", "text")
      .select("doc_id", "n_spans", "n_corrupted", "inputs", "targets")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toSet
    assert(got == want)
  }

  test("streaming unigram encode with a frozen piece table equals batch row-for-row") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vocab = Seq("the" -> -1.0, "cat" -> -1.2, "at" -> -1.5,
      "c" -> -2.0, "a" -> -2.0, "t" -> -2.0)
    val rows = Seq((1L, "the cat"), (2L, "that cat"), (3L, "zz"))
    val mem = MemoryStream[(Long, String)]
    val out = graft.operators.TextStats.applyUnigramLm(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", vocab)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("stream_unigram")
      .outputMode("append").start()
    mem.addData(rows: _*); q.processAllAvailable()
    val got = spark.sql("SELECT doc_id, n_tokens, n_pieces FROM stream_unigram")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    val want = graft.operators.TextStats.applyUnigramLm(
        rows.toDF("doc_id", "text"), "doc_id", "text", vocab)
      .select("doc_id", "n_tokens", "n_pieces")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("streaming trained langid with a frozen model equals the batch predictions") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // train OFFLINE on a planted batch frame (the Classifier contract)
    val vocab = Seq(
      "de" -> Vector("straße", "gemütlich", "schön", "mädchen", "übung"),
      "en" -> Vector("through", "thought", "bright", "children", "enough"),
      "fr" -> Vector("château", "déjà", "français", "garçon", "forêt"))
    val rnd = new scala.util.Random(13)
    val train = vocab.flatMap { case (lang, ws) =>
      (0 until 30).map(i => (s"${lang}_$i",
        Seq.fill(5)(ws(rnd.nextInt(ws.size))).mkString(" "), lang))
    }.toDF("doc_id", "text", "lang")
    val m = graft.operators.Classifier.trainLangid(train, "text", "lang",
      dim = 256, nLo = 1, nHi = 3, iters = 10, lr = 4.0)
    val evalRows = vocab.flatMap { case (lang, ws) =>
      (0 until 8).map(i => (s"e_${lang}_$i",
        Seq.fill(2)(ws(rnd.nextInt(ws.size))).mkString(" ")))
    }
    val mem = MemoryStream[(String, String)]
    val out = graft.operators.Classifier.withLangid(
      mem.toDF().toDF("doc_id", "text"), "text", m)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("stream_langid_trained")
      .outputMode("append").start()
    mem.addData(evalRows: _*); q.processAllAvailable()
    val got = spark.sql("SELECT doc_id, lang_pred FROM stream_langid_trained")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    q.stop()
    val want = graft.operators.Classifier.withLangid(
        evalRows.toDF("doc_id", "text"), "text", m)
      .select("doc_id", "lang_pred")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want, "frozen-model stream must equal batch row-for-row")
    assert(got.forall { case (id, pred) => id.startsWith(s"e_${pred}_") },
      "the planted orthography must be recovered even on 2-word docs")
  }

  test("streamingPsiByWindow: frozen baseline, per-window psi matches the hand formula") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 10).map(v => (v.toLong, v.toDouble)).toDF("id", "sig")
    val (edges, shares) = graft.operators.TextStats.psiBaseModel(base, "sig", nBins = 2)
    assert(edges == Seq(5.5) && shares == Seq(0.5, 0.5))
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // window 1: the base distribution (psi 0); window 2: drifted high
    val rows = (1 to 10).map(v => (ts(0), v.toDouble)) ++
      Seq(8.0, 9.0, 10.0).map(v => (ts(10), v))
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val out = StreamingOps.streamingPsiByWindow(
      mem.toDF().toDF("ts", "sig"), "ts", "sig", edges, shares,
      window = "10 minutes", watermark = "0 seconds")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("stream_psi")
      .outputMode("append").start()
    mem.addData(rows: _*)
    // advance the watermark past both windows so they close and emit
    mem.addData((ts(59), 1.0))
    q.processAllAvailable()
    val got = spark.sql("SELECT window_start, n_docs, psi FROM stream_psi")
      .collect().map(r => r.getTimestamp(0).toString -> (r.getLong(1), r.getDouble(2)))
      .toMap
    q.stop()
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got("2024-01-01 00:00:00.0") == ((10L, 0.0)),
      "base-distribution window must show zero drift")
    val expected = r6((0.125 - 0.5) * math.log(0.125 / 0.5) +
      (0.875 - 0.5) * math.log(0.875 / 0.5))
    assert(got("2024-01-01 00:10:00.0") == ((3L, expected)),
      "drifted window must match the hand-computed psi")
  }

  test("streaming line-wise correction equals the batch filterLines row-for-row") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prose = "a perfectly reasonable paragraph of running text here"
    val rows = Seq(
      (1L, s"$prose\nBUY NOW CLICK HERE\n$prose"),
      (2L, s"$prose\n12345 67890\n  Privacy Policy  "),
      (3L, "SHOUTING ONLY\n404 404 404"), // fully removed -> doc dropped
      (4L, prose))
    val mem = MemoryStream[(Long, String)]
    val out = graft.operators.CorpusClean.filterLines(
      mem.toDF().toDF("doc_id", "text"), "text")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("stream_filter_lines")
      .outputMode("append").start()
    mem.addData(rows: _*); q.processAllAvailable()
    val got = spark.sql(
        "SELECT doc_id, text, n_lines_kept FROM stream_filter_lines")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    q.stop()
    val want = graft.operators.CorpusClean.filterLines(
        rows.toDF("doc_id", "text"), "text")
      .select("doc_id", "text", "n_lines_kept")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want, "micro-batch corrections must equal batch row-for-row")
    assert(!got.exists(_._1 == 3L), "all-furniture doc dropped in the stream too")
  }

  test("streaming chat intake equals batch validate+stats+render row-for-row") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // conversations arrive as (id, rendered-ish packed string) and are
    // rebuilt into turn arrays inside the stream — a stateless projection
    val rows = Seq(
      (1L, "user|hi there;assistant|hello friend"),
      (2L, "user|question;user|again;assistant|answer"), // nonalternating
      (3L, "assistant|i go first"),                      // bad start
      (4L, "user|q;assistant|"))                         // empty turn
    def toConv(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("conv", transform(split(col("packed"), ";"), t =>
        struct(split(t, "\\|").getItem(0).as("role"),
          coalesce(split(t, "\\|").getItem(1), lit("")).as("content"))))
    val mem = MemoryStream[(Long, String)]
    val out = StreamingOps.streamingChatIntake(
      toConv(mem.toDF().toDF("id", "packed")), "conv", render = true)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("stream_chat")
      .outputMode("append").start()
    mem.addData(rows: _*); q.processAllAvailable()
    val cols = Seq("id", "chat_ok", "n_turns", "n_assistant_tokens", "rendered")
    val got = spark.sql(s"SELECT ${cols.mkString(",")} FROM stream_chat")
      .collect().map(_.toSeq).toSet
    q.stop()
    val want = StreamingOps.streamingChatIntake(
        toConv(rows.toDF("id", "packed")), "conv", render = true)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(got == want, "micro-batch chat intake must equal batch row-for-row")
    val okById = spark.sql("SELECT id, chat_ok FROM stream_chat").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(okById == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
  }

  test("streaming media intake classifies payloads per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val png = "89504E470D0A1A0A0000000D4948445200000320" + "00000258"
    val mem = MemoryStream[(Long, String)]
    val out = graft.operators.Multimodal.withMediaMeta(
      mem.toDF().toDF("media_id", "hex")
        .select(col("media_id"), unhex(col("hex")).as("payload")), "payload")
      .select("media_id", "modality", "format", "width", "n_bytes")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("stream_media")
      .outputMode("append").start()
    mem.addData((1L, png), (2L, "DEADBEEF"))
    q.processAllAvailable()
    val got = spark.sql("SELECT * FROM stream_media").collect()
      .map(r => r.getLong(0) -> ((if (r.isNullAt(1)) null else r.getString(1)),
        (if (r.isNullAt(2)) null else r.getString(2)))).toMap
    q.stop()
    assert(got(1L) == (("image", "png")) && got(2L) == ((null, null)),
      "triage at the door: modality/format per micro-batch, no decode")
  }

  test("streaming pair intake equals batch validate+stats row-for-row") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // pairs arrive as (id, packed prompt, chosen, rejected); the prompt
    // is rebuilt into a turn array inside the stream (stateless)
    val rows = Seq(
      (1L, "user|what sorts fastest", "merge sort", "bubble sort"),
      (2L, "user|same answer twice", "tie", "tie"),          // no signal
      (3L, "assistant|i ask you", "a", "b"),                 // bad prompt
      (4L, "user|long ratio", "one two three four", ""))     // empty rejected
    def toPairs(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("prompt", transform(split(col("packed"), ";"), t =>
        struct(split(t, "\\|").getItem(0).as("role"),
          coalesce(split(t, "\\|").getItem(1), lit("")).as("content"))))
    val mem = MemoryStream[(Long, String, String, String)]
    val out = StreamingOps.streamingPairIntake(
      toPairs(mem.toDF().toDF("id", "packed", "chosen", "rejected")),
      "prompt", "chosen", "rejected", maxLen = 6)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("stream_pairs")
      .outputMode("append").start()
    mem.addData(rows: _*); q.processAllAvailable()
    val cols = Seq("id", "pair_ok", "n_prompt_tokens", "n_chosen_tokens",
      "fits_pair", "len_ratio")
    val got = spark.sql(s"SELECT ${cols.mkString(",")} FROM stream_pairs")
      .collect().map(_.toSeq).toSet
    q.stop()
    val want = StreamingOps.streamingPairIntake(
        toPairs(rows.toDF("id", "packed", "chosen", "rejected")),
        "prompt", "chosen", "rejected", maxLen = 6)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(got == want, "micro-batch pair intake must equal batch row-for-row")
    val okById = spark.sql("SELECT id, pair_ok, len_ratio FROM stream_pairs")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), if (r.isNullAt(2)) null else r.getDouble(2)))).toMap
    assert(okById(1L) == ((true, 1.0)), "2 chosen tokens over 2 rejected")
    assert(okById(2L)._1 == false, "equal pair carries no signal")
    assert(okById(3L)._1 == false, "assistant-final prompt is not awaiting")
    assert(okById(4L) == ((false, null)), "empty rejected: invalid, NULL ratio")
  }

  test("streamingRateLimit: per-key per-window admission, state across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val out = StreamingOps.streamingRateLimit(
      mem.toDF().toDF("k", "ts", "id"), "k", "ts", "id",
      maxPerWindow = 2, windowMs = 60000L)
    val q = out.writeStream.format("memory").queryName("throttle")
      .outputMode("append").start()
    mem.addData(
      (1L, ts("2024-01-01 00:00:05"), 1L), // window 00:00, #1 -> kept
      (1L, ts("2024-01-01 00:00:20"), 2L), // #2 -> kept
      (1L, ts("2024-01-01 00:00:40"), 3L), // #3 -> throttled
      (2L, ts("2024-01-01 00:00:40"), 4L)) // other key unaffected
    q.processAllAvailable()
    // next batch, same window: the counter carried over
    mem.addData((1L, ts("2024-01-01 00:00:50"), 5L), // still throttled
      (1L, ts("2024-01-01 00:01:10"), 6L)) // NEW window -> kept
    q.processAllAvailable()
    val got = spark.sql("SELECT id, kept FROM throttle").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    q.stop()
    assert(got == Map(1L -> true, 2L -> true, 3L -> false, 4L -> true,
      5L -> false, 6L -> true))
  }

  /** Peak & final stateOperators.numRowsTotal over a query's whole
    * progress history — the STATE-SIZE gate every watermark/timeout
    * claim owes: "state is bounded" is only true if the progress
    * counters actually shrink once the watermark passes. */
  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery):
      (Long, Long) = {
    val perBatch = q.recentProgress.toSeq
      .filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum)
    (if (perBatch.isEmpty) 0L else perBatch.max,
      if (perBatch.isEmpty) 0L else perBatch.last)
  }

  test("state-size gates: watermarks/buffers actually bound state across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // 1. native sessionization: hundreds of events, 3 keys; once the
    // watermark passes, closed sessions leave the store
    val sMem = MemoryStream[(Long, java.sql.Timestamp)]
    val sOut = graft.operators.Windowed.sessionizeNative(
      sMem.toDF().toDF("user_id", "ts").withWatermark("ts", "10 seconds"),
      "user_id", "ts", gapSeconds = 60)
    val sq = sOut.writeStream.format("memory").queryName("gate_sessions")
      .outputMode("append").start()
    for (b <- 0 until 3) {
      sMem.addData((0 until 100).map(i =>
        ((i % 3).toLong,
          ts(f"2024-01-01 00:0$b:${10 + i % 40}%02d"))): _*)
      sq.processAllAvailable()
    }
    // far-future event closes everything open, incl. one late straggler
    sMem.addData((1L, ts("2024-01-01 00:00:30")), (9L, ts("2024-01-01 06:00:00")))
    sq.processAllAvailable()
    val (sPeak, sLast) = stateRows(sq)
    sq.stop()
    assert(sPeak <= 12,
      s"open-session state must stay ~keys-sized, not events-sized (peak $sPeak)")
    assert(sLast <= 2, s"watermark must evict closed sessions (last $sLast)")

    // 2. watermark-bounded exact dedup: 300 rows over 10 distinct keys;
    // state tracks keys INSIDE the watermark, then evicts
    val dMem = MemoryStream[(String, java.sql.Timestamp)]
    val dOut = StreamingOps.streamingExactDedup(
      dMem.toDF().toDF("k", "ts"), "k", "ts", watermark = "10 seconds")
    val dq = dOut.writeStream.format("memory").queryName("gate_dedup")
      .outputMode("append").start()
    for (b <- 0 until 3) {
      dMem.addData((0 until 100).map(i =>
        (s"key${i % 10}", ts(f"2024-01-01 00:0$b:${10 + i % 30}%02d"))): _*)
      dq.processAllAvailable()
    }
    dMem.addData(("fresh", ts("2024-01-01 06:00:00")))
    dq.processAllAvailable()
    val (dPeak, dLast) = stateRows(dq)
    val dedupRows = spark.sql("SELECT count(*) FROM gate_dedup").head().getLong(0)
    dq.stop()
    assert(dedupRows >= 10 && dedupRows <= 31,
      s"one survivor per key per watermark era, got $dedupRows")
    assert(dPeak <= 30, s"dedup state must track keys-within-watermark (peak $dPeak)")
    assert(dLast <= 2, s"watermark must evict expired dedup keys (last $dLast)")

    // 3. streaming as-of: state is ONE ROW PER KEY (a bounded buffer
    // inside), never per-event — 600 events over 4 keys = 4 state rows
    val aMem = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val aOut = StreamingOps.streamingAsofEnrich(
      aMem.toDF().toDF("k", "ts", "id", "v").filter(col("id") % 2 === 0)
        .select(col("k"), col("ts"), col("id")),
      aMem.toDF().toDF("k", "ts", "id", "v").filter(col("id") % 2 === 1),
      "k", "ts", "id", "v", maxBuffer = 16)
    val aq = aOut.writeStream.format("memory").queryName("gate_asof")
      .outputMode("append").start()
    for (b <- 0 until 3) {
      aMem.addData((0 until 200).map(i =>
        ((i % 4).toLong, ts(f"2024-01-01 00:0$b:${i % 60}%02d"),
          (b * 200 + i).toLong, i.toDouble)): _*)
      aq.processAllAvailable()
    }
    val (aPeak, _) = stateRows(aq)
    aq.stop()
    assert(aPeak <= 4,
      s"as-of state must be one bounded-buffer row per key (peak $aPeak)")
  }

  test("streamingRateLimit: a late older-window straggler cannot reset the cap") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val out = StreamingOps.streamingRateLimit(
      mem.toDF().toDF("k", "ts", "id"), "k", "ts", "id",
      maxPerWindow = 2, windowMs = 60000L)
    val q = out.writeStream.format("memory").queryName("throttle_late")
      .outputMode("append").start()
    mem.addData(
      (1L, ts("2024-01-01 00:01:05"), 1L), // window 00:01, #1 -> kept
      (1L, ts("2024-01-01 00:01:10"), 2L)) // #2 -> kept (cap reached)
    q.processAllAvailable()
    // regression: a straggler from window 00:00 used to RESET the
    // state, letting the following current-window events start a
    // fresh count and admit up to 2x the cap
    mem.addData(
      (1L, ts("2024-01-01 00:00:30"), 3L), // late: budget forfeited
      (1L, ts("2024-01-01 00:01:20"), 4L), // current window, still #3
      (1L, ts("2024-01-01 00:01:25"), 5L)) // still over cap
    q.processAllAvailable()
    val got = spark.sql("SELECT id, kept FROM throttle_late").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    q.stop()
    assert(got == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false,
      5L -> false))
  }

  test("watermarked sessionizeNative: sessions emit after the watermark closes them") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val out = graft.operators.Windowed.sessionizeNative(
      mem.toDF().toDF("user_id", "ts").withWatermark("ts", "10 seconds"),
      "user_id", "ts", gapSeconds = 60)
    val q = out.writeStream.format("memory").queryName("native_sessions")
      .outputMode("append").start()
    mem.addData((1L, ts("2024-01-01 00:00:00")),
      (1L, ts("2024-01-01 00:01:00"))) // 60 s diff: SAME session (<= rule)
    q.processAllAvailable()
    // far-future event advances the watermark past the open session
    mem.addData((2L, ts("2024-01-01 01:00:00")))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM native_sessions").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3)))
    q.stop()
    assert(rows.toSeq == Seq(
      (1L, "2024-01-01 00:00:00.0", "2024-01-01 00:01:00.0", 2L)),
      "the exactly-at-gap event merged (+1us rule); the session emitted " +
        "only after the watermark passed it")
  }

  test("batch asofJoinBroadcast runs UNCHANGED as a stream-static enrichment") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // static dimension history; streaming fact side — the broadcast
    // as-of is stateless (broadcast join + row-local array pick), so
    // the same operator code compiles to a stream-static plan
    val hist = Seq((1L, ts("2024-01-01 00:00:00"), 10.0),
      (1L, ts("2024-01-01 01:00:00"), 20.0)).toDF("k", "ts", "v")
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val out = graft.operators.Temporal.asofJoinBroadcast(
      mem.toDF().toDF("k", "ts", "id"), hist, "k", "ts", Seq("v"))
    val q = out.writeStream.format("memory").queryName("asof_static")
      .outputMode("append").start()
    mem.addData((1L, ts("2024-01-01 00:30:00"), 1L),
      (1L, ts("2024-01-01 02:00:00"), 2L),
      (2L, ts("2024-01-01 02:00:00"), 3L))
    q.processAllAvailable()
    val got = spark.sql("SELECT id, v FROM asof_static").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    q.stop()
    assert(got == Map(1L -> Some(10.0), 2L -> Some(20.0), 3L -> None))
  }

  test("streamingIntervalJoin: stream-stream pairs inside the window, cross-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cMem = MemoryStream[(Long, java.sql.Timestamp, Long)] // clicks
    val vMem = MemoryStream[(Long, java.sql.Timestamp, Long)] // views
    val out = StreamingOps.streamingIntervalJoin(
      cMem.toDF().toDF("k", "cts", "cid"), vMem.toDF().toDF("k", "vts", "vid"),
      "k", "cts", "vts", beforeSeconds = 3600, afterSeconds = 0,
      watermark = "2 hours")
    val q = out.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    vMem.addData((1L, ts("2024-01-01 10:00:00"), 100L), // 30 min before -> in
      (1L, ts("2024-01-01 08:00:00"), 101L), // 2.5 h before -> out
      (2L, ts("2024-01-01 10:00:00"), 102L)) // other key
    cMem.addData((1L, ts("2024-01-01 10:30:00"), 1L))
    q.processAllAvailable()
    // a right row arriving in a LATER batch still joins (buffered state)
    vMem.addData((1L, ts("2024-01-01 10:30:00"), 103L)) // exactly at -> in
    q.processAllAvailable()
    val got = spark.sql("SELECT cid, vid FROM ssj").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(got == Set((1L, 100L), (1L, 103L)),
      "only same-key views within [cts-1h, cts] pair up; state spans batches")
  }

  test("streamingDistinctByWindow: exact sparse counts per window, mergeable bytes") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val out = StreamingOps.streamingDistinctByWindow(
      mem.toDF().toDF("ts", "item"), "ts", "item", "10 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("win_distinct")
      .outputMode("complete").start()
    mem.addData(
      (ts("2024-01-01 00:01:00"), "a"), (ts("2024-01-01 00:02:00"), "b"),
      (ts("2024-01-01 00:03:00"), "a"), (ts("2024-01-01 00:11:00"), "a"),
      (ts("2024-01-01 00:12:00"), "c"))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT window_start, n_items, n_distinct, exact FROM win_distinct")
      .collect().map(r => r.getTimestamp(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // the per-window sketch BYTES merge downstream without replay
    val total = spark.sql("SELECT sketch FROM win_distinct")
      .agg(graft.functions.CardinalitySketch.estimate(
        graft.functions.CardinalitySketch.merge(col("sketch"))))
      .head().getLong(0)
    q.stop()
    assert(rows("2024-01-01 00:00:00.0") == ((3L, 2L, true)))
    assert(rows("2024-01-01 00:10:00.0") == ((2L, 2L, true)))
    assert(total == 3L, "merged window sketches give the global distinct count")
  }

  test("streamingAsofEnrich: in-batch backward match, tolerance, cross-batch state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lMem = MemoryStream[(Long, java.sql.Timestamp, Long)] // key, ts, id
    val rMem = MemoryStream[(Long, java.sql.Timestamp, Double)] // key, ts, value
    val out = StreamingOps.streamingAsofEnrich(
      lMem.toDF().toDF("k", "ts", "id"), rMem.toDF().toDF("k", "ts", "v"),
      "k", "ts", "id", "v", toleranceMs = Some(60000L))
    val q = out.writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    // batch 1: two quotes + three trades (out of order within the batch)
    rMem.addData((1L, ts("2024-01-01 00:00:00"), 10.0),
      (1L, ts("2024-01-01 00:00:30"), 11.0))
    lMem.addData((1L, ts("2024-01-01 00:00:40"), 100L), // -> 11.0
      (1L, ts("2024-01-01 00:00:10"), 101L), // earlier trade -> 10.0
      (1L, ts("2024-01-01 00:05:00"), 102L)) // 4.5 min stale -> NULL
    q.processAllAvailable()
    // batch 2: state carries the 00:00:30 quote forward
    lMem.addData((1L, ts("2024-01-01 00:01:00"), 103L))
    q.processAllAvailable()
    val got = spark.sql("SELECT id, v FROM asof_stream").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    q.stop()
    assert(got(100L) == Some(11.0))
    assert(got(101L) == Some(10.0), "within-batch out-of-order resolved by sort")
    assert(got(102L) == None, "beyond the 60 s tolerance")
    assert(got(103L) == Some(11.0), "right state persists across micro-batches")
  }

  test("streamingAsofEnrich single-batch run equals batch asofJoin on real events") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val views = e.filter(col("event_type") === "view")
      .groupBy("user_id", "ts")
      .agg(expr("max_by(value, event_id)").as("v"))
    val want = graft.operators.Temporal
      .asofJoin(clicks, views, "user_id", "ts", Seq("v"))
      .collect().map(r => r.getLong(2) ->
        ((Option(r.getTimestamp(3)).map(_.getTime), Option(r.get(4))))).toMap

    val lMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val rMem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val out = StreamingOps.streamingAsofEnrich(
      lMem.toDF().toDF("k", "ts", "id"), rMem.toDF().toDF("k", "ts", "v"),
      "k", "ts", "id", "v")
    val q = out.writeStream.format("memory").queryName("asof_parity")
      .outputMode("append").start()
    rMem.addData(views.collect().toSeq
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2))): _*)
    lMem.addData(clicks.collect().toSeq
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))): _*)
    q.processAllAvailable()
    val got = spark.sql("SELECT id, asof_ts, v FROM asof_parity").collect()
      .map(r => r.getLong(0) ->
        ((Option(r.getTimestamp(1)).map(_.getTime), Option(r.get(2))))).toMap
    q.stop()
    assert(got.size == want.size)
    assert(got == want,
      "one-batch streaming as-of must equal the batch operator exactly")
  }
}
