package graft

import graft.functions.ByteBpeEncode
import graft.operators.TextStats
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/**
 * The native byte-BPE encode kernel (one expression node at any merge
 * count, the only encode path of the public byte-BPE surfaces) against
 * a reference encoder kept here: the literal-replace chain that the
 * DuckDB oracles replay. Row-identical pieces/ids/counts on planted
 * edges and real corpus, greedy-by-rank semantics pinned where rank
 * order and scan order disagree, one merge-list rule on every surface,
 * and the driver-side incremental trainer identical to the distributed
 * per-merge-aggregate trainer.
 */
class ByteBpeEncodeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val FixtureMerges = Seq(("74", "68"), ("7468", "65"),
    ("20", "746865"), ("69", "6E"), ("61", "6E"), ("616E", "64"),
    ("65", "72"), ("6F", "6E"))

  private def edgeDocs = Seq(
    (1L, "the théme of things"),
    (2L, ""),
    (3L, null.asInstanceOf[String]),
    (4L, "it's 2 cats!  and   another, online"),
    (5L, "émincé é́"), // combining marks, multi-byte runs
    (6L, "a"),
    (7L, "    "),
    (8L, "ander andante ons online")
  ).toDF("doc_id", "text")

  private def piecesOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
    df.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[String](1))).toMap

  // ---- reference encoder: the literal-replace chain, applying the
  // merges exhaustively in training order over each pre-token's
  // sentinel-wrapped hex byte symbols (the DuckDB oracles' replay)

  private val OPEN = "\u0001"
  private val CLOSE = "\u0002"

  /** One pre-token's sentinel-wrapped symbol string after the chain. */
  private def chainFolded(tok: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(
      regexp_replace(hex(encode(tok, "UTF-8")), "(..)", OPEN + "$1" + CLOSE)) {
      case (s, (l, r)) =>
        replace(s, lit(OPEN + l + CLOSE + OPEN + r + CLOSE),
          lit(OPEN + l + r + CLOSE))
    }

  /** Reference pieces: (doc_id, subwords), NULL text → NULL. */
  private def chainPieces(docs: DataFrame, idCol: String, textCol: String,
                          merges: Seq[(String, String)]): DataFrame = {
    val perTok = transform(TextStats.bytePretokens(col(textCol)), tok => {
      val folded = chainFolded(tok, merges)
      // strip the outer sentinels, split on the close+open seams
      split(folded.substr(lit(2), length(folded) - 2), CLOSE + OPEN)
    })
    docs.select(col(idCol).as("doc_id"), flatten(perTok).as("subwords"))
  }

  /** Reference subword count of `text`: count open sentinels. */
  private def chainCount(text: Column, merges: Seq[(String, String)]): Column = {
    val perTok = transform(TextStats.bytePretokens(text), tok => {
      val folded = chainFolded(tok, merges)
      (length(folded) - length(translate(folded, OPEN, ""))).cast(LongType)
    })
    aggregate(perTok, lit(0L), (a, x) => a + x)
  }

  test("kernel pieces == replace chain on fixture merges: edges + sf0.001 corpus") {
    val chain = piecesOf(chainPieces(edgeDocs, "doc_id", "text", FixtureMerges))
    val kernel = piecesOf(edgeDocs.select(col("doc_id"),
      ByteBpeEncode.byteBpePieces(col("text"), FixtureMerges).as("subwords")))
    assert(kernel == chain, "kernel must replicate the chain on every edge doc")
    assert(piecesOf(TextStats.encodeBpeBytes(edgeDocs, "doc_id", "text",
      FixtureMerges)) == chain, "the public surface is the kernel")
    assert(kernel(3L) == null, "NULL text -> NULL")
    assert(kernel(2L) == Seq.empty, "empty text -> empty pieces")

    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val chainC = piecesOf(chainPieces(d, "doc_id", "text", FixtureMerges))
    val kernelC = piecesOf(d.select(col("doc_id"),
      ByteBpeEncode.byteBpePieces(col("text"), FixtureMerges).as("subwords")))
    assert(kernelC == chainC, "kernel must replicate the chain on the corpus")
  }

  test("kernel ids and count agree with the map/chain paths and each other") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the r15 formulation rebuilt by hand — chain pieces looked up in
    // a plan-literal vocab map — as the independent cross-check for
    // the kernel's direct id emission (the public API is kernel-only
    // since r16: element_at on a literal map is a linear key scan)
    val vocab: Map[String, Long] =
      ((0 until 256).map(b => f"$b%02X" -> b.toLong) ++
        FixtureMerges.zipWithIndex.map { case ((l, r), i) =>
          (l + r) -> (256L + i) }).toMap
    val m = typedlit(vocab)
    val mapIds = chainPieces(d, "doc_id", "text", FixtureMerges)
      .select(col("doc_id"),
        transform(col("subwords"), p => element_at(m, p)).as("token_ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val kIds = d.select(col("doc_id"),
      ByteBpeEncode.byteBpeIds(col("text"), FixtureMerges).as("token_ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(kIds == mapIds, "kernel ids must equal the plan-literal-map ids")
    val chainN = d.select(col("doc_id"), chainCount(col("text"), FixtureMerges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kN = d.select(col("doc_id"),
      ByteBpeEncode.byteBpeCount(col("text"), FixtureMerges).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kN == chainN, "kernel count must equal the chain's subword count")
    assert(kIds.forall { case (id, v) => v.size.toLong == kN(id) })
  }

  test("offsets mode: spans tile the UTF-8 bytes, ids order-identical") {
    val rows = edgeDocs.select(col("doc_id"), col("text"),
        ByteBpeEncode.byteBpeOffsets(col("text"), FixtureMerges).as("o"),
        ByteBpeEncode.byteBpeIds(col("text"), FixtureMerges).as("ids"),
        ByteBpeEncode.byteBpePieces(col("text"), FixtureMerges).as("p"))
      .collect()
    rows.foreach { r =>
      if (r.isNullAt(2)) assert(r.isNullAt(1), "NULL text -> NULL offsets")
      else {
        val text = r.getString(1)
        val offs = r.getSeq[org.apache.spark.sql.Row](2)
        val ids = r.getSeq[Long](3)
        val pieces = r.getSeq[String](4)
        assert(offs.map(_.getLong(0)) == ids,
          "offset token_ids must be order-identical to ids mode")
        // spans tile contiguously from 0 and cover every UTF-8 byte
        var pos = 0L
        offs.zip(pieces).foreach { case (o, hex) =>
          assert(o.getLong(1) == pos, s"gap at $pos in doc ${r.getLong(0)}")
          assert(o.getLong(2) == hex.length / 2,
            "byte_len must equal the piece's byte count")
          pos += o.getLong(2)
        }
        assert(pos == text.getBytes("UTF-8").length.toLong,
          "spans must cover the text's full UTF-8 encoding")
        // each span's bytes decode back to its piece (alignment is
        // byte-exact, not just length-exact)
        val bytes = text.getBytes("UTF-8")
        offs.zip(pieces).foreach { case (o, hex) =>
          val got = bytes.slice(o.getLong(1).toInt,
            (o.getLong(1) + o.getLong(2)).toInt)
            .map(b => f"${b & 0xff}%02X").mkString
          assert(got == hex, s"span bytes must equal the piece hex")
        }
      }
    }
  }

  test("greedy-by-rank: lowest rank wins over leftmost pair (chain parity)") {
    // text 'ABC' = 41 42 43; merge rank1 = (42,43), rank2 = (41,42).
    // A leftmost-first encoder would merge AB; rank order demands BC —
    // and the replace chain (rank order applied sequentially) agrees.
    val merges = Seq(("42", "43"), ("41", "42"))
    val doc = Seq((1L, "ABC")).toDF("doc_id", "text")
    val kernel = piecesOf(doc.select(col("doc_id"),
      ByteBpeEncode.byteBpePieces(col("text"), merges).as("p")))(1L)
    val chain = piecesOf(chainPieces(doc, "doc_id", "text", merges))(1L)
    assert(kernel == Seq("41", "4243") && chain == kernel)
    // unreachable merge (operand '7468' never formable without its own
    // merge) fires on neither path
    val m2 = Seq(("7468", "65"))
    val doc2 = Seq((1L, "the")).toDF("doc_id", "text")
    val k2 = piecesOf(doc2.select(col("doc_id"),
      ByteBpeEncode.byteBpePieces(col("text"), m2).as("p")))(1L)
    val c2 = piecesOf(chainPieces(doc2, "doc_id", "text", m2))(1L)
    assert(k2 == Seq("74", "68", "65") && c2 == k2)
  }

  test("local incremental trainer == distributed per-merge-aggregate trainer") {
    val words = Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs") ++
      Seq.fill(3)("café")
    val planted = Seq(words.mkString(" ")).toDF("text")
    val dist = TextStats.trainBpeBytes(planted, "text", numMerges = 15)
    val local = TextStats.trainBpeBytesLocal(
      TextStats.bytePretokenCounts(planted, "text"), numMerges = 15)
    assert(local == dist,
      "same merges, same tie-breaks, same counts, same stop point")
    // and on real text with punctuation/space pre-tokens
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50)
    val dist2 = TextStats.trainBpeBytes(d, "text", numMerges = 24)
    val local2 = TextStats.trainBpeBytesLocal(
      TextStats.bytePretokenCounts(d, "text"), numMerges = 24)
    assert(local2 == dist2)
  }

  test("trained-list row-identity at 64 merges: pieces and counts equal the chain") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val trained = TextStats.trainBpeBytesLocal(
      TextStats.bytePretokenCounts(d, "text"), numMerges = 64)
      .map(m => (m._1, m._2))
    assert(trained.size == 64, "corpus must support a full 64-merge list")
    val chain = piecesOf(chainPieces(d, "doc_id", "text", trained))
    assert(piecesOf(TextStats.encodeBpeBytes(d, "doc_id", "text", trained)) ==
      chain, "64-merge trained list: kernel pieces row-identical to the chain")
    val chainN = d.select(col("doc_id"), chainCount(col("text"), trained))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kN = TextStats.applyBpeBytes(d, "doc_id", "text", trained)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(kN == chainN, "64-merge trained list: kernel counts equal the chain's")
  }

  test("a duplicate result piece is rejected on every surface at any merge count") {
    // (61,62) and (62,63) both fire, then (61,6263) and (6162,63) both
    // produce 'abc' = 616263: the piece->id vocabulary is ambiguous
    val dup = Seq(("61", "62"), ("62", "63"), ("61", "6263"), ("6162", "63"))
    val docs = Seq((1L, "en", "abc abcd"), (2L, "en", ""),
      (3L, "de", null.asInstanceOf[String])).toDF("doc_id", "lang", "text")
    def rejects(name: String, run: => Any): Unit = {
      val e = intercept[IllegalArgumentException](run)
      assert(e.getMessage.contains("duplicate merge result piece '616263'"),
        s"$name: ${e.getMessage}")
    }
    rejects("encodeBpeBytes",
      TextStats.encodeBpeBytes(docs, "doc_id", "text", dup).collect())
    rejects("applyBpeBytes",
      TextStats.applyBpeBytes(docs, "doc_id", "text", dup).collect())
    rejects("byteBpeFertility",
      TextStats.byteBpeFertility(docs, "text", Seq("lang"), dup).collect())
    rejects("encodeBpeBytesIds",
      TextStats.encodeBpeBytesIds(docs, "doc_id", "text", dup).collect())
  }

  test("production-size merge list: encode works, stays codegen'd, ids decode") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val big = TextStats.trainBpeBytesLocal(
      TextStats.bytePretokenCounts(d, "text"), numMerges = 10000,
      minPairCount = 1L).map(m => (m._1, m._2))
    assert(big.size > 100, "the corpus must support a trained list past fixture scale")
    val enc = TextStats.encodeBpeBytesIds(d, "doc_id", "text", big)
    assert(enc.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]),
      "the kernel must ride whole-stage codegen at production merge counts")
    val ids = enc.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val vocab = TextStats.bpeBytesVocab(spark, big)
      .collect().map(r => r.getLong(1) -> r.getString(0)).toMap
    val pieces = piecesOf(d.select(col("doc_id"),
      ByteBpeEncode.byteBpePieces(col("text"), big).as("p")))
    assert(ids.map { case (k, v) => k -> v.map(vocab) } == pieces,
      "ids must decode through bpeBytesVocab back to the exact pieces")
    // lossless: pieces concatenate back to the document's exact bytes
    val hexOf = d.select(col("doc_id"), hex(encode(col("text"), "UTF-8")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pieces.forall { case (k, v) => v.mkString("") == hexOf(k) })
  }

  test("GPT-2-size 50k table: ModelStore round-trip is order-exact and " +
    "the kernel encodes losslessly under an ASCII-firing tail") {
    // mirrors q_text_bpe_kernel_50k's table construction: trained head
    // + full 256×256 base-byte tail — unlike the 10k row's high-byte
    // tail, ASCII×ASCII entries FIRE on real text, so this exercises
    // deep greedy loops under a production-size rank table.
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val trained = TextStats.trainBpeBytesLocal(
      TextStats.bytePretokenCounts(d, "text"), numMerges = 50000)
    val have = trained.map { case (l, r, _) => l + r }.toSet
    val ab = (0 until 256).map(b => f"$b%02X")
    val full = (trained ++ (for (a <- ab; b <- ab) yield (a, b))
      .filter { case (a, b) => !have.contains(a + b) }
      .map { case (a, b) => (a, b, 0L) }).take(50000)
    assert(full.size == 50000)
    val tmp = java.nio.file.Files.createTempDirectory("graft_50k_spec").toString
    try {
      graft.sources.ModelStore.saveMerges(spark, full, tmp)
      val loaded = graft.sources.ModelStore.loadMerges(spark, tmp)
      assert(loaded == full,
        "round-trip must preserve rank ORDER and counts exactly — " +
          "merge order is the tokenizer's semantics")
      val merges = loaded.map(m => (m._1, m._2))
      val pieces = piecesOf(d.limit(50).select(col("doc_id"),
        ByteBpeEncode.byteBpePieces(col("text"), merges).as("p")))
      val hexOf = d.limit(50)
        .select(col("doc_id"), hex(encode(col("text"), "UTF-8")).as("h"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(pieces.forall { case (k, v) => v.mkString("") == hexOf(k) },
        "50k-table pieces must concatenate back to the exact bytes")
      // the ASCII tail must actually fire: take the first tail entry
      // made of two printable ASCII letter bytes and build that exact
      // two-byte token — under the full table it merges to ONE piece,
      // under the trained head alone it stays two raw bytes
      val (tl, tr, _) = loaded.drop(trained.size).find { case (l, r, _) =>
        def letter(h: String) = {
          val b = Integer.parseInt(h, 16)
          (b >= 0x61 && b <= 0x7A) || (b >= 0x41 && b <= 0x5A)
        }
        letter(l) && letter(r)
      }.get
      val tok = new String(Array(Integer.parseInt(tl, 16).toByte,
        Integer.parseInt(tr, 16).toByte), "UTF-8")
      val planted = Seq((1L, tok)).toDF("doc_id", "text")
      val fullP = piecesOf(planted.select(col("doc_id"),
        ByteBpeEncode.byteBpePieces(col("text"), merges).as("p")))
      val headP = piecesOf(planted.select(col("doc_id"),
        ByteBpeEncode.byteBpePieces(col("text"),
          trained.map(m => (m._1, m._2))).as("p")))
      assert(fullP(1L) == Seq(tl + tr) && headP(1L) == Seq(tl, tr),
        s"tail pair ($tl,$tr) must fire under the full table only")
    } finally {
      import java.nio.file.{Files, Path, Paths}
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }
}
