package graft

import graft.functions.TextFunctions
import graft.operators.{Dedup, DedupIndex, Multimodal, Similarity}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * SURVEY §7.4 LLM-pipeline operators as driver-verifiable queries over
 * the `documents` / `embeddings` / `events` testdata tables.
 *
 * Oracle notes: every SQL-expressible query carries a DuckDB oracle that
 * mirrors the Spark semantics EXACTLY (same regexes, same shingle
 * definition, same double-arithmetic shapes, counts cast to BIGINT).
 * `q_dedup_minhash` shares the exact-Jaccard oracle with
 * `q_dedup_ngram_pairs`: LSH banding (32 bands x 2 rows) + exact-verify
 * has no false negatives on pairs at J>=0.5 in practice (miss prob at
 * J=0.5 is (1-0.25)^32 ~ 1e-4, and real near-dup pairs sit at J>=0.85
 * where it is ~1e-23); the sketch is deterministic (xxhash64), so this
 * is a stable property of the dataset, not a per-run gamble.
 * `q_dedup_simhash` / `q_sim_ann_lsh` carry GENERATED exact oracles
 * (round 15): XXH64 is re-implemented in DuckDB SQL over HUGEINT
 * wrapping arithmetic, and the SRP hyperplanes are embedded as
 * seed-derived literals — see [[Xxh64Sql]] / AnnLshOracle.
 */
object ExtensionQueries {

  /** deterministic total order over every output column (same as ParityQueries). */
  private def det(df: DataFrame): DataFrame =
    df.orderBy(df.columns.map(c => col(c).asc_nulls_first).toIndexedSeq: _*)

  /** NOTE (r22): a blanket ScanFanOut at these source helpers was
    * MEASURED AND REJECTED — it improved the heavy chat/pack rows but
    * taxed ~100 cheap queries with an extra exchange + AQE stage
    * barrier each (~+0.5 s/row at this SF; register 216 -> 263 s).
    * Fan-out lives at the CPU-dense operator entry points and the
    * specific heavy query constructions instead (guide §2.4: no
    * exchanges "for parallelism" where there is nothing to feed). */
  private def docs(s: SparkSession, dir: String): DataFrame =
    source(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    source(s, dir, "embeddings")
  /** Every register read of a source table: the parquet schema job it
    * launches at construction runs under `graft:source.<table>`, so a
    * job profile attributes it to the table it reads. */
  private def source(s: SparkSession, dir: String, table: String): DataFrame =
    graft.operators.JobNames.named(s, s"graft:source.$table") {
      s.read.parquet(s"$dir/$table.parquet")
    }
  /** The fanned twins, for query constructions whose downstream per-row
    * kernels are measured-heavy (BPE encode, n-gram scoring over every
    * token, vector math per candidate). */
  private def docsFan(s: SparkSession, dir: String): DataFrame =
    graft.operators.ScanFanOut(docs(s, dir))
  private def embFan(s: SparkSession, dir: String): DataFrame =
    graft.operators.ScanFanOut(emb(s, dir))

  /** Driver-side fixture builder: encode a w×h image through the JDK's
    * own `ImageIO` writer so the decode query exercises REAL container
    * bytes. Lossless formats only (png/bmp/gif with palette-exact
    * colors) — the graded oracle pins exact pixel statistics. */
  private def encodeImg(fmt: String, w: Int, h: Int,
                        px: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, px(x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  /** Deterministic SFT-shaped conversations derived from `documents`:
    * whitespace tokens chunked 6-per-turn, roles alternating
    * user/assistant — same construction as the oracle's `cv` CTE
    * ([[chatCte]]), so the chat operators are graded on a
    * DuckDB-replayable `array<struct<role,content>>` column. */
  private def chatFromDocs(d: DataFrame): DataFrame = {
    val convType = ArrayType(StructType(Seq(
      StructField("role", StringType), StructField("content", StringType))))
    // staged token column: the chunk lambda gets no CSE, an inline
    // regex split would re-tokenize the text once per turn
    val toks = col("__toks")
    // coalesce pins __toks (and hence conv) NON-NULLABLE — same values
    // (null text: size(null)=-1 and size(array())=0 both take the
    // else-branch), but now the chat operators' conv-isNotNull guard
    // FOLDS AWAY instead of being predicate-pushed below the fan-out
    // exchange with the whole conv construction substituted into it
    // (measured: the pushed filter re-tokenized + re-built conv on the
    // 1-task scan side of every chat pack plan, ~0.85 s/branch)
    d.withColumn("__toks", coalesce(TextFunctions.whitespaceTokens(col("text")),
        array().cast(ArrayType(StringType))))
      .select(col("doc_id"),
        when(size(toks) > 0,
          transform(
            // coalesce: Ceil is unconditionally nullable in Catalyst,
            // which would poison conv's nullability (see __toks note)
            sequence(lit(0), coalesce(ceil(size(toks) / lit(6.0))
              .cast(IntegerType), lit(0)) - 1),
            i => struct(
              when(pmod(i, lit(2)) === 0, lit("user")).otherwise(lit("assistant"))
                .as("role"),
              array_join(slice(toks, i * lit(6) + 1, lit(6)), " ").as("content"))))
          .otherwise(array().cast(convType)).as("conv"))
  }
  private def chatFrame(s: SparkSession, dir: String): DataFrame =
    // fan BEFORE the conv construction (~1 s of single-task HOF work at
    // sf0.1) so every chat operator's per-conversation kernels run at
    // session parallelism; no-op at production input sizes
    chatFromDocs(docsFan(s, dir))

  /** Deterministic preference pairs derived from [[chatFrame]]
    * conversations (mirrored 1:1 by the oracles' `pf`/`pr` CTEs):
    * prompt = every turn but the last, chosen = the last turn's
    * content, rejected = chosen with word order reversed — except
    * every 17th doc, whose rejected EQUALS chosen (a planted
    * distinct-pair violation; single-word responses violate it
    * naturally). Keeps every non-empty conversation, so the
    * validation flags vary with conversation parity (odd-length
    * conversations end on a user turn → prompt_ends_user false). */
  private def pairFrame(s: SparkSession, dir: String): DataFrame =
    chatFrame(s, dir).filter(size(col("conv")) >= 1)
      .select(col("doc_id"),
        slice(col("conv"), lit(1), size(col("conv")) - 1).as("prompt"),
        element_at(col("conv"), -1).getField("content").as("chosen"))
      .withColumn("rejected",
        when(pmod(col("doc_id"), lit(17)) === 0, col("chosen"))
          .otherwise(array_join(reverse(split(col("chosen"), " ")), " ")))

  /** Three deterministic reward-scored responses per valid pair —
    * the best-of-N fixture shared by the pairsFromScored queries
    * (mirrored by their rs/sc oracle CTEs): k0 = chosen, k1 = word
    * reversal, k2 = chosen + " indeed"; score = (tokens·7 + 3k) mod
    * 13, so k0 and k2 tie and the wrap-around flips which side wins. */
  private def scoredRespFrame(s: SparkSession, dir: String): DataFrame =
    validPairFrame(s, dir)
      .select(col("doc_id"), col("prompt"), posexplode(array(
        col("chosen"),
        array_join(reverse(split(col("chosen"), " ")), " "),
        concat(col("chosen"), lit(" indeed")))).as(Seq("k", "resp")))
      .withColumn("resp_id", col("doc_id") * 4 + col("k"))
      .withColumn("score", pmod(
        TextFunctions.tokenCount(col("resp")) * 7 + col("k") * 3,
        lit(13)).cast(DoubleType))

  /** The VALID slice of [[pairFrame]] the dedup/split queries run on:
    * conversations that actually END on an assistant turn (even
    * length), so chosen is a real response. */
  private def validPairFrame(s: SparkSession, dir: String): DataFrame =
    chatFrame(s, dir)
      .filter(size(col("conv")) >= 2 &&
        element_at(col("conv"), -1).getField("role") === "assistant")
      .select(col("doc_id"),
        slice(col("conv"), lit(1), size(col("conv")) - 1).as("prompt"),
        element_at(col("conv"), -1).getField("content").as("chosen"))
      .withColumn("rejected",
        array_join(reverse(split(col("chosen"), " ")), " "))
  /** One temp parquet artifact per (JVM, sf dir), built on first use
    * and deleted at JVM exit — repeated Verify/Bench runs must not
    * accumulate half-corpus parquet trees in the system tmp dir. The
    * ONE cache/cleanup implementation behind every per-dir artifact. */
  private def cachedTmpArtifact(cache: java.util.concurrent.ConcurrentHashMap[String, String],
                                prefix: String, dir: String)(
      build: String => Unit): String =
    cache.computeIfAbsent(dir, _ => {
      val tmp = java.nio.file.Files.createTempDirectory(prefix)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        if (Files.exists(tmp))
          Files.walk(tmp).sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
      }))
      build(tmp.toString)
      tmp.toString
    })

  /** The byte-BPE fixture merges as a persisted ModelStore artifact —
    * what the r17 `tokenizer:` config mapping loads, so the graded
    * config row exercises the same persisted round-trip a production
    * config would (one per JVM × sf dir, shutdown-cleaned). */
  private val savedFixtureMerges =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def fixtureMergesStore(s: SparkSession, dir: String): String =
    cachedTmpArtifact(savedFixtureMerges, "graft_bpe_merges", dir) { path =>
      graft.sources.ModelStore.saveMerges(s,
        ByteBpeFixtureMerges.map { case (l, r) => (l, r, 0L) }, path)
    }

  /** One persisted dedup index per (JVM, sf dir): built on first use by
    * q_dedup_incremental_indexed over the historical half of the corpus
    * (doc_id < 400 — the same split q_dedup_incremental uses live). */
  private val builtIndexes = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def incrementalIndex(s: SparkSession, dir: String): String =
    cachedTmpArtifact(builtIndexes, "graft_dedup_index", dir) { path =>
      DedupIndex.build(docs(s, dir).filter(col("doc_id") < 400), "doc_id", "text",
        path, n = 5, dfCap = 100, numPerm = 64, bands = 32)
    }

  /** The APPEND-built twin of [[incrementalIndex]]: the same historical
    * corpus (doc_id < 400) reaches the artifact in two installments —
    * build over doc_id < 300, then [[DedupIndex.append]] of [300, 400).
    * Queried by q_dedup_index_append with the SAME oracle as the
    * one-shot index: append must be query-identical to rebuild. */
  private val appendedIndexes = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def appendedIndex(s: SparkSession, dir: String): String =
    cachedTmpArtifact(appendedIndexes, "graft_dedup_index_app", dir) { path =>
      val d = docs(s, dir)
      DedupIndex.build(d.filter(col("doc_id") < 300), "doc_id", "text",
        path, n = 5, dfCap = 100, numPerm = 64, bands = 32)
      DedupIndex.append(d.filter(col("doc_id") >= 300 && col("doc_id") < 400),
        "doc_id", "text", path)
    }

  /** The COMPACTED twin of [[appendedIndex]]: same build+append history,
    * then [[DedupIndex.compact]] rewrites every table (postings
    * re-capped from stored shingles, per-row tables de-duplicated).
    * Queried by q_dedup_index_compact with the same oracle again: the
    * maintenance run must not move a single delta decision. */
  private val compactedIndexes = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def compactedIndex(s: SparkSession, dir: String): String =
    cachedTmpArtifact(compactedIndexes, "graft_dedup_index_cmp", dir) { path =>
      val d = docs(s, dir)
      DedupIndex.build(d.filter(col("doc_id") < 300), "doc_id", "text",
        path, n = 5, dfCap = 100, numPerm = 64, bands = 32)
      DedupIndex.append(d.filter(col("doc_id") >= 300 && col("doc_id") < 400),
        "doc_id", "text", path)
      DedupIndex.compact(s, path)
    }

  /** One PERSISTED packed artifact per (JVM, sf dir) — the standard
    * fixture packer (budget 128, shards 8, 4 windows/file) written
    * through [[graft.sources.PackedArtifactStore.write]] with a
    * 2-epoch training order (seed 42). The q_pack_store_* rows grade
    * the PERSISTED execution path on the same oracle texts as the
    * in-memory pack family (r19, VERDICT r18 #6): manifest, unpack
    * and order are driver-checked against DuckDB over what is
    * actually on disk, not only spec-checked. */
  private val packedStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def packedStore(s: SparkSession, dir: String): String =
    cachedTmpArtifact(packedStores, "graft_pack_store", dir) { path =>
      val d = docs(s, dir)
      graft.sources.PackedArtifactStore.write(
        graft.operators.TextStats.materializePackedTokenIds(d, "doc_id",
          "text", ByteBpeFixtureMerges, budget = 128, shards = 8),
        graft.operators.TextStats.packedDocSpans(d, "doc_id", "text",
          ByteBpeFixtureMerges, budget = 128, shards = 8),
        path,
        graft.sources.PackedArtifactStore.Meta(budget = 128, shards = 8,
          windowsPerFile = 4, eosId = 256L + ByteBpeFixtureMerges.size,
          epochs = 2, seed = 42L))
    }

  /** A SECOND persisted doc store (r20) with different pack geometry
    * (budget 96, shards 4, seed 7) — the other corpus a multi-store
    * training job mounts; q_pack_stores_interleaved reads
    * [[packedStore]] + this one as a weighted WFQ interleave. */
  private val packedStoreBs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def packedStoreB(s: SparkSession, dir: String): String =
    cachedTmpArtifact(packedStoreBs, "graft_pack_store_b", dir) { path =>
      val d = docs(s, dir)
      graft.sources.PackedArtifactStore.write(
        graft.operators.TextStats.materializePackedTokenIds(d, "doc_id",
          "text", ByteBpeFixtureMerges, budget = 96, shards = 4),
        graft.operators.TextStats.packedDocSpans(d, "doc_id", "text",
          ByteBpeFixtureMerges, budget = 96, shards = 4),
        path,
        graft.sources.PackedArtifactStore.Meta(budget = 96, shards = 4,
          windowsPerFile = 4, eosId = 256L + ByteBpeFixtureMerges.size,
          epochs = 2, seed = 7L))
    }

  /** One PERSISTED SFT artifact per (JVM, sf dir) — the chat packer's
    * windows + conversation-span address book through the same store
    * (struct window cells exercise the layout's type-agnostic side).
    * q_chat_pack_window_mix_stored reads the PERSISTED spans, so the
    * sf10 envelope pin prices the mix operator itself instead of
    * re-running the whole chat tokenize+pack chain (r19, VERDICT r18
    * #5: 29.1 s pin for a ~2 s operator). */
  private val sftStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sftStore(s: SparkSession, dir: String): String =
    cachedTmpArtifact(sftStores, "graft_sft_store", dir) { path =>
      val c = chatFrame(s, dir)
      graft.sources.PackedArtifactStore.write(
        graft.operators.Chat.sftPackedTokenIds(c, "doc_id", "conv",
          ByteBpeFixtureMerges, budget = 128, shards = 8),
        graft.operators.Chat.sftPackedDocSpans(c, "doc_id", "conv",
          ByteBpeFixtureMerges, budget = 128, shards = 8),
        path,
        graft.sources.PackedArtifactStore.Meta(budget = 128, shards = 8,
          windowsPerFile = 4, eosId = 256L + ByteBpeFixtureMerges.size))
    }

  /** The NO-SPLIT twin of [[sftStore]] (r19): the truncating,
    * padding next-fit convention through the same on-disk layout —
    * the one packed shape where the manifest's `truncated_windows`
    * column is real, so the persisted path must aggregate it too. */
  private val sftNoSplitStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sftNoSplitStore(s: SparkSession, dir: String): String =
    cachedTmpArtifact(sftNoSplitStores, "graft_sft_store_ns", dir) { path =>
      val c = chatFrame(s, dir)
      graft.sources.PackedArtifactStore.write(
        graft.operators.Chat.sftPackedTokenIdsNoSplit(c, "doc_id", "conv",
          ByteBpeFixtureMerges, budget = 512, shards = 8),
        graft.operators.Chat.sftPackedDocSpansNoSplit(c, "doc_id", "conv",
          ByteBpeFixtureMerges, budget = 512, shards = 8),
        path,
        graft.sources.PackedArtifactStore.Meta(budget = 512, shards = 8,
          windowsPerFile = 4, eosId = 256L + ByteBpeFixtureMerges.size))
    }

  /** One temp DIRECTORY per (JVM, sf dir) for the `pack_store` config
    * stage's output — allocated here so bench repeats overwrite the
    * same artifact instead of accumulating stores. */
  private val configStoreDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def configStoreDir(s: SparkSession, dir: String): String =
    cachedTmpArtifact(configStoreDirs, "graft_pack_store_cfg", dir)(_ => ())

  /** The chat twin's `pack_store` output directory (same overwrite
    * discipline). */
  private val chatConfigStoreDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def chatConfigStoreDir(s: SparkSession, dir: String): String =
    cachedTmpArtifact(chatConfigStoreDirs, "graft_chat_store_cfg", dir)(_ => ())

  /** documents plus planted exact duplicates: every doc_id % 50 == 0
    * row re-enters TWICE under offset ids (+1e6, +2e6), giving those
    * texts exactly 3 copies — shared by q_dedup_cap (cap 2 drops the
    * third) and q_dedup_softweights (weight 1/3). */
  private def plantedDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val dup = d.filter(pmod(col("doc_id"), lit(50)) === 0)
    d.unionAll(dup.withColumn("doc_id", col("doc_id") + 1000000L))
      .unionAll(dup.withColumn("doc_id", col("doc_id") + 2000000L))
  }

  /** One JSONL export of the documents table per (JVM, sf dir) —
    * gzip-compressed in 4 shards (the splittability note in
    * [[graft.sources.TextCorpus]]). Queried by q_corpus_jsonl_roundtrip:
    * the read-back must be row-identical to the parquet original. */
  private val jsonlExports = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def jsonlExport(s: SparkSession, dir: String): String =
    cachedTmpArtifact(jsonlExports, "graft_corpus_jsonl", dir) { path =>
      graft.sources.TextCorpus.writeJsonl(docs(s, dir), path,
        compression = Some("gzip"), partitions = 4)
    }

  /** Chat-corpus JSONL export: NESTED `array<struct<role,content>>`
    * rows through the same interchange path — conversations arrive as
    * JSONL in practice, and the round-trip query pins that the nested
    * schema survives the format byte-exactly. */
  private val chatJsonlExports = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def chatJsonlExport(s: SparkSession, dir: String): String =
    cachedTmpArtifact(chatJsonlExports, "graft_chat_jsonl", dir) { path =>
      graft.sources.TextCorpus.writeJsonl(chatFrame(s, dir), path,
        compression = Some("gzip"), partitions = 2)
    }

  /** ISO-BMFF box as hex: u32-BE size + 4cc type + payload — the
    * hand-assembled-header discipline (q_multimodal_dims) for MP4
    * fixtures, shared with MultimodalSpec's derivations. */
  private def mp4Box(tp: String, payloadHex: String): String =
    f"${8 + payloadHex.length / 2}%08X" +
      tp.map(c => f"${c.toInt}%02X").mkString + payloadHex
  /** Minimal valid-enough MP4: ftyp(isom) + moov{mvhd v0 ts=1000
    * dur=2500, video trak 320x240, audio trak 0x0}. */
  private def mp4Fixture: String = {
    val mvhd = "00000000" + "00000000" + "00000000" +
      "000003E8" + "000009C4" + "00" * 80
    val tkhdVideo = "00" * 76 + "01400000" + "00F00000"
    val tkhdAudio = "00" * 76 + "00000000" + "00000000"
    mp4Box("ftyp", "69736F6D" + "00000200") +
      mp4Box("moov", mp4Box("mvhd", mvhd) +
        mp4Box("trak", mp4Box("tkhd", tkhdVideo)) +
        mp4Box("trak", mp4Box("tkhd", tkhdAudio)))
  }

  private def leHex(v: Long, bytes: Int): String =
    (0 until bytes).map(k => f"${(v >> (8 * k)) & 0xFF}%02X").mkString
  /** Minimal AVI: RIFF `AVI ` + LIST hdrl{avih} — 40 µs/frame × 250
    * frames = 10000 ms, 2 streams, 640×480. */
  private def aviFixture: String = {
    val avih = leHex(40000, 4) + leHex(0, 4) + leHex(0, 4) + leHex(0, 4) +
      leHex(250, 4) + leHex(0, 4) + leHex(2, 4) + leHex(0, 4) +
      leHex(640, 4) + leHex(480, 4)
    val hdrl = "6864726C" + "61766968" + leHex(avih.length / 2, 4) + avih
    val list = "4C495354" + leHex(hdrl.length / 2, 4) + hdrl
    "52494646" + leHex(4 + list.length / 2, 4) + "41564920" + list
  }
  /** EBML element: raw id hex + 1-byte size varint + payload. */
  private def eb(idHex: String, payloadHex: String): String = {
    val n = payloadHex.length / 2
    require(n < 127, "fixture elements use 1-byte sizes")
    idHex + f"${0x80 | n}%02X" + payloadHex
  }
  /** Minimal WebM: EBML{DocType webm} + Segment{Info{scale 1 ms,
    * float duration 12000 ticks}, Tracks{video 1920×1080, audio}}. */
  private def webmFixture: String =
    eb("1A45DFA3", eb("4282", "7765626D")) +
      eb("18538067",
        eb("1549A966", eb("2AD7B1", "0F4240") + eb("4489", "463B8000")) +
          eb("1654AE6B",
            eb("AE", eb("E0", eb("B0", "0780") + eb("BA", "0438"))) +
              eb("AE", "")))

  /** ORC twin of [[jsonlExport]] (zstd, 4 shards). */
  private val orcExports = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def orcExport(s: SparkSession, dir: String): String =
    cachedTmpArtifact(orcExports, "graft_corpus_orc", dir) { path =>
      graft.sources.TextCorpus.writeOrc(docs(s, dir), path,
        compression = Some("zstd"), partitions = 4)
    }

  /** CSV twin of [[jsonlExport]] (quoted/escaped, 4 plain shards). */
  private val csvExports = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def csvExport(s: SparkSession, dir: String): String =
    cachedTmpArtifact(csvExports, "graft_corpus_csv", dir) { path =>
      graft.sources.TextCorpus.writeCsv(docs(s, dir), path, partitions = 4)
    }

  /** Seeded planted-cluster frame (20 clusters x 50 vectors, sigma small
    * vs inter-center distance, seed 11) — deterministic and SF-invariant,
    * shared by the clustered-structure gates and the bench-visible
    * adaptive-IVF row so they all measure the SAME corpus. */
  /** The raw planted-cluster rows — shared by the frame builder AND
    * the generated IvfClusteredOracle, so the two sides can never
    * drift on the fixture itself (the generated-VALUES convention). */
  private lazy val plantedClusterData: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(11)
    val dim = 32
    val centers = Array.fill(20)(Array.fill(dim)(rnd.nextGaussian()))
    (0 until 1000).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat))
    }
  }
  private def plantedClusters(s: SparkSession): DataFrame = {
    import s.implicits._
    plantedClusterData.toDF("vec_id", "embedding")
  }

  /** Seeded planted-subspace frame for the PCA gate (shared construction
    * with PcaSpec): 2000 x 64-dim vectors with variance 9 along u1 and 4
    * along orthonormal u2, isotropic noise 0.05 — deterministic and
    * SF-invariant. Returns (frame, u1, u2). */
  private def plantedSubspace(s: SparkSession): (DataFrame, Array[Double], Array[Double]) = {
    import s.implicits._
    val rnd = new scala.util.Random(19)
    val dim = 64
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val u1 = unit()
    val raw2 = unit()
    val d12 = raw2.zip(u1).map { case (a, b) => a * b }.sum
    val o2 = raw2.zip(u1).map { case (a, b) => a - d12 * b }
    val n2 = math.sqrt(o2.map(x => x * x).sum)
    val u2 = o2.map(_ / n2)
    val rows = (0 until 2000).map { i =>
      val a = 3.0 * rnd.nextGaussian()
      val b = 2.0 * rnd.nextGaussian()
      (i.toLong, Array.tabulate(dim)(k =>
        (a * u1(k) + b * u2(k) + 0.05 * rnd.nextGaussian()).toFloat))
    }
    (rows.toDF("vec_id", "embedding"), u1, u2)
  }

  private def events(s: SparkSession, dir: String): DataFrame = {
    // events.ts has shipped as both INT64 TIMESTAMP(NANOS) (read as long via
    // the legacy flag) and plain timestamp[us]; normalize to TimestampType
    // here so every consumer matches the oracle's CAST(ts AS TIMESTAMP).
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = source(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** As-of fixture sides shared by the three q_events_asof* queries:
    * left = clicks; right = views pre-aggregated to UNIQUE (user, ts)
    * via max_by(value, event_id), so the as-of match is deterministic
    * without relying on tie-break order (the oracle's ASOF JOIN has
    * no tie contract for duplicate right keys). */
  private def asofClicks(s: SparkSession, dir: String): DataFrame =
    events(s, dir).filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
  private def asofViews(s: SparkSession, dir: String): DataFrame =
    events(s, dir).filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(expr("max_by(value, event_id)").as("view_value"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // product-analytics retention triangle over the event log
    "q_events_retention" -> ((s, dir) =>
      det(graft.operators.Windowed.retentionCohorts(events(s, dir),
        "user_id", "ts", unit = "week"))),

    // ordered funnel: view -> click -> purchase, each step at-or-after
    // the user's previous-step time
    "q_events_funnel" -> ((s, dir) =>
      det(graft.operators.Windowed.funnel(events(s, dir),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")))),

    // conversion latency between adjacent funnel steps
    "q_events_funnel_timings" -> ((s, dir) =>
      det(graft.operators.Windowed.funnelTimings(events(s, dir),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")))),

    // one-row session engagement card over the 2h-gap sessionization
    "q_events_session_stats" -> ((s, dir) =>
      det(graft.operators.Windowed.sessionStats(events(s, dir),
        "user_id", "ts", gapSeconds = 7200, tieBreakCol = Some("event_id")))),

    // point-in-time enrichment: each click carries the user's most
    // recent view value (as-of backward join — one shuffle, no join
    // node; DuckDB's NATIVE ASOF JOIN is the independent oracle)
    "q_events_asof" -> ((s, dir) =>
      det(graft.operators.Temporal.asofJoin(
        asofClicks(s, dir), asofViews(s, dir), "user_id", "ts",
        Seq("view_value")))),

    // the forward direction: next view at-or-after each click
    "q_events_asof_forward" -> ((s, dir) =>
      det(graft.operators.Temporal.asofJoin(
        asofClicks(s, dir), asofViews(s, dir), "user_id", "ts",
        Seq("view_value"), direction = "forward"))),

    // backward with a 1-day staleness bound: older matches null out
    "q_events_asof_tolerance" -> ((s, dir) =>
      det(graft.operators.Temporal.asofJoin(
        asofClicks(s, dir), asofViews(s, dir), "user_id", "ts",
        Seq("view_value"), toleranceSeconds = Some(86400.0)))),

    // nearest on either side (ties backward): both windows share one
    // key exchange; the oracle composes DuckDB's two ASOF directions
    "q_events_asof_nearest" -> ((s, dir) =>
      det(graft.operators.Temporal.asofJoin(
        asofClicks(s, dir), asofViews(s, dir), "user_id", "ts",
        Seq("view_value"), direction = "nearest"))),

    // the zero-fact-shuffle broadcast variant: SAME oracle text as
    // q_events_asof — one oracle, two execution paths (the
    // decontaminate-Bloom convention)
    "q_events_asof_broadcast" -> ((s, dir) =>
      det(graft.operators.Temporal.asofJoinBroadcast(
        asofClicks(s, dir), asofViews(s, dir), "user_id", "ts",
        Seq("view_value")))),

    // the same window plan as q_events_asof under a second register
    // name, kept so register and bench histories stay comparable;
    // graded on the same oracle text
    "q_events_asof_exec" -> ((s, dir) =>
      det(graft.operators.Temporal.asofJoin(
        asofClicks(s, dir), asofViews(s, dir), "user_id", "ts",
        Seq("view_value")))),

    // the THIRD execution path: the monster-key scale-out —
    // (key, ts-bucket) range partitioning with a boundary-carry pass,
    // so one bot user can never serialize the job on a single task;
    // graded on the same oracle text again (few buckets force carries)
    "q_events_asof_skewed" -> ((s, dir) =>
      det(graft.operators.Temporal.asofJoinSkewed(
        asofClicks(s, dir), asofViews(s, dir), "user_id", "ts",
        Seq("view_value"), numBuckets = 8))),

    // time-weighted mean of each user's value series (step-function
    // integral; plain avg is wrong under irregular sampling)
    "q_events_twa" -> ((s, dir) =>
      det(graft.operators.Temporal.timeWeightedAvg(events(s, dir),
        "user_id", "ts", "value", tieCol = "event_id"))),

    // the bucketed scale-out of the same integral — SECOND execution
    // path on the q_events_twa oracle text (few buckets force carries)
    "q_events_twa_skewed" -> ((s, dir) =>
      det(graft.operators.Temporal.timeWeightedAvgSkewed(events(s, dir),
        "user_id", "ts", "value", tieCol = "event_id", numBuckets = 8))),

    // the TWA job declared as YAML (r17): the skew mapping selects
    // timeWeightedAvgSkewed at 8 buckets — THIRD execution path
    // (config -> bucketed plan) on the q_events_twa oracle text
    "q_events_twa_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileEventsTwaYaml(
        """events_twa:
          |  user_col: user_id
          |  ts_col: ts
          |  value_col: value
          |  tie_col: event_id
          |  skew: {num_buckets: 8}
          |""".stripMargin,
        events(s, dir)))),

    // interval-overlap join: each user's view-sessions paired with
    // the click-sessions they overlap (canonical-bucket dedup — no
    // DISTINCT pass)
    "q_events_interval_join" -> ((s, dir) => {
      val e = events(s, dir)
      def sess(t: String, p: String) =
        graft.operators.Windowed.sessionizeBatch(
          e.filter(col("event_type") === t), "user_id", "ts",
          gapSeconds = 86400, tieBreakCol = Some("event_id"))
          .select(col("user_id"), col("session_start").as(s"${p}_start"),
            col("session_end").as(s"${p}_end"),
            col("n_events").as(s"${p}_n"))
      det(graft.operators.Temporal.intervalOverlapJoin(
        sess("view", "v"), sess("click", "c"),
        "v_start", "v_end", "c_start", "c_end",
        bucketWidth = 86400.0, keyCol = Some("user_id")))
    }),

    // SCD2 build: the user's event-type episode history — same-ts
    // dups resolved by max event_id, unchanged repeats collapsed,
    // half-open [valid_from, valid_to) intervals + version counter
    "q_events_scd2" -> ((s, dir) =>
      det(graft.operators.Temporal.changeIntervals(events(s, dir),
        "user_id", "ts", "event_type", tieCol = Some("event_id")))),

    // the monster-key scale-out of the SCD2 build — SECOND execution
    // path on the q_events_scd2 oracle text (few buckets so the
    // carry-fed change filter, cross-bucket valid_to and version
    // offsets all fire)
    "q_events_scd2_skewed" -> ((s, dir) =>
      det(graft.operators.Temporal.changeIntervalsSkewed(events(s, dir),
        "user_id", "ts", "event_type", tieCol = Some("event_id"),
        numBuckets = 8))),

    // interval containment via bucketized blocking: purchases landing
    // inside the user's 1-day-gap VIEW sessions (equi-join on the
    // 1-day time bucket + user, exact filter after — no nested loop)
    "q_events_range_join" -> ((s, dir) => {
      val e = events(s, dir)
      val sessions = graft.operators.Windowed.sessionizeBatch(
        e.filter(col("event_type") === "view"), "user_id", "ts",
        gapSeconds = 86400, tieBreakCol = Some("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      det(graft.operators.Temporal.rangeJoin(purchases, sessions,
        "ts", "session_start", "session_end", bucketWidth = 86400.0,
        keyCol = Some("user_id")))
    }),

    // --- text analysis ----------------------------------------------------

    "q_text_tokens" -> ((s, dir) => det(docs(s, dir).select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens")))),

    "q_corpus_stats" -> ((s, dir) =>
      det(graft.operators.TextStats.corpusStats(docs(s, dir), "text",
        Seq("lang", "source")))),

    // staged on the native one-pass TokenProfile (the langid playbook);
    // the declarative qualityColumns formulation is the spec's oracle
    "q_text_quality" -> ((s, dir) => {
      val (staged, cols) = TextFunctions.stagedQuality(docs(s, dir), col("text"))
      det(staged.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*))
    }),

    // Gopher document-shape rules (word/line heuristics; the composite
    // quality score's complement) — one zero-shuffle projection
    "q_text_gopher" -> ((s, dir) =>
      det(graft.operators.TextStats.gopherQualityFlags(docs(s, dir),
        "doc_id", "text"))),

    // filter-funnel audit: per-stage survival under cumulative
    // conjunction, ONE aggregation pass over the corpus
    "q_filter_funnel" -> ((s, dir) =>
      det(graft.operators.CorpusClean.filterFunnel(docs(s, dir), Seq(
        "min_length" -> (length(col("text")) >= 200),
        "lang_en" -> (col("lang") === "en"),
        "word_count" -> (size(regexp_extract_all(col("text"), lit("\\S+"),
          lit(0))) >= 30),
        "no_boilerplate" -> !col("text").contains("lorem ipsum"))))),

    // staged langid (VERDICT r5 #2): letter-tokens + profile scores
    // computed once per row, not once per when-branch
    "q_text_langid" -> ((s, dir) => det(
      TextFunctions.withDetectedLanguage(docs(s, dir), col("text"), "detected_lang")
        .select("doc_id", "detected_lang"))),

    "q_text_fingerprint" -> ((s, dir) => det(docs(s, dir)
      .groupBy(TextFunctions.contentFingerprint(col("text")).as("fingerprint"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_dups")))),

    // dup groups modulo Unicode form / case / whitespace — what exact
    // byte-equality dedup misses on real crawls
    "q_dedup_normalized" -> ((s, dir) => det(docs(s, dir)
      .groupBy(TextFunctions.contentFingerprint(
        TextFunctions.normalizeForDedup(col("text"))).as("fingerprint"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_dups")))),

    // the AGGRESSIVE normalization flavor: punctuation stripped, digits
    // collapsed — recrawl timestamps/counters stop splitting families
    "q_dedup_aggressive" -> ((s, dir) => det(docs(s, dir)
      .groupBy(TextFunctions.contentFingerprint(
        TextFunctions.normalizeAggressive(col("text"))).as("fingerprint"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_dups")))),

    // per-source dedup-rate card: how much of each source the near-dup
    // collapse removes — the curation dashboard row that says WHERE the
    // duplication lives (same pair graph as q_dedup_collapse)
    "q_dedup_rates_by_source" -> ((s, dir) => {
      val d = docs(s, dir)
      val p = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 5, threshold = 0.5, dfCap = 100)
      det(Dedup.dedupRatesBy(d, "doc_id", "source", p, "doc_a", "doc_b"))
    }),

    "q_text_repetition" -> ((s, dir) =>
      det(graft.operators.TextStats.repetitionProfile(docs(s, dir), "doc_id", "text"))),

    // flagship corpus-cleaning pipeline: dedup + langid + quality +
    // repetition filter composed into one plan (operators/CorpusClean)
    "q_corpus_clean" -> ((s, dir) =>
      det(graft.operators.CorpusClean.clean(docs(s, dir), "doc_id", "text",
        langs = Seq("en"), minQuality = 3, maxTopBigramRatio = 0.06))),

    // the WHOLE pretrain data pipeline in one composition (VERDICT r9
    // #7): clean -> near-dedup collapse (pairs on the RAW corpus, the
    // natural order collapseNearDups' re-restriction contract exists
    // for) -> decontaminate vs the eval slice -> train split -> per-lang
    // token budget -> sequence packing. The 100x-scale smoke test for
    // cross-operator plan pathologies; TextStatsSpec bounds the final
    // plan's exchange count. Output = packed training-sequence
    // addresses.
    "q_pipeline_pretrain" -> ((s, dir) => {
      val d = docs(s, dir)
      val cleaned = graft.operators.CorpusClean.clean(d, "doc_id", "text",
        langs = Seq("en"), minQuality = 3, maxTopBigramRatio = 0.06)
      val cleanedDocs = d.join(cleaned.select("doc_id"), Seq("doc_id"), "left_semi")
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 5, threshold = 0.5, dfCap = 100)
      val surv = Dedup.collapseNearDups(cleanedDocs, "doc_id", pairs,
        "doc_a", "doc_b")
      val decon = Dedup.decontaminate(surv,
        d.filter(pmod(col("doc_id"), lit(97)) === 0), "doc_id", "text", n = 13)
      val train = graft.operators.Sampling.assignSplit(decon, "doc_id",
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .filter(col("split") === "train")
      val sampled = graft.operators.Sampling.tokenBudgetSample(train,
        Seq("lang"), "doc_id", TextFunctions.tokenCount(col("text")),
        budget = 2000L)
      det(graft.operators.TextStats.packSequences(sampled, "doc_id", "text",
        budget = 512, shards = 4))
    }),

    // the SAME pretrain pipeline, built from YAML by CurationCompiler —
    // pinned hash-identical to q_pipeline_pretrain (same oracle text):
    // the config surface can never drift from the programmatic one
    "q_pipeline_config" -> ((s, dir) => {
      val d = docs(s, dir)
      val yaml =
        """curation:
          |  id_col: doc_id
          |  text_col: text
          |  stages:
          |    - op: quality_filter
          |      langs: [en]
          |      min_quality: 3
          |      max_top_bigram_ratio: 0.06
          |    - op: dedup_collapse
          |      ngram: 5
          |      threshold: 0.5
          |      df_cap: 100
          |    - op: decontaminate
          |      eval: holdout
          |      ngram: 13
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
      det(graft.plans.CurationCompiler.compileYaml(yaml, d,
        Map("holdout" -> d.filter(pmod(col("doc_id"), lit(97)) === 0))))
    }),

    "q_pack_sequences" -> ((s, dir) =>
      det(graft.operators.TextStats.packSequences(docs(s, dir), "doc_id", "text",
        budget = 512, shards = 8))),

    // the addresses above, MATERIALIZED: one row per training sequence
    // with its actual token text (docs split token-exactly at budget
    // boundaries; every sequence <= 512 tokens)
    "q_pack_materialize" -> ((s, dir) =>
      det(graft.operators.TextStats.materializePackedSequences(docs(s, dir),
        "doc_id", "text", budget = 512, shards = 8))),

    // the FINAL SFT artifact from YAML (r17): pack_sft_ids on the CHAT
    // config surface under the persisted tokenizer — graded on the
    // q_chat_pack_sft_ids oracle text (one oracle, two construction
    // paths)
    "q_pipeline_sft_pack_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileChatYaml(
        s"""chat_curation:
           |  tokenizer: {kind: bpe_bytes, merges: ${fixtureMergesStore(s, dir)}}
           |  stages:
           |    - {op: pack_sft_ids, budget: 128, shards: 8}
           |""".stripMargin, chatFrame(s, dir))
        .select(col("shard"), col("seq_id"),
          posexplode(arrays_zip(col("token_ids"), col("loss_mask")))
            .as(Seq("pos", "__cell")))
        .select(col("shard"), col("seq_id"),
          col("pos").cast(LongType).as("pos"),
          col("__cell").getField("token_ids").as("token_id"),
          col("__cell").getField("loss_mask").as("loss_mask")))),

    // the UN-packed SFT tokenization surface (r17): per-conversation
    // production-tokenizer ids + aligned assistant loss mask — the
    // row-local (streaming-legal) half of the SFT intake; packing is
    // the batch compaction. Posexploded scalars; the oracle is the
    // shared conversation-cell CTE chain unnested directly
    "q_chat_sft_tokenize" -> ((s, dir) =>
      det(graft.operators.Chat.sftTokenizeMask(chatFrame(s, dir),
        "doc_id", "conv", ByteBpeFixtureMerges)
        .select(col("doc_id"),
          posexplode(arrays_zip(col("token_ids"), col("loss_mask")))
            .as(Seq("pos", "__cell")))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("__cell").getField("token_ids").as("token_id"),
          col("__cell").getField("loss_mask").as("loss_mask")))),

    // the SFT artifact's READER side (r18): reconstruct every
    // conversation's (ids, mask) cells from the packed windows + the
    // span address book — graded on the q_chat_sft_tokenize oracle
    // text (unpack(pack) == tokenize, the oracle never sees the
    // packed form)
    "q_chat_sft_unpack" -> ((s, dir) => {
      val cf = chatFrame(s, dir)
      // r22: windows + spans from ONE shared address pass (the r20
      // store-write trick, VERDICT r21 #2) — one count-encode + one
      // ids-encode instead of two count-encodes + two address passes;
      // sftPackedArtifactFrames is spec-pinned row-identical to the
      // two independent operators (shared arithmetic tails)
      val (win, spans) = graft.operators.Chat.sftPackedArtifactFrames(cf,
        "doc_id", "conv", ByteBpeFixtureMerges, budget = 128, shards = 8)
      det(graft.operators.Chat.unpackSftWindows(win, spans)
        .select(col("doc_id"),
          posexplode(arrays_zip(col("token_ids"), col("loss_mask")))
            .as(Seq("pos", "__cell")))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("__cell").getField("token_ids").as("token_id"),
          col("__cell").getField("loss_mask").as("loss_mask")))
    }),

    // the no-split reader (r18): same kernel over the no-split pair —
    // what comes back is the MAX-SEQ-LEN rule's view (cells truncated
    // at budget, pad tails excluded: spans never cover padding); the
    // oracle is the tokenize replay sliced to budget
    "q_chat_sft_unpack_nosplit" -> ((s, dir) => {
      val cf = chatFrame(s, dir)
      // r22: shared next-fit address pass (see q_chat_sft_unpack) —
      // one count-encode + one address scan feed both surfaces
      val (win, spans) = graft.operators.Chat.sftPackedArtifactFrames(cf,
        "doc_id", "conv", ByteBpeFixtureMerges, budget = 512, shards = 8,
        noSplit = true)
      det(graft.operators.Chat.unpackSftWindows(win, spans)
        .select(col("doc_id"),
          posexplode(arrays_zip(col("token_ids"), col("loss_mask")))
            .as(Seq("pos", "__cell")))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("__cell").getField("token_ids").as("token_id"),
          col("__cell").getField("loss_mask").as("loss_mask")))
    }),

    // the packed SFT stream's conversation spans (r17): example
    // boundaries inside packed windows (the loss mask alone cannot
    // recover them) — same chop geometry as q_chat_pack_sft_ids,
    // scalar-only
    "q_chat_pack_sft_spans" -> ((s, dir) =>
      det(graft.operators.Chat.sftPackedDocSpans(chatFrame(s, dir),
        "doc_id", "conv", ByteBpeFixtureMerges, budget = 128, shards = 8))),

    // the SFT window-mix twin (r18): the domain mix of every packed
    // SFT window — same operator, the chat spans geometry; the
    // conversation ids ARE doc ids, so each window's mix traces back
    // to the source strata
    "q_chat_pack_window_mix" -> ((s, dir) =>
      det(graft.operators.TextStats.packedWindowMix(
        graft.operators.Chat.sftPackedDocSpans(chatFrame(s, dir),
          "doc_id", "conv", ByteBpeFixtureMerges, budget = 128, shards = 8),
        docs(s, dir), "doc_id", "source"))),

    // the SAME mix over the PERSISTED conversation-span address book
    // (r19, VERDICT r18 #5): spans read back from the SFT store, so
    // the row prices the mix operator itself — a training job computes
    // the mix from the mounted artifact, not by re-packing; identical
    // oracle text, third construction path for the spans
    "q_chat_pack_window_mix_stored" -> ((s, dir) =>
      det(graft.operators.TextStats.packedWindowMix(
        graft.sources.PackedArtifactStore.readSpans(s, sftStore(s, dir)),
        docs(s, dir), "doc_id", "source"))),

    // the PERSISTED SFT artifact unpacked from disk (r19): windows
    // (struct cells — ids ZIPPED with the loss mask survive the
    // parquet round trip) + spans read back through the store,
    // reassembled per conversation against the tokenize oracle that
    // never sees the packed form — the SFT twin of q_pack_store_unpack
    "q_chat_sft_unpack_stored" -> ((s, dir) => {
      val p = sftStore(s, dir)
      det(graft.operators.Chat.unpackSftWindows(
        graft.sources.PackedArtifactStore.readWindows(s, p),
        graft.sources.PackedArtifactStore.readSpans(s, p))
        .select(col("doc_id"),
          posexplode(arrays_zip(col("token_ids"), col("loss_mask")))
            .as(Seq("pos", "__cell")))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("__cell").getField("token_ids").as("token_id"),
          col("__cell").getField("loss_mask").as("loss_mask")))
    }),

    // the NO-SPLIT convention through the persisted store (r19):
    // unpack the truncating/padding packer's on-disk windows+spans —
    // the budget-sliced max-seq-len view, same oracle as the in-memory
    // twin
    "q_chat_sft_unpack_nosplit_stored" -> ((s, dir) => {
      val p = sftNoSplitStore(s, dir)
      det(graft.operators.Chat.unpackSftWindows(
        graft.sources.PackedArtifactStore.readWindows(s, p),
        graft.sources.PackedArtifactStore.readSpans(s, p))
        .select(col("doc_id"),
          posexplode(arrays_zip(col("token_ids"), col("loss_mask")))
            .as(Seq("pos", "__cell")))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("__cell").getField("token_ids").as("token_id"),
          col("__cell").getField("loss_mask").as("loss_mask")))
    }),

    // the no-split store's PERSISTED manifest (r19): write() derived
    // it from the just-written windows, and this shape is the one
    // where truncated_windows is REAL — the persisted path must
    // aggregate the truncation flag too; q_chat_pack_nosplit_manifest
    // oracle text
    "q_chat_store_nosplit_manifest" -> ((s, dir) =>
      det(graft.sources.PackedArtifactStore.readManifest(s,
        sftNoSplitStore(s, dir)))),

    // the mountable SFT artifact from YAML (r19): the chat pack_store
    // terminal stage — windows + conversation spans + manifest + meta
    // written from config, validate() returned; the oracle counts the
    // artifact's files independently from the SFT pack geometry
    "q_pipeline_chat_store_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileChatYaml(
        s"""chat_curation:
           |  tokenizer: {kind: bpe_bytes, merges: ${fixtureMergesStore(s, dir)}}
           |  stages:
           |    - {op: pack_store, budget: 128, shards: 8,
           |       windows_per_file: 4, path: ${chatConfigStoreDir(s, dir)}}
           |""".stripMargin, chatFrame(s, dir)))),

    // NO-SPLIT SFT packing (r17): conversations never cross windows —
    // next-fit in id order per shard, oversized conversations truncate
    // into their own window, every window pads to exactly 512 ids
    // (pad = eos, mask 0). The oracle replays next-fit SEQUENTIALLY
    // with a recursive CTE (one doc per step per shard) — running
    // remainders are not a prefix sum, so this is the recursive-replay
    // class like the kernel oracles
    "q_chat_pack_sft_nosplit" -> ((s, dir) =>
      det(graft.operators.Chat.sftPackedTokenIdsNoSplit(chatFrame(s, dir),
        "doc_id", "conv", ByteBpeFixtureMerges, budget = 512, shards = 8)
        .select(col("shard"), col("seq_id"),
          posexplode(arrays_zip(col("token_ids"), col("loss_mask")))
            .as(Seq("pos", "__cell")))
        .select(col("shard"), col("seq_id"),
          col("pos").cast(LongType).as("pos"),
          col("__cell").getField("token_ids").as("token_id"),
          col("__cell").getField("loss_mask").as("loss_mask")))),

    // the no-split stream's conversation spans (r18): one row per
    // conversation (no-split never tears one), same geometry as the
    // packer through the SHARED address construction; span_len is the
    // real cell count (truncated convs stop at budget), pad tails are
    // whatever spans don't cover
    "q_chat_pack_nosplit_spans" -> ((s, dir) =>
      det(graft.operators.Chat.sftPackedDocSpansNoSplit(chatFrame(s, dir),
        "doc_id", "conv", ByteBpeFixtureMerges, budget = 512, shards = 8))),

    // the no-split packer from YAML (r18): pack_sft_ids_nosplit
    // terminal stage on the q_chat_pack_sft_nosplit oracle text
    "q_pipeline_sft_nosplit_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileChatYaml(
        s"""chat_curation:
           |  tokenizer: {kind: bpe_bytes, merges: ${fixtureMergesStore(s, dir)}}
           |  stages:
           |    - {op: pack_sft_ids_nosplit, budget: 512, shards: 8}
           |""".stripMargin, chatFrame(s, dir))
        .select(col("shard"), col("seq_id"),
          posexplode(arrays_zip(col("token_ids"), col("loss_mask")))
            .as(Seq("pos", "__cell")))
        .select(col("shard"), col("seq_id"),
          col("pos").cast(LongType).as("pos"),
          col("__cell").getField("token_ids").as("token_id"),
          col("__cell").getField("loss_mask").as("loss_mask")))),

    // its span address book from YAML, on the q_chat_pack_nosplit_spans
    // oracle text
    "q_pipeline_sft_nosplit_spans_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileChatYaml(
        s"""chat_curation:
           |  tokenizer: {kind: bpe_bytes, merges: ${fixtureMergesStore(s, dir)}}
           |  stages:
           |    - {op: pack_sft_spans_nosplit, budget: 512, shards: 8}
           |""".stripMargin, chatFrame(s, dir)))),

    // the FINAL SFT artifact (r17): turn-template rendering -> per-turn
    // byte-BPE ids + token-exact loss mask (assistant turns carry 1) +
    // per-conversation EOS, packed into 128-id context windows; graded
    // as posexploded scalars against a fully independent DuckDB
    // re-derivation (turn render + ids replay + mask + offsets + chop)
    "q_chat_pack_sft_ids" -> ((s, dir) =>
      det(graft.operators.Chat.sftPackedTokenIds(chatFrame(s, dir),
        "doc_id", "conv", ByteBpeFixtureMerges, budget = 128, shards = 8)
        .select(col("shard"), col("seq_id"),
          posexplode(arrays_zip(col("token_ids"), col("loss_mask")))
            .as(Seq("pos", "__cell")))
        .select(col("shard"), col("seq_id"),
          col("pos").cast(LongType).as("pos"),
          col("__cell").getField("token_ids").as("token_id"),
          col("__cell").getField("loss_mask").as("loss_mask")))),

    // the packed stream's DOCUMENT SPANS (r17): the block-diagonal
    // attention-mask address book — for each (window, doc), where the
    // doc's ids sit (span_start, span_len). Same address arithmetic as
    // q_pack_token_ids (budget 128, shards 8); scalar-only, token
    // arrays never built
    "q_pack_token_spans" -> ((s, dir) =>
      det(graft.operators.TextStats.packedDocSpans(docs(s, dir),
        "doc_id", "text", ByteBpeFixtureMerges, budget = 128, shards = 8))),

    // the FINAL pretraining artifact (r17): per-doc byte-BPE ids +
    // EOS (fixture vocab -> eos id 264), per-shard concat-and-chop
    // into 128-id context windows — graded as posexploded scalars
    // (shard, seq_id, pos, token_id); the oracle re-derives the whole
    // stream independently (ids replay + window offsets + integer
    // chop arithmetic)
    "q_pack_token_ids" -> ((s, dir) =>
      det(graft.operators.TextStats.materializePackedTokenIds(docs(s, dir),
        "doc_id", "text", ByteBpeFixtureMerges, budget = 128, shards = 8)
        .select(col("shard"), col("seq_id"),
          posexplode(col("token_ids")).as(Seq("pos", "token_id")))
        .select(col("shard"), col("seq_id"),
          col("pos").cast(LongType).as("pos"), col("token_id")))),

    // the per-window DOMAIN MIX card (r18): what fraction of every
    // packed context window's tokens comes from which source — the
    // window-level view of the mixing recipe (batch-composition
    // pathologies that corpus shares hide); spans carry their doc's
    // stratum, shares normalize per window (partitioned window only)
    "q_pack_window_mix" -> ((s, dir) => {
      val d = docs(s, dir)
      det(graft.operators.TextStats.packedWindowMix(
        graft.operators.TextStats.packedDocSpans(d, "doc_id", "text",
          ByteBpeFixtureMerges, budget = 128, shards = 8),
        d, "doc_id", "source"))
    }),

    // the TRAINING-ORDER manifest (r18): per-epoch deterministic
    // shuffle keys over the packed windows — md5(seed:epoch:shard:
    // seq_id), the engine-portable md5-uniform convention; reading an
    // epoch ordered by order_key IS the epoch's shuffle. A sort KEY,
    // not a rank: no unpartitioned window anywhere
    "q_pack_training_order" -> ((s, dir) =>
      det(graft.operators.TextStats.trainingOrder(
        graft.operators.TextStats.materializePackedTokenIds(docs(s, dir),
          "doc_id", "text", ByteBpeFixtureMerges, budget = 128, shards = 8),
        epochs = 2, seed = 42L))),

    // the pack-health datasheet (r18, VERDICT r17 #7): ONE row a
    // training run gates on — windows, shard coverage, fill rate,
    // docs/window distribution, truncation — over the SAME packed
    // stream as q_pack_token_ids (the id arrays prune out of the
    // aggregate; plan-asserted in TextStatsSpec)
    "q_pack_datasheet" -> ((s, dir) =>
      det(graft.operators.TextStats.packDatasheet(
        graft.operators.TextStats.materializePackedTokenIds(docs(s, dir),
          "doc_id", "text", ByteBpeFixtureMerges, budget = 128, shards = 8),
        budget = 128))),

    // the artifact's PHYSICAL-LAYOUT address card (r18): windows
    // assigned to training files of 4 windows each (files never span
    // shards — seq_id is per-shard contiguous, so file_idx is a pure
    // projection, no rank), per-file window range + token/doc counts;
    // the oracle re-derives per-window stats independently and rolls
    // them up with integer division
    "q_pack_file_manifest" -> ((s, dir) =>
      det(graft.operators.TextStats.packFileManifest(
        graft.operators.TextStats.materializePackedTokenIds(docs(s, dir),
          "doc_id", "text", ByteBpeFixtureMerges, budget = 128, shards = 8),
        windowsPerFile = 4))),

    // the manifest from YAML (pack_manifest terminal stage) — the
    // q_pack_file_manifest oracle text, two construction paths
    "q_pipeline_pack_manifest_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileYaml(
        s"""curation:
           |  tokenizer: {kind: bpe_bytes, merges: ${fixtureMergesStore(s, dir)}}
           |  stages:
           |    - {op: pack_manifest, budget: 128, shards: 8, windows_per_file: 4}
           |""".stripMargin, docs(s, dir)))),

    // the datasheet from YAML (pack_datasheet terminal stage) — the
    // q_pack_datasheet oracle text, two construction paths
    "q_pipeline_pack_datasheet_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileYaml(
        s"""curation:
           |  tokenizer: {kind: bpe_bytes, merges: ${fixtureMergesStore(s, dir)}}
           |  stages:
           |    - {op: pack_datasheet, budget: 128, shards: 8}
           |""".stripMargin, docs(s, dir)))),

    // the READER side of the packed artifact (r18): reconstruct every
    // document's id stream from the packed windows + the span address
    // book — slices reassembled in window order, spans crossing window
    // boundaries re-joined. Proves the address book addresses the
    // REAL artifact: the oracle tokenizes directly and never sees the
    // packed form, so any drift in offset/chop/span arithmetic on
    // either surface is a hash mismatch here
    "q_pack_unpack" -> ((s, dir) => {
      val d = docs(s, dir)
      det(graft.operators.TextStats.unpackTokenWindows(
        graft.operators.TextStats.materializePackedTokenIds(d,
          "doc_id", "text", ByteBpeFixtureMerges, budget = 128, shards = 8),
        graft.operators.TextStats.packedDocSpans(d,
          "doc_id", "text", ByteBpeFixtureMerges, budget = 128, shards = 8))
        .select(col("doc_id"),
          posexplode(col("token_ids")).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("token_id")))
    }),

    // the FULL artifact cycle (r18): tokenize -> pack -> unpack ->
    // DETOKENIZE == identity. skipUnknown drops the one-past-vocab
    // EOS sentinels (the 256+|merges| convention), so the reassembled
    // stream decodes to the source text byte-for-byte; the oracle is
    // the source table itself
    "q_pack_roundtrip_text" -> ((s, dir) => {
      val d = docs(s, dir)
      det(graft.operators.TextStats.unpackTokenWindows(
        graft.operators.TextStats.materializePackedTokenIds(d,
          "doc_id", "text", ByteBpeFixtureMerges, budget = 128, shards = 8),
        graft.operators.TextStats.packedDocSpans(d,
          "doc_id", "text", ByteBpeFixtureMerges, budget = 128, shards = 8))
        .select(col("doc_id"),
          graft.functions.ByteBpeDecode.byteBpeDecode(col("token_ids"),
            ByteBpeFixtureMerges, skipUnknown = true).as("text")))
    }),

    // the PERSISTED artifact's manifest (r19, VERDICT r18 #6): the
    // store's write derives the manifest from the JUST-WRITTEN windows
    // and this row reads it back — the q_pack_file_manifest oracle
    // text over the persisted execution path, so the store's write +
    // read-back correctness is driver-checked, not only spec-checked
    "q_pack_store_manifest" -> ((s, dir) =>
      det(graft.sources.PackedArtifactStore.readManifest(s,
        packedStore(s, dir)))),

    // the persisted artifact UNPACKED from disk (r19): windows + spans
    // as read back through the store reassemble every document's id
    // stream — the q_pack_unpack oracle (which tokenizes directly and
    // never sees the packed form) over the on-disk bytes
    "q_pack_store_unpack" -> ((s, dir) => {
      val p = packedStore(s, dir)
      det(graft.operators.TextStats.unpackTokenWindows(
        graft.sources.PackedArtifactStore.readWindows(s, p),
        graft.sources.PackedArtifactStore.readSpans(s, p))
        .select(col("doc_id"),
          posexplode(col("token_ids")).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("token_id")))
    }),

    // the persisted TRAINING ORDER (r19, VERDICT r18 #3): both epochs'
    // shuffle keys as read back from the store's order/ surface — the
    // q_pack_training_order oracle (md5 recomputed from the pack
    // geometry) over what a restarted training job would actually load
    "q_pack_store_order" -> ((s, dir) => {
      val p = packedStore(s, dir)
      det(graft.sources.PackedArtifactStore.readOrder(s, p, 0L)
        .unionByName(graft.sources.PackedArtifactStore.readOrder(s, p, 1L)))
    }),

    // one loader's COORDINATION-FREE slice of the persisted epoch
    // stream (r20): slice 1 of 3 by the exact 32-bit hex-keyspace cut,
    // filtered before the window join — the oracle recomputes the md5
    // keys from the pack geometry and applies the same integer
    // arithmetic, so the cut itself is driver-checked
    "q_pack_store_ordered_slice" -> ((s, dir) =>
      det(graft.sources.PackedArtifactStore.readWindowsOrderedSlice(s,
        packedStore(s, dir), epoch = 1L, slice = 1, nSlices = 3)
        .select(col("shard"), col("seq_id"), col("order_key")))),

    // the MULTI-STORE weighted interleave (r20, VERDICT r19 #5): two
    // mounted corpora with different pack geometries consumed as ONE
    // WFQ-scheduled stream — every prefix holds the stores in weight
    // proportion, each store stays in its own persisted epoch order;
    // the oracle replays both geometries, both stores' md5 keys, the
    // within-store rank and the virtual-finish-time division
    "q_pack_stores_interleaved" -> ((s, dir) =>
      det(graft.sources.PackedArtifactStore.readStoresInterleaved(s,
        Seq(packedStore(s, dir), packedStoreB(s, dir)), Seq(0.7, 0.3),
        epoch = 1L)
        .select(col("store"), col("shard"), col("seq_id"),
          col("order_key"), col("interleave_key")))),

    // the multi-corpus mount from YAML (r20): the from_stores config
    // root compiled through the same WFQ interleave — one oracle, two
    // construction paths (the q_pack_stores_interleaved text)
    "q_pipeline_stores_interleave_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileStoresInterleaveYaml(
        s"""from_stores:
           |  stores:
           |    - {path: ${packedStore(s, dir)}, weight: 0.7}
           |    - {path: ${packedStoreB(s, dir)}, weight: 0.3}
           |  epoch: 1
           |""".stripMargin, s)
        .select(col("store"), col("shard"), col("seq_id"),
          col("order_key"), col("interleave_key")))),

    // the loader-side integrity gate over the persisted 2-epoch store
    // (r20, VERDICT r19 #4): manifest diff + span token conservation +
    // per-epoch order cardinality, one row, zero driver actions inside
    // — the oracle re-derives every count from the pack geometry and
    // a healthy artifact must report all-clean
    "q_pack_store_validate" -> ((s, dir) =>
      det(graft.sources.PackedArtifactStore.validate(s,
        packedStore(s, dir)))),

    // the MOUNTABLE artifact from YAML (r19, VERDICT r18 #2): the
    // pack_store terminal stage writes windows+spans+manifest+meta and
    // returns the loader-side validate() integrity row — graded
    // against the oracle's independent file count over the same pack
    // geometry (ok must be true, zero mismatches)
    "q_pipeline_pack_store_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileYaml(
        s"""curation:
           |  tokenizer: {kind: bpe_bytes, merges: ${fixtureMergesStore(s, dir)}}
           |  stages:
           |    - {op: pack_store, budget: 128, shards: 8,
           |       windows_per_file: 4, path: ${configStoreDir(s, dir)}}
           |""".stripMargin, docs(s, dir)))),

    // the from_store MOUNT path (r20, VERDICT r19 #3): the YAML read
    // surface over the persisted artifact — unpack straight from a
    // mounted store, graded on the q_pack_unpack oracle that tokenizes
    // directly and never sees the packed form
    "q_pipeline_store_unpack_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileStoreReadYaml(
        s"""from_store:
           |  path: ${packedStore(s, dir)}
           |  read: unpack
           |""".stripMargin, s)
        .select(col("doc_id"),
          posexplode(col("token_ids")).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("token_id")))),

    // the mounted SFT artifact's window-mix card from YAML (r20): the
    // spans surface resolved through from_store, the docs frame through
    // the resolve map — the q_chat_pack_window_mix oracle's fourth
    // construction path
    "q_pipeline_store_mix_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileStoreReadYaml(
        s"""from_store:
           |  path: ${sftStore(s, dir)}
           |  read: window_mix
           |  docs: documents
           |  id_col: doc_id
           |  stratum_col: source
           |""".stripMargin, s,
        resolve = Map("documents" -> docs(s, dir))))),

    // the full integrity gate from YAML (r20): mount + validate in one
    // config read — the q_pack_store_validate oracle text
    "q_pipeline_store_validate_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileStoreReadYaml(
        s"""from_store:
           |  path: ${packedStore(s, dir)}
           |  read: validate
           |""".stripMargin, s))),

    // the SFT arm of the from_store unpack (r20): `sft: true` routes
    // the mounted windows+spans through the zipped-cell unpacker —
    // graded on the tokenize oracle that never sees the packed form
    "q_pipeline_store_sft_unpack_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileStoreReadYaml(
        s"""from_store:
           |  path: ${sftStore(s, dir)}
           |  read: unpack
           |  sft: true
           |""".stripMargin, s)
        .select(col("doc_id"),
          posexplode(arrays_zip(col("token_ids"), col("loss_mask")))
            .as(Seq("pos", "__cell")))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("__cell").getField("token_ids").as("token_id"),
          col("__cell").getField("loss_mask").as("loss_mask")))),

    // the no-split artifact's FILE manifest (r18): the one packed
    // shape where the card's truncated_windows column is REAL —
    // per-file rollup over the truncating next-fit packer; n_tokens
    // counts real ids before padding
    "q_chat_pack_nosplit_manifest" -> ((s, dir) =>
      det(graft.operators.TextStats.packFileManifest(
        graft.operators.Chat.sftPackedTokenIdsNoSplit(chatFrame(s, dir),
          "doc_id", "conv", ByteBpeFixtureMerges, budget = 512, shards = 8),
        windowsPerFile = 4))),

    // the no-split packer's datasheet: the one packed shape where
    // truncation is REAL (oversized conversations chop to budget in
    // their own window) and fill < 1 by design (padding) — n_tokens
    // counts real ids before padding, so fill_rate prices pad waste
    "q_chat_pack_nosplit_datasheet" -> ((s, dir) =>
      det(graft.operators.TextStats.packDatasheet(
        graft.operators.Chat.sftPackedTokenIdsNoSplit(chatFrame(s, dir),
          "doc_id", "conv", ByteBpeFixtureMerges, budget = 512, shards = 8),
        budget = 512))),

    // packing's dual: long docs split into overlapping context windows
    "q_chunk_documents" -> ((s, dir) =>
      det(graft.operators.TextStats.chunkDocuments(docs(s, dir), "doc_id", "text",
          maxTokens = 64, overlap = 16)
        .withColumn("chunk_id", col("chunk_id").cast(LongType)))),

    // PII scrub: the testdata corpus carries no real PII, so the query
    // plants deterministic synthetic PII (email/ip/ssn/phone derived
    // from doc_id) and grades the redaction of text+plants — the
    // patterns demonstrably FIRE, not just pass through
    "q_redact_pii" -> ((s, dir) =>
      det(docs(s, dir).select(col("doc_id"),
        TextFunctions.redactPii(concat(col("text"),
          lit(" contact user"), col("doc_id").cast(StringType),
          lit("@example.com at 10.0."),
          pmod(col("doc_id"), lit(256)).cast(StringType),
          lit(".7 ssn 123-45-6789 tel +14155550133"))).as("redacted")))),

    // JSONL interchange round-trip: documents exported as gzip'd JSONL
    // shards, read back with the explicit schema — row-identical to
    // the parquet original (the oracle just reads the original)
    "q_corpus_jsonl_roundtrip" -> ((s, dir) => {
      val schema = docs(s, dir).schema
      det(graft.sources.TextCorpus.readJsonl(s, jsonlExport(s, dir), schema)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars")))
    }),

    // NESTED interchange: conversations written to gzip JSONL and read
    // back with the explicit array<struct> schema, then graded through
    // the SAME stats oracle as q_chat_stats — one oracle, two
    // construction paths, so the nested round-trip is pinned exactly
    "q_chat_jsonl_roundtrip" -> ((s, dir) => {
      val schema = chatFrame(s, dir).schema
      val back = graft.sources.TextCorpus.readJsonl(s,
        chatJsonlExport(s, dir), schema)
      det(graft.operators.Chat.chatStats(back, "conv")
        .select(col("doc_id"), col("n_turns"), col("n_user_turns"),
          col("n_assistant_turns"), col("n_user_tokens"),
          col("n_assistant_tokens"), col("max_turn_tokens")))
    }),

    // ORC interchange round-trip (zstd) — the Hive-ecosystem format,
    // bundled with Spark; same contract as the JSONL one
    "q_corpus_orc_roundtrip" -> ((s, dir) => {
      val schema = docs(s, dir).schema
      det(graft.sources.TextCorpus.readOrc(s, orcExport(s, dir), schema)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars")))
    }),

    // CSV interchange round-trip, same contract as the JSONL one
    "q_corpus_csv_roundtrip" -> ((s, dir) => {
      val schema = docs(s, dir).schema
      det(graft.sources.TextCorpus.readCsv(s, csvExport(s, dir), schema)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars")))
    }),

    // PII audit card: per-doc per-type match counts over the same
    // planted synthetic PII as q_redact_pii, counted along the same
    // progressive chain the redaction applies
    "q_pii_report" -> ((s, dir) => {
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast(StringType),
        lit("@example.com at 10.0."),
        pmod(col("doc_id"), lit(256)).cast(StringType),
        lit(".7 ssn 123-45-6789 tel +14155550133"))
      det(docs(s, dir).select(col("doc_id") +:
        TextFunctions.piiCounts(planted).map { case (n, c) => c.as(n) }: _*))
    }),

    // tokenizer fertility card: subword tokens per word and bytes per
    // subword token, per language
    "q_text_fertility" -> ((s, dir) =>
      det(graft.operators.TextStats.fertilityStats(docs(s, dir), "text",
        Seq("lang")))),

    // the one-plan dataset DATASHEET: composition/lengths/fertility
    // cards joined per language — the publishable per-stratum summary
    "q_dataset_card" -> ((s, dir) => {
      val d = docs(s, dir)
      val stats = graft.operators.TextStats.corpusStats(d, "text", Seq("lang"))
      val lens = graft.operators.TextStats.lengthPercentiles(d, "text",
        Seq("lang"), Seq(0.5, 0.9)).drop("n_docs")
      val fert = graft.operators.TextStats.fertilityStats(d, "text", Seq("lang"))
        .drop("n_docs", "total_words")
      det(stats.join(lens, Seq("lang")).join(fert, Seq("lang")))
    }),

    // closed-vocabulary rewrite: tokens below the minCount-5 floor
    // become <unk>
    "q_text_apply_vocab" -> ((s, dir) => {
      val d = docs(s, dir)
      val v = graft.operators.TextStats.vocabulary(d, "text", minCount = 5L)
      det(graft.operators.TextStats.applyVocabulary(d, "doc_id", "text", v)
        .select(col("doc_id"), col("text")))
    }),

    // deterministic 20% word dropout (contrastive positive views),
    // replayed by the oracle's per-position md5 uniforms
    "q_text_word_dropout" -> ((s, dir) =>
      det(graft.operators.TextStats.augmentWordDropout(docs(s, dir),
          "doc_id", "text", rate = 0.2, seed = 11L)
        .select(col("doc_id"), col("text")))),

    // lexical stopword removal with the built-in English list; the
    // oracle's IN-list is generated from the same Seq
    "q_text_remove_stopwords" -> ((s, dir) =>
      det(graft.operators.CorpusClean.removeStopwords(docs(s, dir), "text")
        .select(col("doc_id"), col("text")))),

    // writing-system histogram: the corpus is ASCII-heavy, so the
    // query plants a deterministic multi-script suffix (the
    // q_redact_pii trick) — every class demonstrably FIRES
    "q_text_scripts" -> ((s, dir) => {
      val planted = concat(col("text"),
        lit(" тест καλά اختبار परीक्षा 测试 테스트 テスト"))
      det(docs(s, dir).select(col("doc_id") +:
        TextFunctions.scriptCounts(planted).map { case (n, c) => c.as(n) }: _*))
    }),

    // zlib compressibility: boilerplate compresses far better than
    // prose; DEFLATE length has no DuckDB replay, so the gate pins the
    // planted ordering and bounds (the SimHash rows-only contract)
    "q_gate_zlib" -> ((s, dir) => {
      import s.implicits._
      val rep = Seq.fill(50)("click here to subscribe now").mkString(" ")
      val prose = "the quick brown fox jumps over the lazy dog while " +
        "autumn leaves drift slowly past the quiet river and distant " +
        "hills fade into evening mist before the first stars appear"
      val frame = Seq(("rep", rep), ("prose", prose)).toDF("kind", "text")
      val r = frame.select(col("kind"),
          graft.functions.ZlibSignal.compressionRatio(col("text")).as("ratio"))
        .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
      val ok = r("rep") < 0.2 && r("prose") > 0.3 && r("rep") < r("prose") &&
        r.values.forall(v => v > 0 && v < 1.5)
      det(Seq((if (ok) 1 else 0)).toDF("ok"))
    }),

    // per-language z-scores of two length signals — the signal-fusion
    // normalization step
    "q_text_zscore" -> ((s, dir) =>
      det(graft.operators.TextStats.zscoreSignals(
        docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"),
          TextFunctions.tokenCount(col("text")).as("n_tokens")),
        Seq("n_chars", "n_tokens"), Seq("lang")))),

    // eval-set leakage guard: docs sharing any 13-gram with the eval
    // slice (doc_id % 97 == 0 — deterministic, SF-stable) are dropped
    "q_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      det(Dedup.decontaminate(d, d.filter(pmod(col("doc_id"), lit(97)) === 0),
        "doc_id", "text", n = 13))
    }),

    // surgical variant: cut only the eval-overlapping 8-token windows,
    // keep the rest of the document
    "q_decontaminate_scrub" -> ((s, dir) => {
      val d = docs(s, dir)
      det(Dedup.scrubContaminatedWindows(d,
        d.filter(pmod(col("doc_id"), lit(97)) === 0),
        "doc_id", "text", n = 8).select(col("doc_id"), col("text")))
    }),

    // same leakage guard through the Bloom-prefilter path: identical
    // output contract (the exact confirm removes Bloom false
    // positives), graded against the SAME oracle as q_decontaminate
    "q_decontaminate_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      det(Dedup.decontaminateBloom(d, d.filter(pmod(col("doc_id"), lit(97)) === 0),
        "doc_id", "text", n = 13))
    }),

    // the audit twin: WHICH corpus doc shares HOW MANY distinct
    // 13-grams with WHICH eval doc — what governance reviews before the
    // drop above is executed
    "q_decontaminate_report" -> ((s, dir) => {
      val d = docs(s, dir)
      det(Dedup.contaminationReport(d, d.filter(pmod(col("doc_id"), lit(97)) === 0),
        "doc_id", "text", n = 13))
    }),

    // dataset-card cross-corpus overlap: two overlapping slices
    // (doc_id < 300 vs >= 200) so shared grams / overlapping docs are
    // guaranteed nonzero at every sf
    "q_corpus_overlap" -> ((s, dir) => {
      val d = docs(s, dir)
      det(Dedup.corpusOverlap(d.filter(col("doc_id") < 300),
        d.filter(col("doc_id") >= 200), "doc_id", "text", n = 5))
    }),

    // the grouped matrix twin: which SOURCE pairs share 5-grams
    "q_corpus_overlap_matrix" -> ((s, dir) =>
      det(Dedup.corpusOverlapMatrix(docs(s, dir), "text", "source", n = 5))),

    // --- dedup ------------------------------------------------------------

    // byFingerprint: the graded plan shuffles 16-byte md5 keys, not raw
    // document text; output is identical (collisions ~2^-64) so the
    // PARTITION BY text oracle stays exact.
    "q_dedup_exact" -> ((s, dir) =>
      det(Dedup.exactDedup(docs(s, dir), "text", "doc_id", byFingerprint = true))),

    // the synthetic corpus has no EXACT dup texts, so these two PLANT
    // them (docs with doc_id % 50 == 0 re-enter twice under offset
    // ids) — the cap and the weights demonstrably fire
    "q_dedup_cap" -> ((s, dir) =>
      det(Dedup.capDuplicates(plantedDups(s, dir), "text", "doc_id",
        maxCopies = 2, byFingerprint = true))),

    // soft dedup: keep everything, weight duplicated mass down by 1/n
    "q_dedup_softweights" -> ((s, dir) =>
      det(Dedup.duplicationWeights(plantedDups(s, dir), "text",
          byFingerprint = true)
        .select(col("doc_id"), col("n_copies"), col("weight")))),

    // monster-family hardened path (r17): groupBy-count + SHUFFLE_HASH
    // join-back — second execution plan on the SAME oracle text
    "q_dedup_softweights_skewed" -> ((s, dir) =>
      det(Dedup.duplicationWeightsSkewed(plantedDups(s, dir), "text",
          byFingerprint = true)
        .select(col("doc_id"), col("n_copies"), col("weight")))),

    "q_dedup_ngram_pairs" -> ((s, dir) =>
      det(Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text",
        n = 5, threshold = 0.5, dfCap = 100))),

    "q_dedup_minhash" -> ((s, dir) =>
      det(Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
        n = 5, threshold = 0.5, numPerm = 64, bands = 32))),

    // text-side similarity SEARCH (the document twin of q_sim_topk):
    // top-5 most Jaccard-similar corpus docs for each query doc
    "q_jaccard_topk" -> ((s, dir) => {
      val d = docs(s, dir)
      det(Dedup.jaccardTopK(d.filter(col("doc_id") < 20), d,
        "doc_id", "text", k = 5))
    }),

    // hybrid retrieval: BM25 and Jaccard top-10 lists for the same 3
    // queries, fused with reciprocal-rank fusion (rrfK = 60)
    "q_sim_hybrid_rrf" -> ((s, dir) => {
      val d = docs(s, dir)
      val qs = d.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("text").as("query_text"))
      val bm = graft.operators.TextStats.bm25TopK(d, "doc_id", "text",
          qs, "query_id", "query_text", k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val jc = Dedup.jaccardTopK(d.filter(col("doc_id") < 3), d,
          "doc_id", "text", k = 10)
        .select(col("doc_id").as("query_id"),
          col("neighbor_id").as("doc_id"), col("rank"))
      det(Similarity.reciprocalRankFusion(Seq(bm, jc),
        "query_id", "doc_id", "rank", k = 10))
    }),

    // incremental (delta) dedup: docs with doc_id >= 400 are "today's
    // batch", the rest the historical index. A new doc survives iff its
    // exact text is absent from the index AND it has no near-dup
    // (J >= 0.5) in the index — the asymmetric new x index joins only,
    // never index x index.
    "q_dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val newDocs = d.filter(col("doc_id") >= 400)
      val old = d.filter(col("doc_id") < 400)
      val exactKept = Dedup.exactDedupAgainst(newDocs, old, "text")
      val nearPairs = Dedup.ngramJaccardPairsAgainst(newDocs, old,
        "doc_id", "text", n = 5, threshold = 0.5, dfCap = 100)
      det(exactKept.join(
        nearPairs.select(col("doc_new").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"))
    }),

    // the same delta decision, run AGAINST THE PERSISTED INDEX (VERDICT
    // r7 #1): the historical corpus is fingerprinted/shingled once into
    // a parquet artifact (cached per JVM — repeated bench iterations
    // measure the O(batch) delta, not the build) and the delta run
    // touches only the new batch plus the artifact. Row-identical to
    // q_dedup_incremental, same oracle; DedupIndexSpec pins the plan
    // (historical docs never re-scanned or re-shingled).
    "q_dedup_incremental_indexed" -> ((s, dir) => {
      val d = docs(s, dir)
      val newDocs = d.filter(col("doc_id") >= 400)
      val path = incrementalIndex(s, dir)
      val exactKept = DedupIndex.exactDedupAgainst(newDocs, "text", path)
      val nearPairs = DedupIndex.ngramJaccardPairsAgainst(newDocs, "doc_id", "text",
        path, threshold = 0.5)
      det(exactKept.join(
        nearPairs.select(col("doc_new").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"))
    }),

    // the production refresh loop (VERDICT r9 #2): the index reaches
    // doc_id < 400 via build(< 300) + append([300, 400)) instead of one
    // build — then the SAME delta decision as q_dedup_incremental_indexed
    // against the same oracle, so append-vs-rebuild equivalence is
    // GRADED, not just spec'd (no shingle crosses the df-cap on this
    // corpus, so the documented cap-crossing divergence cannot engage)
    "q_dedup_index_append" -> ((s, dir) => {
      val d = docs(s, dir)
      val newDocs = d.filter(col("doc_id") >= 400)
      val path = appendedIndex(s, dir)
      val exactKept = DedupIndex.exactDedupAgainst(newDocs, "text", path)
      val nearPairs = DedupIndex.ngramJaccardPairsAgainst(newDocs, "doc_id", "text",
        path, threshold = 0.5)
      det(exactKept.join(
        nearPairs.select(col("doc_new").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"))
    }),

    // maintenance run: the same delta decision against the COMPACTED
    // build+append artifact — compact (postings re-capped from stored
    // shingles, per-row tables distinct'd) must not move any decision
    "q_dedup_index_compact" -> ((s, dir) => {
      val d = docs(s, dir)
      val newDocs = d.filter(col("doc_id") >= 400)
      val path = compactedIndex(s, dir)
      val exactKept = DedupIndex.exactDedupAgainst(newDocs, "text", path)
      val nearPairs = DedupIndex.ngramJaccardPairsAgainst(newDocs, "doc_id", "text",
        path, threshold = 0.5)
      det(exactKept.join(
        nearPairs.select(col("doc_new").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"))
    }),

    // the full dedup DECISION, not just pairs: ngram near-dup pairs ->
    // connected components (transitive closure — a near-dup of a
    // near-dup is the same doc family) -> keep the min-id survivor per
    // component plus all untouched docs. Oracle = DuckDB recursive CTE
    // over the same pair set.
    "q_dedup_collapse" -> ((s, dir) => {
      val d = docs(s, dir)
      val p = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 5, threshold = 0.5, dfCap = 100)
      det(Dedup.collapseNearDups(d, "doc_id", p, "doc_a", "doc_b"))
    }),

    "q_dedup_simhash" -> ((s, dir) =>
      det(Dedup.simhashFingerprints(docs(s, dir), "doc_id", "text"))),

    // MOSS winnowing: per-window minimum 5-gram md5, the local
    // fingerprint sketch (any shared >= 8-token run shares a print)
    "q_dedup_winnow" -> ((s, dir) =>
      det(Dedup.winnowingFingerprints(docs(s, dir), "doc_id", "text",
        k = 5, window = 4))),

    // 8-token windows (testdata docs run dozens of tokens; production
    // default is the ~50 of Lee et al.)
    "q_dedup_windows" -> ((s, dir) =>
      det(Dedup.duplicatedWindowProfile(docs(s, dir), "doc_id", "text",
        window = 8))),

    // the REMOVAL half of substring dedup (the profile above is the
    // measurement half): cut every duplicated 8-token window occurrence
    // except the globally first, re-join the surviving tokens
    "q_dedup_window_removal" -> ((s, dir) =>
      det(Dedup.removeDuplicatedWindows(docs(s, dir), "doc_id", "text",
        window = 8).select(col("doc_id"), col("text")))),

    // CCNet-style line (paragraph) dedup: the corpus has no newlines,
    // so the query PLANTS deterministic boilerplate lines (a per-source
    // footer, a mod-7 signature — the nav-menu/cookie-banner shape) and
    // grades their removal; only each line's globally-first occurrence
    // survives
    "q_dedup_lines" -> ((s, dir) => {
      // concat, not concat_ws: NULL text/source must propagate exactly
      // like the oracle's || operator, not be silently skipped
      val planted = docs(s, dir).withColumn("text", concat(
        col("text"), lit("\nfooter "), col("source"),
        lit("\nsig "), pmod(col("doc_id"), lit(7)).cast(StringType)))
      det(Dedup.removeDuplicatedLines(planted, "doc_id", "text")
        .select(col("doc_id"), col("text")))
    }),

    // threshold-sweep planning card over the standard pair mining
    "q_dedup_sweep" -> ((s, dir) =>
      det(Dedup.dedupThresholdSweep(docs(s, dir), "doc_id", "text",
        n = 5, thresholds = Seq(0.5, 0.7, 0.85)))),

    // asymmetric containment pairs (quote-inclusion dedup)
    "q_dedup_containment" -> ((s, dir) =>
      det(Dedup.containmentPairs(docs(s, dir), "doc_id", "text",
        n = 5, threshold = 0.8))),

    // containment collapse: keep containers, mutual keeps min id
    "q_dedup_drop_contained" -> ((s, dir) =>
      det(Dedup.dropContained(docs(s, dir), "doc_id", "text",
          n = 5, threshold = 0.8)
        .select(col("doc_id"), col("lang"), col("source")))),

    // version diff: v2 drops every 97th doc, edits every 31st, adds 20
    "q_corpus_diff" -> ((s, dir) => {
      val old = docs(s, dir).select(col("doc_id"), col("text"))
      val v2 = old.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 31 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(old.filter(col("doc_id") < 20)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      det(Dedup.corpusDiff(old, v2, "doc_id", "text"))
    }),

    // exactly-N deterministic global sample (TakeOrderedAndProject)
    "q_sample_exact_n" -> ((s, dir) =>
      det(graft.operators.Sampling.exactNSample(docs(s, dir), "doc_id", 100))),

    // collapse PROVENANCE: per survivor, the family size and the exact
    // ids removed in its favor — the audit/lineage record of the
    // q_dedup_collapse decision (same pair graph, same survivors)
    "q_dedup_lineage" -> ((s, dir) => {
      val d = docs(s, dir)
      val p = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 5, threshold = 0.5, dfCap = 100)
      det(Dedup.collapseLineage(d, "doc_id", p, "doc_a", "doc_b"))
    }),

    // quality-aware collapse: same pair graph as q_dedup_collapse but
    // the survivor is the LONGEST member (n_chars), ties to min id
    "q_dedup_collapse_best" -> ((s, dir) => {
      val d = docs(s, dir)
      val p = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 5, threshold = 0.5, dfCap = 100)
      det(Dedup.collapseNearDupsBest(d, "doc_id", "n_chars", p, "doc_a", "doc_b"))
    }),

    // LSH-measured / exact-oracle pattern (same as q_dedup_minhash): the
    // Spark plan is SRP bucket join + rerank (no all-pairs product); the
    // DuckDB oracle recomputes all pairs exactly. 32 tables x 3 planes
    // => per-pair miss prob < 5e-5 at cos 0.45 (see Similarity scaladoc);
    // fixed-seed planes make completeness on this corpus deterministic.
    "q_dedup_embedding" -> ((s, dir) =>
      det(Similarity.srpNearDupPairs(emb(s, dir), "vec_id", "embedding", 0.45,
        tables = 32, planes = 3, dim = 64)
        .withColumn("cos_sim", round(col("cos_sim"), 6)))),

    // --- similarity search ------------------------------------------------

    // embedding-space decontamination: drop corpus vectors within
    // cos 0.45 of the eval slice (vec_id % 97) — same measured-vs-exact
    // 32x3 contract as q_dedup_embedding
    "q_decontaminate_semantic" -> ((s, dir) => {
      val e = emb(s, dir)
      det(Similarity.semanticDecontaminate(e,
        e.filter(pmod(col("vec_id"), lit(97)) === 0),
        "vec_id", "embedding", 0.45, tables = 32, planes = 3, dim = 64)
        .select(col("vec_id"), col("label")))
    }),

    // SemDeDup-style collapse: LSH-measured like q_dedup_embedding (same
    // 32x3 high-recall SRP parameters, same deterministic-recall
    // argument), exact all-pairs + recursive-CTE oracle
    "q_dedup_semantic" -> ((s, dir) =>
      det(Similarity.semanticCollapse(emb(s, dir), "vec_id", "embedding",
        threshold = 0.45).select(col("vec_id"), col("label")))),

    // frozen logistic scoring of the embedding corpus with plan-literal
    // weights — the deployment half of the trainable classifier, with
    // an exact arithmetic oracle
    "q_emb_score" -> ((s, dir) => {
      val model = graft.operators.Classifier.LogRegModel(
        EmbScoreWeights.toArray, EmbScoreBias)
      det(graft.operators.Classifier.withScore(emb(s, dir), "embedding", model)
        .select(col("vec_id"), round(col("score"), 6).as("score"), col("pred")))
    }),

    // reliability report over the frozen-scorer output: bin the
    // round-6 scores (the floor() cliff needs the pre-round — see
    // calibrationReport scaladoc) against the parity label
    "q_clf_calibration" -> ((s, dir) => {
      val model = graft.operators.Classifier.LogRegModel(
        EmbScoreWeights.toArray, EmbScoreBias)
      val scored = graft.operators.Classifier.withScore(emb(s, dir), "embedding", model)
        .select(round(col("score"), 6).as("score"),
          (col("label") % 2).as("target"))
      det(graft.operators.Classifier.calibrationReport(scored, "score", "target",
        bins = 10))
    }),

    // Matryoshka truncation: 64 -> 16 dims renormalized, flattened to
    // (vec_id, dim, value) scalars for the row-hash oracle
    "q_emb_truncate" -> ((s, dir) =>
      det(emb(s, dir).select(col("vec_id"),
          Similarity.truncateEmbedding(col("embedding"), 16).as("__t"))
        .select(col("vec_id"), posexplode(col("__t")).as(Seq("dim", "value")))
        .select(col("vec_id"), col("dim"), round(col("value"), 6).as("value")))),

    // per-label embedding centroids (drift/cluster profiling), flattened
    // to (label, dim, value) scalars for the row-hash oracle
    "q_emb_centroids" -> ((s, dir) =>
      det(Similarity.meanVectors(emb(s, dir), Seq("label"), "embedding")
        .select(col("label"), col("n_vectors"),
          posexplode(col("centroid")).as(Seq("dim", "value"))))),

    // nearest-centroid routing against those centroids: each vector
    // labeled with its most-similar per-label mean (exact oracle —
    // argmax over the cross product on the DuckDB side; a codegen'd
    // plan-literal projection on the Spark side)
    "q_emb_route" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = Similarity.meanVectors(e, Seq("label"), "embedding")
      det(Similarity.nearestCentroid(e, "embedding", cents, "label", "centroid")
        .select(col("vec_id"), col("nearest"),
          round(col("cos_sim"), 6).as("cos_sim")))
    }),

    "q_sim_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      det(Similarity.bruteForceTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5).drop("cos_sim"))
    }),

    // contrastive hard negatives: top-5 most-similar DIFFERENT-label
    // corpus vectors per query
    "q_sim_hard_negatives" -> ((s, dir) => {
      val e = emb(s, dir)
      det(Similarity.hardNegatives(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", "label", k = 5)
        .withColumn("cos_sim", round(col("cos_sim"), 6)))
    }),

    // margin-based bitext mining: the label-parity split plays the two
    // languages; candidates = union of both directions' top-4, pairs
    // with ratio margin >= 1.05 mined (src side bounded like q_sim_topk)
    "q_sim_bitext" -> ((s, dir) => {
      val e = emb(s, dir)
      det(Similarity.minedBitextPairs(
        e.filter(pmod(col("label"), lit(2)) === 0 && col("vec_id") < 50),
        e.filter(pmod(col("label"), lit(2)) === 1),
        "vec_id", "embedding", k = 4, marginThreshold = 1.05))
    }),

    "q_sim_ann_lsh" -> ((s, dir) =>
      det(Similarity.annTopK(emb(s, dir), "vec_id", "embedding", k = 5,
        tables = 12, planes = 6, dim = 64).drop("cos_sim"))),

    // IVF flavor: data-adaptive cells (deterministic corpus-sampled
    // centroids), asymmetric inverted-file candidates — no DuckDB
    // oracle (Spark-side hashing picks the centroid sample); recall
    // gated vs brute force in SimilaritySpec and pinned by
    // q_gate_ann_recall. Graded AUTO-SIZED (VERDICT r5 #3): the
    // round-5 pinned 16x6 probed 37.5% of 16 cells at every SF — a
    // config no production user would run; auto-sizing is what the
    // operator actually ships (sqrt(N) cells, worst-case probe
    // fraction for the near-random testdata).
    "q_sim_ann_ivf" -> ((s, dir) =>
      det(Similarity.ivfTopK(emb(s, dir), "vec_id", "embedding", k = 5)
        .drop("cos_sim"))),

    // the adaptive path's wall-time NEXT TO the floor's (VERDICT r9 #4):
    // q_sim_ann_ivf prices the honest worst case (near-random testdata ⇒
    // tightness ≈ 0.25 ⇒ the 0.7·k0 probe floor); this row runs the SAME
    // auto-sized operator on the planted clustered frame, where the
    // measured tightness engages nprobe <= 8 — the bench shows both
    // regimes side by side. EXACT since r16: the fixture is fully
    // deterministic, so the generated IvfClusteredOracle replays the
    // whole setup (independent XXH64 draw order, centroid VALUES,
    // tightness-derived probe count) — see §7.5 #11 technique (c);
    // quality additionally pinned by q_gate_ivf_clustered.
    "q_sim_ann_ivf_clustered" -> ((s, dir) =>
      det(Similarity.ivfTopK(plantedClusters(s), "vec_id", "embedding", k = 5)
        .drop("cos_sim"))),

    // product-quantization search: the corpus compressed to m=8 codebook
    // codes (8 bytes/vector vs 256 for the raw floats), queries scored
    // asymmetrically against the reconstruction. EXACT since r18: the
    // TRAINED codebook embeds as round-trip double VALUES and DuckDB
    // replays the whole search (encode + ADC + rank) — the dynamic
    // pqSearchOracle, dumped at oracle_sql access time; training stays
    // Spark-side (§7.5 #11 covers training only). Quality additionally
    // pinned by q_gate_pq and the SimilaritySpec exact-recovery test.
    "q_sim_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      val model = Similarity.trainPq(e, "vec_id", "embedding", m = 8, numCodes = 16)
      pqModelCache.put(dir, model)
      det(Similarity.pqTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", model, k = 5).drop("pq_score"))
    }),

    // PCA projection of the embeddings corpus (d=8, driver-trained
    // basis, plan-literal projection) — EXACT since r18: the trained
    // basis embeds as round-trip double VALUES and DuckDB replays the
    // center + dot + round projection (the dynamic pcaProjectOracle;
    // the power-iteration eigensolve itself stays Spark-side). Recovery
    // additionally pinned by q_gate_pca.
    "q_emb_pca" -> ((s, dir) => {
      val e = emb(s, dir)
      val model = graft.operators.Pca.trainPca(e, "vec_id", "embedding", d = 8)
      pcaModelCache.put(dir, model)
      det(e.select(col("vec_id"),
          posexplode(graft.operators.Pca.pcaProjectColumn(col("embedding"), model))
            .as(Seq("component", "value")))
        .select(col("vec_id"), col("component"), round(col("value"), 6).as("value")))
    }),

    // PCA recovery as a GRADED number: on the seeded planted-subspace
    // frame (variance 9/4 along two orthonormal hidden axes, noise
    // 0.05 — SF-invariant), the top-2 components must align with the
    // planted axes and explain the measured variance share. Values
    // byte-stable across runs (measured 3x identical to 6 decimals).
    "q_gate_pca" -> ((s, dir) => {
      import s.implicits._
      val (df, u1, u2) = plantedSubspace(s)
      val m = graft.operators.Pca.trainPca(df, "vec_id", "embedding", d = 2)
      def cosAbs(a: Array[Double], b: Array[Double]): Double =
        math.abs(a.zip(b).map { case (x, y) => x * y }.sum) /
          (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      det(Seq((cosAbs(m.components(0), u1), cosAbs(m.components(1), u2),
          m.explainedVarianceRatio))
        .toDF("align1", "align2", "evr")
        .select(round(col("align1"), 3).as("align1"),
          round(col("align2"), 3).as("align2"),
          round(col("evr"), 4).as("evr")))
    }),

    // int8 scalar quantization search: plain deterministic arithmetic
    // (floor-based round, renormalized reconstruction), so unlike the
    // PQ/SRP rows this compressed search has an EXACT DuckDB oracle.
    "q_sim_sq" -> ((s, dir) => {
      val e = emb(s, dir)
      det(Similarity.sqTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5))
    }),

    // 1-bit binary quantization: the pure-Hamming rank is integer
    // arithmetic end to end (32-bit sign words, xor + popcount), so —
    // like q_sim_sq and unlike the randomized-projection rows — DuckDB
    // replays it bit-exactly and the query is hash-matched. The
    // exact-rerank two-stage is spec-gated (brute-force set recovery).
    "q_sim_bq" -> ((s, dir) => {
      val e = emb(s, dir)
      det(Similarity.bqTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5))
    }),

    // the composed IVF-PQ shape (candidate pruning + compressed rerank)
    // on the same query batch — EXACT since r18: the AnnIvfOracle's
    // SQL-derived IVF setup (shared CTE text) generates the candidate
    // set and the pqReplayCtes score it under the embedded codebook
    // (the dynamic pqIvfOracle). Quality pinned by q_gate_ivfpq and the
    // SimilaritySpec exact-codebook equality test.
    "q_sim_pq_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val model = Similarity.trainPq(e, "vec_id", "embedding", m = 8, numCodes = 16)
      pqModelCache.put(dir, model)
      det(Similarity.ivfPqTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", model, k = 5).drop("pq_score"))
    }),

    // --- quantitative gates for the no-oracle queries ---------------------
    // q_sim_ann_ivf/PQ rows remain rows-only (float-ITERATIVE centroid
    // training — farthest-first init + k-means — has no closed-form SQL
    // replica; see SURVEY §7.5), while q_dedup_simhash / q_sim_ann_lsh
    // graduated to exact generated oracles in round 15. The gate
    // queries measure the quality bars the test
    // suite enforces (recall@5 vs brute force, simhash coverage of
    // strong Jaccard pairs) as DETERMINISTIC numbers (fixed seeds, fixed
    // sample) and pin them against golden literals in the oracle — the
    // driver's correctness JSON then records the quantitative result,
    // and any regression becomes a hash mismatch instead of an invisible
    // rows-only pass.

    "q_gate_ann_recall" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val truth = Similarity.bruteForceTopK(e.filter(col("vec_id") < 250), e,
        "vec_id", "embedding", k = 5).select("vec_id", "neighbor_id")
      // both ends of the SRP tradeoff (see annTopK scaladoc): the graded
      // 12x6 config prunes ~5x but top-5 neighbors on this corpus sit in
      // the weak-similarity tail where its recall is ~0.5 by design; the
      // 32x3 high-recall config is what the >=0.95 spec gate runs.
      def tagged(method: String, df: DataFrame): DataFrame =
        df.filter(col("vec_id") < 250)
          .select(lit(method).as("method"), col("vec_id"), col("neighbor_id"),
            lit(1).as("__hit"))
      val approx = tagged("ann_lsh_12x6",
          Similarity.annTopK(e, "vec_id", "embedding", k = 5,
            tables = 12, planes = 6, dim = 64))
        .unionAll(tagged("ann_lsh_32x3",
          Similarity.annTopK(e, "vec_id", "embedding", k = 5,
            tables = 32, planes = 3, dim = 64)))
        .unionAll(tagged("ann_ivf_auto",
          Similarity.ivfTopK(e, "vec_id", "embedding", k = 5))) // auto-sized
      // ONE plan: truth x {methods} left-joined against the union of
      // tagged ANN outputs — the brute-force truth subplan appears (and
      // executes) ONCE, where a per-method join would re-execute it per
      // method (VERDICT r4 #4). Output rows identical to the per-method
      // formulation.
      val methods = Seq("ann_ivf_auto", "ann_lsh_12x6", "ann_lsh_32x3").toDF("method")
      det(truth.crossJoin(methods)
        .join(approx, Seq("method", "vec_id", "neighbor_id"), "left")
        .groupBy(col("method"))
        .agg(coalesce(sum(col("__hit")), lit(0)).cast(LongType).as("hits"),
          count(lit(1)).as("total"))
        .select(col("method"), col("hits"), col("total"),
          round(col("hits").cast(DoubleType) / col("total"), 4).as("recall")))
    }),

    // IVF's clustered-corpus pruning claim as a GRADED number (VERDICT
    // r6 #4 — it lived only in SimilaritySpec): same seeded planted
    // frame as the spec's clustered test (20 clusters x 50 vectors,
    // sigma small vs inter-center distance, seed 11 — deterministic and
    // SF-invariant, so the pinned oracle holds at every sf dir), scored
    // on the asymmetric candidate model with explicit nprobe=4 over 32
    // cells. One plan: the candidate count aggregate cross-joined onto
    // the recall aggregate (both single rows). A pruning or recall
    // regression becomes a CORRECTNESS hash mismatch, not an invisible
    // rows-only pass.
    "q_gate_ivf_clustered" -> ((s, dir) => {
      import s.implicits._
      val df = plantedClusters(s)
      val truth = Similarity.bruteForceTopK(df.filter(col("vec_id") < 200), df,
        "vec_id", "embedding", k = 5).select("vec_id", "neighbor_id")
      val ivf = Similarity.ivfTopK(df, "vec_id", "embedding", k = 5,
          nCentroids = 32, nprobe = 4)
        .filter(col("vec_id") < 200)
        .select(col("vec_id"), col("neighbor_id"), lit(1).as("__hit"))
      val recallRow = truth.join(ivf, Seq("vec_id", "neighbor_id"), "left")
        .agg(round(coalesce(sum(col("__hit")), lit(0)).cast(DoubleType) /
          count(lit(1)), 4).as("recall"))
      val allPairs = 1000L * 999 / 2
      val candRow = Similarity.ivfCandidatePairs(df, "vec_id", "embedding",
          nCentroids = 32, nprobe = 4)
        .agg(count(lit(1)).as("candidates"))
        .select(col("candidates"), lit(allPairs).as("all_pairs"),
          round(lit(allPairs).cast(DoubleType) / col("candidates"), 2)
            .as("pruning_factor"))
      det(candRow.crossJoin(recallRow))
    }),

    // PQ compression quality as a GRADED number (SF-invariant planted
    // frame): every top-5 neighbor returned from the 32x compressed
    // representation must sit in the query's planted cluster — the
    // coarse-structure claim ADC scoring makes (within-cluster fine
    // ordering is quantized away by design; the exact-recovery spec in
    // SimilaritySpec covers the fine-grained contract).
    "q_gate_pq" -> ((s, dir) => {
      val df = plantedClusters(s)
      val model = Similarity.trainPq(df, "vec_id", "embedding",
        m = 8, numCodes = 16)
      val pq = Similarity.pqTopK(df.filter(col("vec_id") < 200), df,
        "vec_id", "embedding", model, k = 5)
      det(pq.agg(count(lit(1)).cast(LongType).as("pairs"),
        round(avg(when(col("neighbor_id") % 20 === col("vec_id") % 20, 1.0)
          .otherwise(0.0)), 4).as("cluster_purity")))
    }),

    // the composed IVF-PQ path on the same planted frame: the adaptive
    // probe engages (tightness ~0.97 => nprobe <= 8 — real pruning) and
    // the compressed rerank must still return same-cluster neighbors.
    "q_gate_ivfpq" -> ((s, dir) => {
      val df = plantedClusters(s)
      val model = Similarity.trainPq(df, "vec_id", "embedding",
        m = 8, numCodes = 16)
      val res = Similarity.ivfPqTopK(df.filter(col("vec_id") < 200), df,
        "vec_id", "embedding", model, k = 5)
      det(res.agg(count(lit(1)).cast(LongType).as("pairs"),
        round(avg(when(col("neighbor_id") % 20 === col("vec_id") % 20, 1.0)
          .otherwise(0.0)), 4).as("cluster_purity")))
    }),

    // Seeded planted-cluster frame (SF-invariant, same construction as
    // q_gate_ivf_clustered): spherical k-means must recover the 20
    // planted clusters — n_clusters and majority-label purity pinned.
    "q_gate_kmeans" -> ((s, dir) => {
      val df = plantedClusters(s)
      val asg = Similarity.kmeans(df, "vec_id", "embedding", k = 20, iters = 3)
        .withColumn("label", col("vec_id") % 20)
      val purityRow = asg.groupBy("cluster", "label").count()
        .groupBy("cluster").agg(max("count").as("__m"))
        .agg(round(sum("__m").cast(DoubleType) / lit(1000.0), 4).as("purity"))
      val nRow = asg.agg(countDistinct(col("cluster")).as("n_clusters"))
      det(nRow.crossJoin(purityRow))
    }),

    // Seeded separable two-blob frame (SF-invariant, the kmeans-gate
    // construction): deterministic full-batch logistic GD must recover
    // the planted concept EXACTLY — the margin is comfortable, so
    // double-sum order cannot flip a decision. Accuracy pinned at 1.0.
    "q_gate_classifier" -> ((s, dir) => {
      import s.implicits._
      val rnd = new scala.util.Random(7)
      val dim = 64
      val mu = Array.fill(dim)(rnd.nextGaussian())
      val data = (0 until 600).map { i =>
        val y = i % 2
        val x = Array.tabulate(dim)(d =>
          ((if (y == 1) mu(d) else -mu(d)) * 0.5 + 0.25 * rnd.nextGaussian()).toFloat)
        (i.toLong, x, y)
      }.toDF("id", "vec", "label")
      val m = graft.operators.Classifier.trainLogReg(data, "vec", "label",
        iters = 10, lr = 4.0)
      det(graft.operators.Classifier.withScore(data, "vec", m)
        .agg(round(avg((col("pred") === col("label")).cast(DoubleType)), 6)
          .as("accuracy")))
    }),

    // GATE for trainTextClassifier (the FineWeb-Edu-style quality
    // filter for corpora WITHOUT embeddings): a planted separable TEXT
    // concept — label-1 docs draw from an "educational" vocabulary,
    // label-0 docs from a disjoint "spam" vocabulary — must be
    // recovered EXACTLY by hashed-bag-of-words logistic GD. Word pools
    // are disjoint so the 256-bucket feature space separates linearly
    // with a wide margin; deterministic construction (seeded PRNG)
    // makes the 1.0 accuracy bit-stable.
    "q_gate_textclf" -> ((s, dir) => {
      import s.implicits._
      val rnd = new scala.util.Random(11)
      val edu = Vector("theorem", "analysis", "experiment", "hypothesis",
        "literature", "equation", "synthesis", "derivative", "molecule",
        "photosynthesis", "archaeology", "geometry")
      val spam = Vector("winner", "click", "free", "prize", "casino",
        "discount", "viagra", "lottery", "urgent", "congratulations",
        "bonus", "unsubscribe")
      val data = (0 until 400).map { i =>
        val y = i % 2
        val pool = if (y == 1) edu else spam
        val words = Seq.fill(12)(pool(rnd.nextInt(pool.size)))
        (i.toLong, words.mkString(" "), y)
      }.toDF("id", "text", "label")
      val m = graft.operators.Classifier.trainTextClassifier(
        data, "text", "label", dim = 256, iters = 15, lr = 2.0)
      val feats = data.withColumn("__f",
        graft.functions.TextFunctions.hashingVector(col("text"), 256))
      det(graft.operators.Classifier.withScore(feats, "__f", m)
        .agg(round(avg((col("pred") === col("label")).cast(DoubleType)), 6)
          .as("accuracy")))
    }),

    // unigram-LM Viterbi encode over a FIXTURE piece table on planted
    // strings — hand-computed segmentations pinned as VALUES
    "q_text_unigram_encode" -> ((s, dir) => {
      import s.implicits._
      val vocab = Seq("the" -> -1.0, "cat" -> -1.2, "at" -> -1.5,
        "c" -> -2.0, "t" -> -2.0, "h" -> -2.0, "e" -> -2.0, "a" -> -2.0)
      val planted = Seq((1L, "the cat"), (2L, "that"), (3L, "zz"), (4L, ""))
        .toDF("doc_id", "text")
      det(graft.operators.TextStats.applyUnigramLm(planted, "doc_id", "text",
        vocab))
    }),

    // GATE for trainUnigramLm: the planted {aaaa,bbbb,ab} corpus where
    // Viterbi-EM provably converges to pieces {aaaa, bbbb, a, b} (the
    // "ab" seed loses its own word to [a,b] in the first E-step) —
    // vocab size, probability mass and fertility pinned
    "q_gate_unigram" -> ((s, dir) => {
      import s.implicits._
      val docs = (Seq.fill(50)("aaaa") ++ Seq.fill(50)("bbbb") ++
        Seq.fill(20)("ab")).zipWithIndex
        .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val pieces = graft.operators.TextStats.trainUnigramLm(docs, "text",
        vocabSize = 8, seedSize = 32, iters = 3, minCount = 2, maxPieceLen = 4)
      val mass = pieces.map { case (_, lp) => math.pow(10, lp) }.sum
      val fert = graft.operators.TextStats
        .applyUnigramLm(docs, "doc_id", "text", pieces)
      det(fert.agg(
        round(avg(col("pieces_per_token")), 6).as("mean_fertility"))
        .select(lit(pieces.size).as("n_pieces"),
          round(lit(mass), 6).as("prob_mass"), col("mean_fertility")))
    }),

    // GATE for trainLangid (the char-n-gram fastText-shaped language
    // ID): a planted 4-language frame of SHORT stopword-free text —
    // the regime where detectLanguage's stopword profiles are blind
    // (profile accuracy pinned well below 1) but byte n-grams are
    // unmistakable (ß/ü↔de, ç/œ↔fr, ñ↔es, th/gh↔en). Trained
    // one-vs-rest heads must recover the language EXACTLY; seeded
    // construction + sorted labels make both numbers bit-stable.
    "q_gate_langid" -> ((s, dir) => {
      import s.implicits._
      val vocab = Seq(
        "de" -> Vector("straße", "gemütlich", "schön", "zwischen", "mädchen",
          "größe", "übung", "müde", "fröhlich", "grüßen"),
        "en" -> Vector("through", "thought", "knight", "bright", "world",
          "children", "strength", "weather", "brought", "enough"),
        "es" -> Vector("niño", "mañana", "corazón", "pequeño", "señor",
          "año", "música", "montaña", "sueño", "español"),
        "fr" -> Vector("château", "déjà", "français", "œuvre", "garçon",
          "être", "forêt", "leçon", "début", "noël"))
      def frame(perLang: Int, wordsPerDoc: Int, seed: Int) = {
        val rnd = new scala.util.Random(seed)
        vocab.flatMap { case (lang, ws) =>
          (0 until perLang).map { i =>
            (s"${lang}_$i",
              Seq.fill(wordsPerDoc)(ws(rnd.nextInt(ws.size))).mkString(" "),
              lang)
          }
        }.toDF("doc_id", "text", "lang")
      }
      val train = frame(50, 6, 3).cache()
      val eval = frame(25, 2, 17) // 2-word docs: too short for profiles
      val m = graft.operators.Classifier.trainLangid(train, "text", "lang",
        dim = 128, nLo = 1, nHi = 3, iters = 8, lr = 6.0)
      val trained = graft.operators.Classifier.withLangid(eval, "text", m)
        .agg(round(avg((col("lang_pred") === col("lang")).cast(DoubleType)), 6)
          .as("accuracy"))
      val profile = TextFunctions
        .withDetectedLanguage(eval, col("text"), "__p")
        .agg(round(avg((col("__p") === col("lang")).cast(DoubleType)), 6)
          .as("profile_accuracy"))
      det(trained.crossJoin(profile))
    }),

    "q_gate_simhash" -> ((s, dir) => {
      val d = docs(s, dir)
      val strong = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 5, threshold = 0.85, dfCap = 100).select("doc_a", "doc_b")
      val sim = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 5)
        .select("doc_a", "doc_b")
      det(strong.join(sim.withColumn("__hit", lit(1)), Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("strong_pairs"),
          coalesce(sum(col("__hit")), lit(0)).cast(LongType).as("covered_pairs"))
        .select(col("strong_pairs"), col("covered_pairs"),
          round(col("covered_pairs").cast(DoubleType) / col("strong_pairs"), 4)
            .as("coverage")))
    }),

    // --- deterministic sampling / corpus balancing ------------------------
    // hash-derived uniforms (md5 -> [0,1)), not rand(): reproducible
    // across runs, partitionings AND engines — the DuckDB oracle
    // computes the identical uniform, so the sampled sets match exactly.

    "q_sample_stratified" -> ((s, dir) =>
      det(graft.operators.Sampling.stratifiedSample(docs(s, dir),
        "lang", "doc_id", Map("en" -> 0.3, "de" -> 1.0), default = 0.5))),

    "q_sample_topk" -> ((s, dir) =>
      det(graft.operators.Sampling.stratifiedTopK(docs(s, dir),
        Seq("lang", "source"), "doc_id", k = 20))),

    // weight = a quality-ish per-row score in [0,1] derived from n_chars
    // (longer docs kept with higher probability, capped at 1)
    "q_sample_weighted" -> ((s, dir) =>
      det(graft.operators.Sampling.weightedSample(docs(s, dir), "doc_id",
        least(lit(1.0), col("n_chars").cast(DoubleType) / lit(400.0))))),

    // "make the kept corpus 50% en / 30% de / 20% fr": fractions are
    // COMPUTED from the target shares and the per-lang counts (largest
    // achievable size), then the usual deterministic hash filter; es/zh
    // rows drop (the target defines the mix)
    "q_sample_rebalance" -> ((s, dir) =>
      det(graft.operators.Sampling.rebalanceMixture(docs(s, dir),
        "lang", "doc_id", Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2)))),

    // α = 0.5 temperature sampling over languages: tempered shares
    // derived from the corpus itself, not hand-specified
    "q_sample_temperature" -> ((s, dir) =>
      det(graft.operators.Sampling.temperatureSample(docs(s, dir),
        "lang", "doc_id", alpha = 0.5))),

    "q_sample_split" -> ((s, dir) =>
      det(graft.operators.Sampling.assignSplit(docs(s, dir), "doc_id",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split")))),

    // leakage-safe twin: near-dup families (the q_dedup_collapse pair
    // graph) hash their component min id, so a family never straddles
    // train/valid/test
    "q_sample_split_leaksafe" -> ((s, dir) => {
      val d = docs(s, dir)
      val p = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 5, threshold = 0.5, dfCap = 100)
      det(graft.operators.Sampling.assignSplitLeakSafe(d, "doc_id", p,
        "doc_a", "doc_b", Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split")))
    }),

    "q_sample_shuffle" -> ((s, dir) =>
      det(graft.operators.Sampling.globalShuffle(docs(s, dir), "doc_id",
        seed = 42L, shards = 8)
        .select(col("doc_id"), col("shard"), col("pos")))),

    // "take ~2000 tokens per language", deterministic hash-first order
    "q_sample_budget" -> ((s, dir) =>
      det(graft.operators.Sampling.tokenBudgetSample(docs(s, dir),
        Seq("lang"), "doc_id",
        TextFunctions.tokenCount(col("text")), budget = 2000L))),

    // per-language budgets ("3000 en, 1000 de, drop the rest") — the
    // non-uniform curation directive as one call
    "q_sample_budget_map" -> ((s, dir) =>
      det(graft.operators.Sampling.tokenBudgetSampleBy(docs(s, dir),
        "lang", "doc_id", TextFunctions.tokenCount(col("text")),
        Map("en" -> 3000L, "de" -> 1000L)))),

    // the budget measured under the PRODUCTION tokenizer: the byte-BPE
    // KERNEL's subword count feeds the same budget sampler (the size
    // column is a parameter — composition, not a new operator); the
    // oracle re-derives the counts through the replace-chain replay,
    // so this row cross-checks kernel==chain INSIDE a sampling plan
    "q_sample_budget_bpe" -> ((s, dir) =>
      det(graft.operators.Sampling.tokenBudgetSample(docs(s, dir),
        Seq("lang"), "doc_id",
        coalesce(graft.functions.ByteBpeEncode.byteBpeCount(col("text"),
          ByteBpeFixtureMerges), lit(0L)), budget = 4000L))),

    // the SAME budget declared as YAML (r17): `tokenizer: {kind:
    // bpe_bytes, merges: <ModelStore path>}` makes the token_budget
    // stage size documents with the kernel — config-vs-programmatic
    // no-drift row on the q_sample_budget_bpe oracle text (the merge
    // list round-trips through a persisted ModelStore artifact, so
    // the path a production config would take is the path graded)
    "q_pipeline_budget_bpe_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileYaml(
        s"""curation:
           |  tokenizer: {kind: bpe_bytes, merges: ${fixtureMergesStore(s, dir)}}
           |  stages:
           |    - {op: token_budget, strata: [lang], budget_tokens: 4000}
           |""".stripMargin, docs(s, dir)))),

    // the FINAL pretraining artifact from YAML (r17): pack_ids under
    // the persisted production tokenizer — graded as posexploded
    // scalars on the q_pack_token_ids oracle text (one oracle, two
    // construction paths: programmatic and config)
    "q_pipeline_pack_ids_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileYaml(
        s"""curation:
           |  tokenizer: {kind: bpe_bytes, merges: ${fixtureMergesStore(s, dir)}}
           |  stages:
           |    - {op: pack_ids, budget: 128, shards: 8}
           |""".stripMargin, docs(s, dir))
        .select(col("shard"), col("seq_id"),
          posexplode(col("token_ids")).as(Seq("pos", "token_id")))
        .select(col("shard"), col("seq_id"),
          col("pos").cast(LongType).as("pos"), col("token_id")))),

    // the YAML-declared span address book (r18, VERDICT r17 #4): the
    // doc_spans terminal stage on the SAME tokenizer/budget/shards as
    // the pack_ids row — graded on the q_pack_token_spans oracle text
    // (one oracle, two construction paths), so the config surface can
    // never drift from the programmatic packer's geometry
    "q_pipeline_pack_spans_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileYaml(
        s"""curation:
           |  tokenizer: {kind: bpe_bytes, merges: ${fixtureMergesStore(s, dir)}}
           |  stages:
           |    - {op: doc_spans, budget: 128, shards: 8}
           |""".stripMargin, docs(s, dir)))),

    // the chat twin: pack_sft_spans from YAML on the
    // q_chat_pack_sft_spans oracle text
    "q_pipeline_sft_spans_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileChatYaml(
        s"""chat_curation:
           |  tokenizer: {kind: bpe_bytes, merges: ${fixtureMergesStore(s, dir)}}
           |  stages:
           |    - {op: pack_sft_spans, budget: 128, shards: 8}
           |""".stripMargin, chatFrame(s, dir)))),

    // sentence segmentation with the pinned [^.!?]+[.!?]+ boundary
    // rule; the corpus carries no terminators, so the query PLANTS
    // deterministic sentence punctuation (the q_redact_pii trick) —
    // the splitter demonstrably fires on every doc
    "q_text_sentences" -> ((s, dir) =>
      det(graft.operators.TextStats.splitSentences(
        docs(s, dir).withColumn("text", concat(col("text"),
          lit(". Planted one! Planted"), col("doc_id").cast(StringType),
          lit("? tail without terminator"))),
        "doc_id", "text"))),

    // inference-style length-bucketed batches: 4 hash shards, buckets
    // at 200/400/600 chars, 16 rows per batch, similar lengths together
    "q_sample_length_batches" -> ((s, dir) =>
      det(graft.operators.Sampling.lengthBucketBatches(
        docs(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", edges = Seq(200L, 400L, 600L), batchSize = 16,
        seed = 7L, shards = 4)
        .select(col("doc_id"), col("n_chars"), col("bucket"), col("shard"),
          col("batch_idx")))),

    // curriculum order: hash shards, within-shard order by n_chars
    // (easy = short first)
    "q_sample_curriculum" -> ((s, dir) =>
      det(graft.operators.Sampling.curriculumOrder(
        docs(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", seed = 42L, shards = 8)
        .select(col("doc_id"), col("n_chars"), col("shard"), col("pos")))),

    // multi-epoch mixing table: temperature shares over per-source
    // token mass -> epoch counts capped at 3, vs a 100k-token budget
    "q_sample_epoch_plan" -> ((s, dir) =>
      det(graft.operators.Sampling.epochPlan(docs(s, dir), "text", "source",
        budgetTokens = 100000L, alpha = 0.5, maxEpochs = 3.0))),

    // --- corpus frequency statistics -------------------------------------

    "q_text_vocabulary" -> ((s, dir) =>
      det(graft.operators.TextStats.vocabulary(docs(s, dir), "text",
        minCount = 5L))),

    // tokenizer-sizing card: minimal vocab covering 50/90/99% of the
    // corpus token mass (exact integer thresholds, count-histogram plan)
    "q_text_vocab_coverage" -> ((s, dir) =>
      det(graft.operators.TextStats.vocabCoverage(docs(s, dir), "text",
        Seq(50, 90, 99)))),

    // BPE trainer's first-iteration merge table: adjacent char pairs
    // inside tokens, occurrence-weighted, exploded from the VOCABULARY
    "q_text_bpe_pairs" -> ((s, dir) =>
      det(graft.operators.TextStats.bpePairCounts(docs(s, dir), "text",
        minCount = 10L))),

    // corpus-adaptive stopword list: tokens in >= 50% of documents
    "q_text_stopwords" -> ((s, dir) =>
      det(graft.operators.TextStats.stopwords(docs(s, dir), "doc_id", "text",
        minDocPct = 50))),

    // BPE TRAINING on the classic planted word-frequency example —
    // the merge sequence is fully determined by hand arithmetic (the
    // oracle pins it as VALUES), incl. a tie broken by pair order
    "q_text_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      val words = Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
        Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs")
      val planted = Seq(words.mkString(" ")).toDF("text")
      val m = graft.operators.TextStats.trainBpe(planted, "text", numMerges = 5)
      val rows = m.zipWithIndex.map { case ((l, r, n), i) => (i + 1L, l, r, n) }
      det(rows.toDF("merge_rank", "lhs", "rhs", "n_occurrences"))
    }),

    // BPE ENCODE with a fixed merge list over the real corpus; the
    // oracle's replace chain is generated from the same list
    "q_text_bpe_encode" -> ((s, dir) =>
      det(graft.operators.TextStats.applyBpe(docs(s, dir), "doc_id", "text",
        BpeFixtureMerges))),

    // BYTE-LEVEL (GPT-2-style) BPE TRAINING on a planted word-frequency
    // example extended with a multi-byte word (café: the C3+A9 bytes
    // merge as symbols, proving the alphabet is bytes, not chars); the
    // 15-merge sequence is fully determined by hand arithmetic over
    // UTF-8 bytes and pinned as VALUES, incl. hex-order tie-breaks
    "q_text_bpe_bytes_merges" -> ((s, dir) => {
      import s.implicits._
      val words = Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
        Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs") ++
        Seq.fill(3)("café")
      val planted = Seq(words.mkString(" ")).toDF("text")
      val m = graft.operators.TextStats.trainBpeBytes(planted, "text",
        numMerges = 15)
      val rows = m.zipWithIndex.map { case ((l, r, n), i) => (i + 1L, l, r, n) }
      det(rows.toDF("merge_rank", "lhs", "rhs", "n_occurrences"))
    }),

    // BYTE-LEVEL BPE ENCODE with a fixed hex-symbol merge list over the
    // real corpus (GPT-2-style pre-tokenization: leading spaces attach
    // to the next run); the oracle re-derives byte symbols from
    // hex(encode(tok)) and replays the same replace chain
    "q_text_bpe_bytes_encode" -> ((s, dir) =>
      det(graft.operators.TextStats.applyBpeBytes(docs(s, dir), "doc_id",
        "text", ByteBpeFixtureMerges))),

    // the fertility card RE-RUN under the byte-level tokenizer — the
    // production segmentation's subwords-per-word and bytes-per-subword
    "q_text_fertility_bytes" -> ((s, dir) =>
      det(graft.operators.TextStats.byteBpeFertility(docs(s, dir), "text",
        Seq("lang"), ByteBpeFixtureMerges))),

    // the PIECES surface: ordered hex-byte subword symbols per doc —
    // one dictionary lookup away from model input ids, encoded by the
    // native ByteBpeEncode kernel like every byte-BPE surface. GRADED as
    // posexploded (doc_id, pos, piece) scalar rows: the driver's
    // canonicalizer sorts with pandas sort_values, which crashes on
    // array-typed cells (SURVEY §7.5 #12) — the array-returning Scala
    // API is unchanged; only the graded projection is flattened, and
    // the pos column pins the exact in-document piece order. The OUTER
    // posexplode plus a pos filter drops NULL/empty arrays exactly like
    // posexplode, but gives Catalyst no `size(subwords) > 0` constraint
    // to infer, so the kernel is not inlined into a Filter as well and
    // runs once per document.
    "q_text_bpe_bytes_pieces" -> ((s, dir) =>
      det(graft.operators.TextStats.encodeBpeBytes(docs(s, dir), "doc_id",
        "text", ByteBpeFixtureMerges)
        .select(col("doc_id"),
          posexplode_outer(col("subwords")).as(Seq("pos", "piece")))
        .filter(col("pos").isNotNull)
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("piece")))),

    // the induced vocabulary: base bytes at ids 0-255, merges at
    // 256+rank — the oracle DERIVES the byte rows from range(0,256)
    "q_text_bpe_bytes_vocab" -> ((s, dir) =>
      det(graft.operators.TextStats.bpeBytesVocab(s, ByteBpeFixtureMerges))),

    // and the ids — the NATIVE KERNEL at every merge count since r16
    // (the r15 plan-literal-map lookup was a linear key scan per
    // token; the kernel emits vocab ids directly, 5.5 s → 0.51 s at
    // sf0.1). Same posexplode grading shape as _pieces (no array
    // columns in graded output — SURVEY §7.5 #12), outer + pos filter
    // for the same reason: the kernel runs once per document; the
    // Scala API still returns (doc_id, token_ids array<long>).
    "q_text_bpe_bytes_ids" -> ((s, dir) =>
      det(graft.operators.TextStats.encodeBpeBytesIds(docs(s, dir), "doc_id",
        "text", ByteBpeFixtureMerges)
        .select(col("doc_id"),
          posexplode_outer(col("token_ids")).as(Seq("pos", "token_id")))
        .filter(col("pos").isNotNull)
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("token_id")))),

    // the NATIVE kernel (graft.functions.ByteBpeEncode) called
    // directly over the SAME fixture merges, graded against the SAME
    // oracle text as q_text_bpe_bytes_pieces; the two rows run the same
    // plan, and this one pins the kernel's own column API to the oracle
    "q_text_bpe_kernel_pieces" -> ((s, dir) =>
      det(docs(s, dir).select(col("doc_id"),
        graft.functions.ByteBpeEncode.byteBpePieces(col("text"),
          ByteBpeFixtureMerges).as("subwords"))
        .select(col("doc_id"),
          posexplode_outer(col("subwords")).as(Seq("pos", "piece")))
        .filter(col("pos").isNotNull)
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("piece")))),

    // the kernel at PRODUCTION TABLE SIZE: 10,000 merge entries
    // (corpus-trained head + generated well-formed tail — the testdata
    // vocabulary is 61 distinct pre-tokens, see kernelMerges10k) over
    // every document. EXACT since r17: the old rows-only argument only
    // covered the CHAIN-shaped replay (10k nested replace exceeds
    // DuckDB's expression depth); greedy-by-rank itself replays as a
    // recursive CTE over distinct pre-tokens with the rank table as a
    // VALUES relation — see byteBpeKernelReplaySql (the oracle is
    // generated from the same per-dir merge table the query encodes
    // under, dumped at oracle_sql access time).
    "q_text_bpe_kernel_10k" -> ((s, dir) =>
      det(graft.operators.TextStats.applyBpeBytes(docs(s, dir), "doc_id",
        "text", kernelMerges10k(s, dir)))),

    // the kernel at GPT-2 VOCABULARY SIZE: 50,000 merges (trained head
    // + full base-byte-pair tail, round-tripped through ModelStore —
    // see kernelMerges50k), graded on the token-ids surface
    // (posexploded scalars, SURVEY §7.5 #12) against the same
    // generated greedy-by-rank recursive-CTE replay as the 10k row.
    // What it prices: byteBpeIds under a production-size rank table
    // where ASCII tail pairs actually FIRE (deeper greedy loops than
    // the 10k row's non-firing high-byte tail). Outer posexplode +
    // pos filter, as in _pieces: the kernel runs once per document.
    "q_text_bpe_kernel_50k" -> ((s, dir) =>
      det(docs(s, dir).select(col("doc_id"),
        graft.functions.ByteBpeEncode.byteBpeIds(col("text"),
          kernelMerges50k(s, dir)).as("token_ids"))
        .select(col("doc_id"),
          posexplode_outer(col("token_ids")).as(Seq("pos", "token_id")))
        .filter(col("pos").isNotNull)
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("token_id")))),

    // token→byte ALIGNMENT (r18): the offsets mode of the native
    // kernel — (token_id, byte_start, byte_len) per token, spans
    // tiling the text's UTF-8 bytes contiguously; the join surface
    // for character-level labels (NER spans, redaction windows,
    // provenance cites) onto the token stream. The oracle re-derives
    // spans from the pieces replay's hex lengths + a running sum
    "q_text_bpe_offsets" -> ((s, dir) =>
      det(docs(s, dir).select(col("doc_id"),
        posexplode(graft.functions.ByteBpeEncode.byteBpeOffsets(col("text"),
          ByteBpeFixtureMerges)).as(Seq("pos", "__o")))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("__o").getField("token_id").as("token_id"),
          col("__o").getField("byte_start").as("byte_start"),
          col("__o").getField("byte_len").as("byte_len")))),

    // DETOKENIZE round-trip (r18): decode(encode(text)) == text for
    // every document — byte-level BPE is a pure segmentation of the
    // UTF-8 bytes, so the native decode kernel inverts the native
    // encode kernel exactly (NULL text passes through as NULL). The
    // oracle is the source table: all the work is Spark-side
    "q_text_bpe_decode" -> ((s, dir) =>
      det(docs(s, dir).select(col("doc_id"),
        graft.functions.ByteBpeDecode.byteBpeDecode(
          graft.functions.ByteBpeEncode.byteBpeIds(col("text"),
            ByteBpeFixtureMerges), ByteBpeFixtureMerges).as("text")))),

    // the round-trip under the PRODUCTION 50k vocabulary: deep greedy
    // encode loops + a 50k-piece decode table, still identity
    "q_text_bpe_decode_50k" -> ((s, dir) => {
      val m = kernelMerges50k(s, dir)
      det(docs(s, dir).select(col("doc_id"),
        graft.functions.ByteBpeDecode.byteBpeDecode(
          graft.functions.ByteBpeEncode.byteBpeIds(col("text"), m), m)
          .as("text")))
    }),

    // the REAL pretraining artifact (r18, VERDICT r17 #6): the 50k
    // production vocabulary loaded from ModelStore by a YAML config
    // whose terminal pack_ids stage chops the id stream into 1024-id
    // context windows (eos = 256 + 50000 = 50256 — the GPT-2
    // <|endoftext|> id, by the default-eos convention). Graded as
    // posexploded scalars against the generated greedy-by-rank replay
    // extended with the EOS/offset/chop arithmetic ("packed" shape).
    "q_pipeline_pack_ids_50k_config" -> ((s, dir) => {
      kernelMerges50k(s, dir) // builds + round-trips the 50k store
      det(graft.plans.CurationCompiler.compileYaml(
        s"""curation:
           |  tokenizer: {kind: bpe_bytes, merges: ${kernelStore50k.get(dir)}}
           |  stages:
           |    - {op: pack_ids, budget: 1024, shards: 8}
           |""".stripMargin, docs(s, dir))
        .select(col("shard"), col("seq_id"),
          posexplode(col("token_ids")).as(Seq("pos", "token_id")))
        .select(col("shard"), col("seq_id"),
          col("pos").cast(LongType).as("pos"), col("token_id")))
    }),

    // FIM infilling augmentation: hash-drawn participation, cuts and
    // PSM/SPM mode, all replayed by the oracle (binary-exact 0.5 rates)
    "q_text_fim" -> ((s, dir) =>
      det(graft.operators.TextStats.fimTransform(docs(s, dir), "doc_id",
        "text", fimRate = 0.5, spmRate = 0.5))),

    // T5 span corruption: segment-hosted spans with hash-drawn lengths
    // and offsets, sentinel inputs/targets — every draw and boundary
    // replayed by the oracle in integer + md5-uniform arithmetic
    "q_text_span_corrupt" -> ((s, dir) =>
      det(graft.operators.TextStats.spanCorrupt(docs(s, dir), "doc_id",
        "text"))),

    // UL2 mixture of denoisers: per-doc hash routing (3/8 R, 3/8 X,
    // 1/4 S prefix-LM) over the same span machinery — the R and X
    // branches replay through the SAME generated CTE chain as the
    // span-corrupt oracle, S adds the single-cut rendering
    "q_text_denoiser_mix" -> ((s, dir) =>
      det(graft.operators.TextStats.denoiserMix(docs(s, dir), "doc_id",
        "text"))),

    // the augmentation stages on the CURATION CONFIG surface:
    // dedup_exact -> denoiser_mix (terminal) declared as YAML,
    // graded against the same generated replay over the md5-dedup
    // survivor set
    "q_pipeline_denoiser_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileYaml(
        """curation:
          |  stages:
          |    - {op: dedup_exact}
          |    - {op: denoiser_mix}
          |""".stripMargin,
        docs(s, dir)))),

    "q_text_logprob" -> ((s, dir) =>
      det(graft.operators.TextStats.unigramLogProbScore(docs(s, dir),
        "doc_id", "text", minCount = 2L))),

    // the CCNet shape: frequencies trained on a TRUSTED reference
    // (sources src0/src1 play Wikipedia), the whole corpus scored
    // against them — not against itself
    "q_text_logprob_ref" -> ((s, dir) => {
      val d = docs(s, dir)
      det(graft.operators.TextStats.unigramLogProbScoreAgainst(d,
        "doc_id", "text",
        d.filter(col("source").isin("src0", "src1")), "text",
        minCount = 2L))
    }),

    "q_text_logprob_bigram" -> ((s, dir) =>
      det(graft.operators.TextStats.bigramLogProbScore(docs(s, dir),
        "doc_id", "text", minCount = 2L))),

    // stupid-backoff trigram LM (Brants et al. 2007): 0.4 penalty per
    // backoff level, floors at the unigram model
    "q_text_logprob_trigram" -> ((s, dir) =>
      det(graft.operators.TextStats.trigramLogProbScore(docs(s, dir),
        "doc_id", "text", minCount = 2L))),

    // DSIR importance score: hashed-ngram likelihood ratio between the
    // trusted slice (src0/src1 play the target) and the corpus itself
    "q_text_dsir" -> ((s, dir) => {
      val d = docs(s, dir)
      det(graft.operators.TextStats.dsirScore(d, "doc_id", "text",
        d.filter(col("source").isin("src0", "src1")), "text",
        numBuckets = 1024))
    }),

    // per-source distribution shift vs the trusted slice: OOV rate,
    // KL divergence, cross-entropy over the floored reference vocab
    "q_text_divergence" -> ((s, dir) => {
      val d = docs(s, dir)
      det(graft.operators.TextStats.vocabDivergence(d, "text", Seq("source"),
        d.filter(col("source").isin("src0", "src1")), "text", minCount = 2L))
    }),

    // CCNet's head/middle/tail split: unigram LM score -> percentile
    // terciles (bucket 0 = least corpus-typical). Empty docs (NULL
    // score) get a NULL bucket.
    "q_sample_ppl_buckets" -> ((s, dir) => {
      val scored = graft.operators.TextStats.unigramLogProbScore(docs(s, dir),
        "doc_id", "text", minCount = 2L)
      det(graft.operators.Sampling.percentileBuckets(scored, "mean_logprob", 3))
    }),

    "q_text_tfidf" -> ((s, dir) =>
      det(graft.operators.TextStats.tfidfKeywords(docs(s, dir),
        "doc_id", "text", k = 5, minDf = 2L))),

    // planted markup wraps the real text; the oracle plants the SAME
    // string and strips with a regexp_replace chain GENERATED from
    // TextFunctions.MarkupPatterns (the q_redact_pii no-drift trick)
    "q_text_strip_markup" -> ((s, dir) => {
      val planted = concat(lit("<div class=\"x\"> <!-- c --> "), col("text"),
        lit(" </div><br/>a &amp; b &lt;t&gt; &quot;q&quot; &#39;s&#39;&nbsp;end"))
      det(docs(s, dir).select(col("doc_id"),
        TextFunctions.stripMarkup(planted).as("clean")))
    }),

    // C4-style banned-phrase filtering (case-insensitive substring)
    "q_filter_blocklist" -> ((s, dir) =>
      det(graft.operators.CorpusClean.blocklistFilter(docs(s, dir), "text",
        Seq("spark window", "slow merge")))),

    // join-skew pre-flight: hottest (lang, source) groups with shares
    "q_skew_card" -> ((s, dir) =>
      det(graft.operators.Diagnostics.keySkewCard(docs(s, dir),
        Seq("lang", "source"), k = 10))),

    // PSI drift between the full corpus and its English slice over the
    // n_chars signal, base-quantile bins
    "q_text_psi" -> ((s, dir) => {
      val d = docs(s, dir)
      det(graft.operators.TextStats.psiReport(
        d, d.filter(col("lang") === "en"), "n_chars", nBins = 10))
    }),

    // encoding-damage signal: every doc planted with one hit per
    // mojibake family; hits + per-char rate published
    "q_text_mojibake" -> ((s, dir) => {
      val planted = docs(s, dir)
        .withColumn("text", concat(col("text"), lit(MojibakeSuffix)))
      val hits = graft.functions.TextFunctions.mojibakeHits(col("text"))
      det(planted.select(col("doc_id"), hits.as("mojibake_hits"),
        round(hits.cast(DoubleType) / length(col("text")), 6)
          .as("hits_per_char")))
    }),

    // line-wise correction (RefinedWeb line filters): plant one
    // violation per rule on every doc — a SHOUTING line, a digit dump,
    // a boilerplate line (raw form differs from the list entry by case
    // and padding), a fragment — and keep the doc with those lines cut
    "q_filter_lines" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("text", concat(
        col("text"),
        lit("\nBUY NOW CLICK HERE\n12345 67890 424242\n  Sign In  \nok\nclosing paragraph for document "),
        col("doc_id").cast(StringType)))
      det(graft.operators.CorpusClean.filterLines(planted, "text")
        .select(col("doc_id"), col("text"), col("n_lines"),
          col("n_lines_kept"), col("removed_char_share")))
    }),

    // dataset-card phrase table: top-5 word bigrams per language
    "q_text_top_ngrams" -> ((s, dir) =>
      det(graft.operators.TextStats.topNgrams(docs(s, dir), "text",
        n = 2, k = 5, strataCols = Seq("lang")))),

    // phrase mining: top-20 adjacent pairs by PMI, minCount 5 floor
    "q_text_collocations" -> ((s, dir) =>
      det(graft.operators.TextStats.collocations(docs(s, dir), "text",
        minCount = 5, k = 20))),

    // BM25 retrieval: the first 3 documents as their own queries
    "q_text_bm25" -> ((s, dir) => {
      val d = docs(s, dir)
      val qs = d.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("text").as("query_text"))
      det(graft.operators.TextStats.bm25TopK(d, "doc_id", "text",
        qs, "query_id", "query_text", k = 10))
    }),

    "q_corpus_lengths" -> ((s, dir) =>
      det(graft.operators.TextStats.lengthPercentiles(docs(s, dir), "text",
        Seq("lang"), Seq(0.5, 0.9)))),

    // --- multimodal -------------------------------------------------------

    // --- batch windowing over events ------------------------------------

    "q_events_sessionize" -> ((s, dir) =>
      det(graft.operators.Windowed.sessionizeBatch(events(s, dir), "user_id", "ts",
        gapSeconds = 7200, tieBreakCol = Some("event_id")))),

    // the monster-key scale-out: (key, ts-bucket) local sessions +
    // boundary-fragment merge — THIRD execution path on the same
    // oracle text (few buckets so cross-bucket chains actually fire)
    "q_events_sessionize_skewed" -> ((s, dir) =>
      det(graft.operators.Windowed.sessionizeSkewed(events(s, dir),
        "user_id", "ts", gapSeconds = 7200, numBuckets = 8))),

    // Spark's native session_window grouping — SAME oracle text as
    // q_events_sessionize (one oracle, two execution paths); the
    // session merge happens inside the partial aggregate, which the
    // lag plan cannot do
    "q_events_sessionize_native" -> ((s, dir) =>
      det(graft.operators.Windowed.sessionizeNative(events(s, dir),
        "user_id", "ts", gapSeconds = 7200))),

    // LOCF resample: each user's unique-(user, ts) view values onto a
    // daily grid spanning [trunc(min), trunc(max)] per user
    "q_events_resample" -> ((s, dir) =>
      det(graft.operators.Temporal.resampleLocf(asofViews(s, dir),
        "user_id", "ts", Seq("view_value"), unit = "day"))),

    // the monster-log scale-out — SECOND execution path on the
    // q_events_resample oracle text (grid construction shared; the
    // as-of resolution takes the bucketed boundary-carry plan)
    "q_events_resample_skewed" -> ((s, dir) =>
      det(graft.operators.Temporal.resampleLocfSkewed(asofViews(s, dir),
        "user_id", "ts", Seq("view_value"), unit = "day", numBuckets = 8))),

    // the TEMPORAL composition row (the q_pipeline_* pattern for the
    // events side): purchases asof-attributed to the user's last view,
    // range-joined into their 2h-gap session, collapsed to a per-user
    // attribution card — sessionize + asofJoin + rangeJoin + aggregate
    // in ONE plan
    "q_pipeline_events" -> ((s, dir) => {
      val e = events(s, dir)
      val enriched = graft.operators.Temporal.asofJoin(
        e.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts")),
        asofViews(s, dir), "user_id", "ts", Seq("view_value"))
      val sessions = graft.operators.Windowed.sessionizeBatch(e,
        "user_id", "ts", gapSeconds = 7200, tieBreakCol = Some("event_id"))
      val inSession = graft.operators.Temporal.rangeJoin(enriched, sessions,
        "ts", "session_start", "session_end", bucketWidth = 86400.0,
        keyCol = Some("user_id"))
      det(inSession.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_purchases"),
        count(col("view_value")).as("n_attributed"),
        round(sum(col("view_value")), 2).as("sum_attributed_value"),
        countDistinct(col("session_start")).as("n_purchase_sessions")))
    }),

    // the SAME composition declared as YAML with the skew mapping:
    // the hardened (key, ts-bucket) as-of + sessionize paths compile
    // from config and grade against the IDENTICAL q_pipeline_events
    // oracle text — the no-drift row for the r16 skew config surface
    "q_pipeline_events_skew_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileEventsYaml(
        """events_analytics:
          |  user_col: user_id
          |  ts_col: ts
          |  enrich: {left_type: purchase, right_type: view, value_col: value}
          |  sessions: {gap_seconds: 7200}
          |  skew: {num_buckets: 8}
          |""".stripMargin,
        events(s, dir)))),

    // linear multi-touch attribution: each purchase's value split
    // equally over the user's views/clicks in the preceding day
    "q_events_attribution" -> ((s, dir) =>
      det(graft.operators.Windowed.attributionLinear(events(s, dir),
        "user_id", "ts", "event_type", "value", "event_id",
        conversionType = "purchase", touchTypes = Seq("view", "click"),
        lookbackSeconds = 86400.0))),

    // CDC apply: mid-month snapshot + the rest of the month as a
    // change stream ('error' plays delete, everything else upserts
    // the user's event-type state) -> the end-of-month snapshot
    "q_events_cdc_apply" -> ((s, dir) => {
      val t = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
      val base = graft.operators.Temporal.snapshotAt(events(s, dir),
        "user_id", "ts", "event_type", t, tieCol = Some("event_id"))
        .select(col("user_id"), col("event_type"))
      val changes = events(s, dir).filter(col("ts") > lit(t))
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("event_type"))
      det(graft.operators.Temporal.applyCdc(base, changes, "user_id",
        "ts", "op", "event_type", tieCol = "event_id"))
    }),

    // RFM segmentation: per-user recency/frequency/monetary +
    // deterministic quintile scores
    "q_events_rfm" -> ((s, dir) =>
      det(graft.operators.Windowed.rfmCard(events(s, dir),
        "user_id", "ts", "value", nTiles = 5))),

    // the billion-key sharded-rank card (r17): SECOND execution path
    // on the q_events_rfm oracle text — exact ntile from decomposed
    // ranks, no unpartitioned window (few buckets force multi-bucket
    // prefix sums and key-cell splits on the fixture)
    "q_events_rfm_sharded" -> ((s, dir) =>
      det(graft.operators.Windowed.rfmCardSharded(events(s, dir),
        "user_id", "ts", "value", nTiles = 5, vBuckets = 8, kBuckets = 8))),

    // the YAML-declared RFM job (r17): THIRD execution path on the
    // q_events_rfm oracle text — the config compiles to rfmCard, whose
    // stats pass counts the fixture's keys and takes the plain
    // three-ntile plan (the sharded ranks are graded by
    // q_events_rfm_sharded and the q_events_rfm_strkey* rows)
    "q_events_rfm_config" -> ((s, dir) =>
      det(graft.plans.CurationCompiler.compileEventsRfmYaml(
        """events_rfm:
          |  user_col: user_id
          |  ts_col: ts
          |  value_col: value
          |  n_tiles: 5
          |""".stripMargin,
        events(s, dir)))),

    // the STRING-KEY billion-key card (r18, VERDICT r17 #1: string/UUID
    // ids are the COMMON billion-key case and used to fall back to the
    // single-task ntile plan): FOURTH path on the q_events_rfm shape —
    // a key whose BINARY order differs from numeric order ("u10" <
    // "u2"), split into key cells at sampled boundary keys (bucket =
    // count of boundary strings <= key, monotone in the binary order);
    // the oracle recomputes ntile with VARCHAR tie-breaks
    "q_events_rfm_strkey" -> ((s, dir) =>
      det(graft.operators.Windowed.rfmCardSharded(
        events(s, dir).withColumn("user_key",
          concat(lit("u"), col("user_id").cast("string"))),
        "user_key", "ts", "value", nTiles = 5, vBuckets = 8, kBuckets = 8))),

    // the PREFIXED string-key card (r19, VERDICT r18 #1): real id
    // schemes share a long literal prefix ('customer_…', 'ORD-2024-…')
    // — 9 shared bytes here, the regime that collapsed every key into
    // one cell under the earlier byte-rank geometries; boundary keys
    // are whole sampled strings, so the shared prefix moves no cell
    // cut, and the oracle re-derives ntile under VARCHAR collation
    // over the same prefixed key
    "q_events_rfm_strkey_prefixed" -> ((s, dir) =>
      det(graft.operators.Windowed.rfmCardSharded(
        events(s, dir).withColumn("user_key",
          concat(lit("customer_"), col("user_id").cast("string"))),
        "user_key", "ts", "value", nTiles = 5, vBuckets = 8, kBuckets = 8))),

    // the MIXED-population string-key card (r20, VERDICT r19 #1): a
    // customer_*-prefixed population PLUS planted outlier keys
    // ('admin', '', 'zzz' — the stray legacy ids every real event log
    // has). One such key zeroed the r19 geometry's global-min/max LCP
    // and re-collapsed the whole prefixed population into one cell;
    // the boundary-key cut is outlier-immune, and the oracle re-derives
    // ntile under VARCHAR collation over the same mixed key
    "q_events_rfm_strkey_mixed" -> ((s, dir) =>
      det(graft.operators.Windowed.rfmCardSharded(
        events(s, dir).withColumn("user_key",
          when(pmod(col("user_id"), lit(997)) === 0, lit("admin"))
            .when(pmod(col("user_id"), lit(997)) === 1, lit(""))
            .when(pmod(col("user_id"), lit(997)) === 2, lit("zzz"))
            .otherwise(concat(lit("customer_"),
              col("user_id").cast("string")))),
        "user_key", "ts", "value", nTiles = 5, vBuckets = 8, kBuckets = 8))),

    // position-based (U-shaped) attribution: 40/20/40 edge weighting
    "q_events_attribution_pos" -> ((s, dir) =>
      det(graft.operators.Windowed.attributionPositional(events(s, dir),
        "user_id", "ts", "event_type", "value", "event_id",
        conversionType = "purchase", touchTypes = Seq("view", "click"),
        lookbackSeconds = 86400.0, edgeShare = 0.4))),

    // point-in-time snapshot: each user's event-type state AS OF the
    // month's midpoint (SCD2 episodes + containment filter)
    "q_events_snapshot" -> ((s, dir) =>
      det(graft.operators.Temporal.snapshotAt(events(s, dir),
        "user_id", "ts", "event_type",
        java.sql.Timestamp.valueOf("2024-01-15 00:00:00"),
        tieCol = Some("event_id")))),

    // missing-data report: per-user pauses longer than 2 days
    "q_events_gaps" -> ((s, dir) =>
      det(graft.operators.Windowed.gapReport(events(s, dir),
        "user_id", "ts", minGapSeconds = 172800.0,
        tieBreakCol = "event_id"))),

    // latency-dashboard row: exact hourly value percentiles
    "q_events_hourly_quantiles" -> ((s, dir) =>
      det(graft.operators.Windowed.bucketQuantiles(events(s, dir),
        "ts", "value", unit = "hour"))),

    // OHLC decimation per (event_type, hour): endpoint picks via
    // min_by/max_by on a packed (micros, tie) struct — one aggregate,
    // no window pass
    "q_events_ohlc" -> ((s, dir) =>
      det(graft.operators.Windowed.ohlcAgg(events(s, dir),
        "event_type", "ts", "value", unit = "hour",
        tieBreakCol = "event_id"))),

    // OLAP ROLLUP subtotals over (event_type, day): every prefix
    // level in ONE aggregate shuffle, ANSI NULL markers
    "q_events_rollup" -> ((s, dir) =>
      det(graft.operators.Windowed.rollupAgg(
        events(s, dir).select(col("event_type"),
          date_trunc("day", col("ts")).as("day"), col("value")),
        Seq("event_type", "day"), "value"))),

    // k-anonymity suppression on the (event_type, hour) quasi-key:
    // only rows in groups of >= 5 survive, group_size rides along
    "q_privacy_kanon" -> ((s, dir) =>
      det(graft.operators.Sampling.suppressSmallGroups(
        events(s, dir).select(col("event_id"), col("event_type"),
          date_trunc("hour", col("ts")).as("hour")),
        Seq("event_type", "hour"), k = 5))),

    // Spark 4 VARIANT ingestion: parse the semi-structured props
    // column once, extract a typed path (schema-on-read without a
    // declared struct — the from_json twin for open schemas)
    "q_events_variant" -> ((s, dir) =>
      det(events(s, dir).select(col("event_id"),
        try_variant_get(parse_json(col("props")), "$.k", "int")
          .as("k_val")))),

    // per-user behavioral feature vector: one count column per event
    // type (explicit value list — no distinct-collect, fixed schema)
    "q_events_pivot" -> ((s, dir) =>
      det(graft.operators.Windowed.pivotCounts(events(s, dir),
        "user_id", "event_type",
        Seq("click", "error", "purchase", "signup", "view")))),

    // the inverse reshaping: melt the pivot back to long format
    // (zero cells kept — the melt is row-local, no shuffle added)
    "q_events_unpivot" -> ((s, dir) =>
      det(graft.operators.Windowed.unpivotCounts(
        graft.operators.Windowed.pivotCounts(events(s, dir),
          "user_id", "event_type",
          Seq("click", "error", "purchase", "signup", "view")),
        "user_id", Seq("click", "error", "purchase", "signup", "view"),
        "event_type", "n_events"))),

    // 5-row moving stats per user in (ts, event_id) order
    "q_events_rolling" -> ((s, dir) =>
      det(graft.operators.Windowed.rollingAgg(events(s, dir),
        "user_id", "ts", "value", nRows = 5, tieBreakCol = "event_id"))),

    // the monster-key scale-out — SECOND execution path on the
    // q_events_rolling oracle text (few buckets so the cross-bucket
    // tail preamble feeds most frames)
    "q_events_rolling_skewed" -> ((s, dir) =>
      det(graft.operators.Windowed.rollingAggSkewed(events(s, dir),
        "user_id", "ts", "value", nRows = 5, tieBreakCol = "event_id",
        numBuckets = 8))),

    // new vs cumulative users per hour (first-seen trick: running
    // DISTINCT without a distinct-state window)
    "q_events_cumulative_users" -> ((s, dir) =>
      det(graft.operators.Windowed.cumulativeNewKeys(events(s, dir),
        "user_id", "ts", unit = "hour"))),

    // 1-day windows hopping every 6 h: each event lands in 4
    // epoch-aligned windows, expanded row-locally before ONE shuffle
    "q_events_sliding" -> ((s, dir) =>
      det(graft.operators.Windowed.slidingWindowAgg(events(s, dir),
        "ts", "event_type", "value", width = "1 day", slide = "6 hours"))),

    "q_events_hourly" -> ((s, dir) =>
      det(graft.operators.Windowed.timeBucketAgg(events(s, dir), "ts", "event_type", "value", "hour"))),

    "q_multimodal_json" -> ((s, dir) => {
      val parsed = Multimodal.parseJson(events(s, dir), "props",
        StructType(Seq(StructField("k", LongType))), "p")
      det(parsed.groupBy("event_type").agg(
        count(lit(1)).as("n_events"),
        sum(col("p.k")).as("sum_k"),
        round(sum(col("value")), 2).as("sum_value")))
    }),

    "q_multimodal_binary" -> ((s, dir) => {
      val withBin = docs(s, dir).withColumn("__bin", encode(col("text"), "UTF-8"))
      val meta = Multimodal.binaryMeta(col("__bin"))
      det(withBin.select(col("doc_id") +: meta.map { case (n, c) => c.as(n) }: _*))
    }),

    // release packaging: shard the corpus by an explicit key, write the
    // JSONL release + manifest, and grade the manifest's (shard,
    // n_rows, n_files) half — byte sizes and md5s are content-level
    // (spec-verified by re-read), but the shard/count structure is
    // exactly DuckDB-expressible
    "q_corpus_release" -> ((s, dir) => {
      val tmp = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_release_q").getAbsolutePath
      val d = docs(s, dir)
        .withColumn("shard", pmod(col("doc_id"), lit(4)).cast("int"))
        .select(col("doc_id"), col("text"), col("shard"))
      val man = graft.sources.TextCorpus.writeRelease(d, tmp,
        partitionCols = Seq("shard"), orderCols = Seq("doc_id"))
      det(man
        .withColumn("shard",
          regexp_extract(col("path"), "shard=(\\d+)", 1).cast(LongType))
        .groupBy(col("shard"))
        .agg(sum(col("n_rows")).as("n_rows"), count(lit(1)).as("n_files")))
    }),

    // codec-free image header parse over planted byte fixtures — the
    // filter-by-resolution surface for multimodal curation. Fixture
    // bytes are hand-assembled headers (hex below); the oracle pins the
    // hand-decoded VALUES. Covers: full PNG/JPEG(marker walk past a
    // COM segment)/GIF/BMP headers, a truncated PNG (format resolves,
    // dims NULL), and an unrecognized payload (NULL row).
    "q_multimodal_dims" -> ((s, dir) => {
      import s.implicits._
      val fixtures = Seq(
        (1L, "89504E470D0A1A0A0000000D4948445200000320" + "00000258"), // png 800x600
        (2L, "FFD8FFFE00046869FFC00011" + "0803000400"),               // jpeg 1024x768
        (3L, "474946383961" + "4001C800"),                             // gif 320x200
        (4L, "424D000000000000000000000000" + "2800000040000000" + "30000000"), // bmp 64x48
        (5L, "89504E470D0A1A0A"),                                      // truncated png
        (6L, "DEADBEEF")                                               // not an image
      ).toDF("img_id", "hex")
      val parsed = Multimodal.withImageMeta(
        fixtures.select(col("img_id"), unhex(col("hex")).as("payload")), "payload")
      det(parsed.select(col("img_id"), col("format"), col("width"), col("height")))
    }),

    // codec-free AUDIO headers: hand-built WAV (8 kHz mono 16-bit,
    // 16 data bytes -> 1 ms) and FLAC (44.1 kHz stereo 16-bit,
    // 44100 samples -> 1000 ms) fixtures, plus truncated/garbage
    "q_multimodal_audio" -> ((s, dir) => {
      import s.implicits._
      val wav = "52494646" + "34000000" + "57415645" + // RIFF/WAVE
        "666D7420" + "10000000" +                      // fmt , 16 bytes
        "0100" + "0100" + "401F0000" + "803E0000" + "0200" + "1000" +
        "64617461" + "10000000" + "00" * 16            // data, 16 bytes
      val flac = "664C6143" + "80000022" +             // fLaC, STREAMINFO(34)
        "1000" + "1000" + "000000" + "000000" +
        "0AC442F0" + "0000AC44" + "00" * 16
      val fixtures = Seq(
        (1L, wav),
        (2L, flac),
        (3L, "52494646" + "00000000" + "57415645"),    // truncated wav
        (4L, "00FFEE")                                 // not audio
      ).toDF("clip_id", "hex")
      val parsed = Multimodal.withAudioMeta(
        fixtures.select(col("clip_id"), unhex(col("hex")).as("payload")), "payload")
      det(parsed.select(col("clip_id"), col("format"), col("sample_rate"),
        col("channels"), col("bits_per_sample"), col("duration_ms")))
    }),

    // REAL image decode (JDK ImageIO) cross-checked against the
    // independent codec-free header parsers — two implementations of
    // (width, height), one pinned oracle. Fixtures are genuine
    // PNG/BMP/GIF containers encoded driver-side with known pixels
    // (lossless + palette-exact colors), so the 8-dim pixel summary is
    // exactly hand-computable; the garbage payload pins the
    // degrade-to-zero contract next to the header parser's NULLs.
    "q_multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      val png = encodeImg("png", 8, 5, (_, _) => 0xFF0000)       // solid red
      val bmp = encodeImg("bmp", 6, 4,                           // black/white
        (_, y) => if (y < 2) 0x000000 else 0xFFFFFF)
      val gif = encodeImg("gif", 3, 7, (_, _) => 0xFFFFFF)       // solid white
      val fixtures = Seq(
        (1L, png), (2L, bmp), (3L, gif),
        (4L, Array(0xDE, 0xAD, 0xBE, 0xEF).map(_.toByte)))       // not an image
        .toDF("img_id", "payload")
      val hdr = Multimodal.withImageMeta(fixtures, "payload")
        .select(col("img_id"), col("format"),
          col("width").as("w_hdr"), col("height").as("h_hdr"))
      val dec = Multimodal.decodeBatch(
        fixtures.select(col("img_id").as("id"), lit("image").as("kind"),
          col("payload").as("bytes")),
        () => new Multimodal.ImageIoDecoder()).toDF()
        .select(col("id").as("img_id"),
          col("width").as("w_dec"), col("height").as("h_dec"),
          col("nFrames").as("n_frames"),
          round(get(col("feature"), lit(0)).cast(DoubleType), 6).as("mean_r"),
          round(get(col("feature"), lit(1)).cast(DoubleType), 6).as("mean_g"),
          round(get(col("feature"), lit(2)).cast(DoubleType), 6).as("mean_b"),
          round(get(col("feature"), lit(3)).cast(DoubleType), 6).as("mean_gray"),
          round(get(col("feature"), lit(4)).cast(DoubleType), 6).as("min_gray"),
          round(get(col("feature"), lit(5)).cast(DoubleType), 6).as("max_gray"))
      det(hdr.join(dec, "img_id"))
    }),

    // ---- chat / SFT conversation operators (graft.operators.Chat) over
    // deterministic conversations derived from documents (chatFrame /
    // the oracle's cv CTE — same construction on both sides)

    // structural validation flags, one boolean per check
    "q_chat_validate" -> ((s, dir) =>
      det(graft.operators.Chat.validateChat(chatFrame(s, dir), "conv")
        .select(col("doc_id"), col("chat_ok"), col("starts_user"),
          col("alternates"), col("ends_assistant"), col("has_empty_turn"),
          col("has_bad_role")))),

    // ChatML-shaped template flattening — the string the tokenizer sees
    "q_chat_render" -> ((s, dir) =>
      det(graft.operators.Chat.renderChat(chatFrame(s, dir), "conv")
        .select(col("doc_id"), col("rendered")))),

    // per-conversation turn/token accounting by role
    "q_chat_stats" -> ((s, dir) =>
      det(graft.operators.Chat.chatStats(chatFrame(s, dir), "conv")
        .select(col("doc_id"), col("n_turns"), col("n_user_turns"),
          col("n_assistant_turns"), col("n_user_tokens"),
          col("n_assistant_tokens"), col("max_turn_tokens")))),

    // loss-mask spans: half-open token ranges per turn, row-local fold
    "q_chat_spans" -> ((s, dir) =>
      det(graft.operators.Chat.chatTokenSpans(chatFrame(s, dir),
        "doc_id", "conv"))),

    // assistant-response dedup: lowest doc_id per normalized answer set
    "q_chat_dedup" -> ((s, dir) =>
      det(graft.operators.Chat.dedupByAssistant(chatFrame(s, dir),
        "doc_id", "conv")
        .select(col("doc_id"), col("n_copies")))),

    // the monster-family row (r17), kept on the SAME oracle text: it
    // grades the one-pass min_by exemplar aggregate, which is
    // dedupByAssistant's one plan
    "q_chat_dedup_skewed" -> ((s, dir) =>
      det(graft.operators.Chat.dedupByAssistant(chatFrame(s, dir),
        "doc_id", "conv")
        .select(col("doc_id"), col("n_copies")))),

    // round-trip: parse(render(conv)) re-graded through the SAME stats
    // oracle as q_chat_stats — one oracle, two construction paths, so
    // parseChat is pinned as renderChat's exact inverse
    "q_chat_roundtrip" -> ((s, dir) => {
      val rendered = graft.operators.Chat.renderChat(chatFrame(s, dir), "conv")
        .select(col("doc_id"), col("rendered"))
      val parsed = graft.operators.Chat.parseChat(rendered, "rendered")
      det(graft.operators.Chat.chatStats(parsed, "conv")
        .select(col("doc_id"), col("n_turns"), col("n_user_turns"),
          col("n_assistant_turns"), col("n_user_tokens"),
          col("n_assistant_tokens"), col("max_turn_tokens")))
    }),

    // turn-level PII redaction inside conversations (mapTurnContent +
    // redactPii), rendered; PII planted like q_redact_pii so the
    // patterns demonstrably fire inside turn content
    "q_chat_redact" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast(StringType),
          lit("@example.com at 10.0."),
          pmod(col("doc_id"), lit(256)).cast(StringType),
          lit(".7 ssn 123-45-6789 tel +14155550133")).as("text"))
      det(graft.operators.Chat.renderChat(
        graft.operators.Chat.mapTurnContent(chatFromDocs(planted), "conv",
          TextFunctions.redactPii),
        "conv").select(col("doc_id"), col("rendered")))
    }),

    // one-plan chat SFT pipeline: validate -> keep chat_ok -> dedup
    // assistant answers -> render for the tokenizer. The chat-family
    // cross-operator pathology smoke test (the q_pipeline_pretrain
    // discipline): four operators, ONE composed plan
    "q_pipeline_chat" -> ((s, dir) => {
      // validity as an INLINE filter: validateChat's fence pins the
      // staged conv, so filter(chat_ok) cannot substitute the conv
      // construction into a pushed predicate — one scan, conv built once
      val ok = graft.operators.Chat.validateChat(chatFrame(s, dir), "conv")
        .filter(col("chat_ok")).drop(graft.operators.Chat.ValidityFlags: _*)
      val deduped = graft.operators.Chat.dedupByAssistant(ok, "doc_id", "conv")
      det(graft.operators.Chat.renderChat(deduped, "conv")
        .select(col("doc_id"), col("rendered"), col("n_copies")))
    }),

    // the YAML-configured twin of q_pipeline_chat: SAME oracle text,
    // two construction paths — the chat config surface cannot drift
    // from the programmatic pipeline
    "q_pipeline_chat_config" -> ((s, dir) => {
      val yaml =
        """chat_curation:
          |  id_col: doc_id
          |  conv_col: conv
          |  stages:
          |    - {op: validate_filter}
          |    - {op: dedup_assistant, keep_copies: true}
          |    - {op: render}
          |""".stripMargin
      det(graft.plans.CurationCompiler.compileChatYaml(yaml, chatFrame(s, dir))
        .select(col("doc_id"), col("rendered"), col("n_copies")))
    }),

    // Heaps-law vocabulary growth at four corpus checkpoints
    "q_text_vocab_growth" -> ((s, dir) =>
      det(graft.operators.TextStats.vocabGrowthCurve(docs(s, dir),
        "doc_id", "text", Seq(10L, 50L, 200L, 500L)))),

    // sequence-length distribution on power-of-two buckets
    "q_text_length_hist" -> ((s, dir) =>
      det(graft.operators.TextStats.lengthHistogram(docs(s, dir), "text"))),

    // exact-duplicate family-size histogram
    "q_dedup_family_sizes" -> ((s, dir) =>
      det(graft.operators.Dedup.duplicateFamilySizes(docs(s, dir), "text"))),

    // sample-fidelity: PSI of a 30% hash sample vs the corpus on two
    // length signals — a correct uniform sample reads ~0
    "q_sample_fidelity" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("n_tokens",
        TextFunctions.tokenCount(col("text")))
      det(graft.operators.TextStats.sampleFidelity(
        d, graft.operators.Sampling.hashSample(d, "doc_id", 0.3),
        Seq("n_chars", "n_tokens")))
    }),

    // n-gram novelty vs a reference slice (doc_id % 7 == 0): the
    // reference's own docs score 0, unseen material scores toward 1
    "q_text_novelty" -> ((s, dir) => {
      val d = docs(s, dir)
      det(graft.operators.TextStats.ngramNovelty(
        d, d.filter(pmod(col("doc_id"), lit(7)) === 0),
        "doc_id", "text", n = 8))
    }),

    // chat dataset DATASHEET: per-language conversation statistics —
    // the publishable SFT-corpus summary card (chatStats collapsed by
    // stratum; assistant share = the loss-carrying token fraction)
    "q_chat_datasheet" -> ((s, dir) => {
      val withLang = chatFromDocs(docs(s, dir))
        .join(docs(s, dir).select(col("doc_id"), col("lang")), "doc_id")
      val stats = graft.operators.Chat.chatStats(withLang, "conv")
      det(stats.groupBy(col("lang")).agg(
        count(lit(1)).as("n_convs"),
        sum(col("n_turns")).as("total_turns"),
        round(avg(col("n_turns")), 6).as("avg_turns"),
        sum(col("n_user_tokens")).as("total_user_tokens"),
        sum(col("n_assistant_tokens")).as("total_assistant_tokens"),
        round(sum(col("n_assistant_tokens")).cast(DoubleType) /
          (sum(col("n_user_tokens")) + sum(col("n_assistant_tokens"))), 6)
          .as("assistant_token_share")))
    }),

    // cross-format image dedup on the decoded-raster aHash: the same
    // picture as PNG, BMP and GIF collapses into one family (byte md5
    // never could); a different picture and an undecodable payload
    // stay singletons. Palette-exact pixels keep GIF lossless.
    "q_multimodal_dedup_phash" -> ((s, dir) => {
      import s.implicits._
      def topBottom(w: Int, h: Int) =
        (_: Int, y: Int) => if (y < h / 2) 0x000000 else 0xFFFFFF
      def leftRight(w: Int, h: Int) =
        (x: Int, _: Int) => if (x < w / 2) 0x000000 else 0xFFFFFF
      val fixtures = Seq(
        (1L, encodeImg("png", 8, 8, topBottom(8, 8))),
        (2L, encodeImg("bmp", 8, 8, topBottom(8, 8))),   // same pixels
        (3L, encodeImg("bmp", 8, 8, leftRight(8, 8))),   // different picture
        (4L, Array(0x00, 0x11, 0x22).map(_.toByte)),     // undecodable
        (5L, encodeImg("gif", 8, 8, topBottom(8, 8))))   // same pixels again
        .toDF("img_id", "payload")
      det(Multimodal.dedupByPerceptualHash(fixtures, "img_id", "payload")
        .select(col("img_id"), col("n_copies")))
    }),

    // duration-budget curation for audio: the token-budget sampler
    // driven by HEADER-derived duration_ms ("keep ~10 ms of wav per
    // format"), deterministic md5-first order; flac has no budget
    // entry and drops entirely
    "q_multimodal_budget" -> ((s, dir) => {
      import s.implicits._
      def wav(dataBytes: Int): String =
        "52494646" + leHex(36L + dataBytes, 4) + "57415645" +
          "666D7420" + "10000000" +
          "0100" + "0100" + "401F0000" + "803E0000" + "0200" + "1000" +
          "64617461" + leHex(dataBytes.toLong, 4) + "00" * dataBytes
      val flac = "664C6143" + "80000022" + "1000" + "1000" + "000000" +
        "000000" + "0AC442F0" + "0000AC44" + "00" * 16
      val fixtures = ((1L to 6L).map(k => (k, wav(16 * k.toInt))) :+
        (7L, flac)).toDF("clip_id", "hex")
      val meta = Multimodal.withAudioMeta(
        fixtures.select(col("clip_id"), unhex(col("hex")).as("payload")),
        "payload").filter(col("format").isNotNull)
      det(graft.operators.Sampling.tokenBudgetSampleBy(meta, "format",
        "clip_id", col("duration_ms"), Map("wav" -> 10L))
        .select(col("clip_id"), col("format"), col("duration_ms")))
    }),

    // codec-free MP4 box walk: dims from the first nonzero tkhd,
    // duration from mvhd, track count; truncated and garbage degrade
    "q_multimodal_video" -> ((s, dir) => {
      import s.implicits._
      val fixtures = Seq(
        (1L, mp4Fixture),
        (2L, mp4Box("ftyp", "69736F6D" + "00000200")), // no moov
        (3L, "00000000"),                               // not a container
        (4L, aviFixture),
        (5L, webmFixture))
        .toDF("vid_id", "hex")
      det(Multimodal.withVideoMeta(
        fixtures.select(col("vid_id"), unhex(col("hex")).as("payload")),
        "payload")
        .select(col("vid_id"), col("format"), col("width"), col("height"),
          col("duration_ms"), col("n_tracks")))
    }),

    // mixed-modality classification: one projection triages image,
    // audio, video and unrecognized payloads with modality-appropriate
    // header fields (the other families' columns NULL)
    "q_multimodal_classify" -> ((s, dir) => {
      import s.implicits._
      val wav = "52494646" + "34000000" + "57415645" +
        "666D7420" + "10000000" +
        "0100" + "0100" + "401F0000" + "803E0000" + "0200" + "1000" +
        "64617461" + "10000000" + "00" * 16
      val fixtures = Seq(
        (1L, "89504E470D0A1A0A0000000D4948445200000320" + "00000258"), // png
        (2L, wav),                                                     // wav
        (3L, "DEADBEEF"),                                              // neither
        (4L, "89504E470D0A1A0A"),                                      // trunc png
        (5L, mp4Fixture))                                              // mp4
        .toDF("media_id", "hex")
      det(Multimodal.withMediaMeta(
        fixtures.select(col("media_id"), unhex(col("hex")).as("payload")),
        "payload")
        .select(col("media_id"), col("modality"), col("format"),
          col("width"), col("height"), col("sample_rate"), col("channels"),
          col("duration_ms"), col("n_tracks"), col("n_bytes")))
    }),

    // near-dup image FAMILY collapse: phash pairs -> connected
    // components -> keep the lowest id per family (the text-side
    // collapseNearDups composed over the image fingerprint)
    "q_multimodal_collapse" -> ((s, dir) => {
      import s.implicits._
      def topBottom(x: Int, y: Int) = if (y < 32) 0x000000 else 0xFFFFFF
      def blockFlip(x: Int, y: Int) =
        if (x < 8 && y < 8) 0xFFFFFF else topBottom(x, y)
      def leftRight(x: Int, y: Int) = if (x < 32) 0x000000 else 0xFFFFFF
      val fixtures = Seq(
        (1L, encodeImg("png", 64, 64, topBottom)),
        (2L, encodeImg("bmp", 64, 64, topBottom)),
        (3L, encodeImg("png", 64, 64, blockFlip)),
        (4L, encodeImg("png", 64, 64, leftRight)),
        (5L, Array(0x01, 0x02).map(_.toByte)))
        .toDF("img_id", "payload")
      val pairs = Multimodal.phashNearDupPairs(fixtures, "img_id", "payload",
        maxHamming = 3)
      det(Dedup.collapseNearDups(fixtures, "img_id", pairs, "doc_a", "doc_b")
        .select(col("img_id")))
    }),

    // audio CONTENT dedup on the PCM envelope fingerprint: the same
    // samples behind different container bytes (a trailing LIST/INFO
    // chunk) collapse — invisible to byte md5; different audio and
    // undecodable payloads stay singletons
    "q_multimodal_audio_dedup" -> ((s, dir) => {
      import s.implicits._
      val hdr = "52494646" + "FFFFFF00" + "57415645" +
        "666D7420" + "10000000" +
        "0100" + "0100" + "401F0000" + "803E0000" + "0200" + "1000" +
        "64617461" + "80000000" // 128 data bytes = 64 16-bit samples
      val quietLoud = "0010" * 32 + "0070" * 32  // LE 0x1000 then 0x7000
      val alternate = "00100070" * 32
      val flac = "664C6143" + "80000022" + "1000" + "1000" + "000000" +
        "000000" + "0AC442F0" + "0000AC44" + "00" * 16
      val fixtures = Seq(
        (1L, hdr + quietLoud),
        (2L, hdr + quietLoud + "4C495354" + "04000000" + "494E464F"),
        (3L, hdr + alternate),
        (4L, flac),
        (5L, "0BAD"))
        .toDF("clip_id", "hex")
      det(Multimodal.dedupByAudioFingerprint(
        fixtures.select(col("clip_id"), unhex(col("hex")).as("payload")),
        "clip_id", "payload")
        .select(col("clip_id"), col("n_copies")))
    }),

    // incremental image dedup against the persisted phash index: the
    // indexed picture's BMP re-encode is a duplicate (cross-format
    // identity), the new picture and the undecodable payload survive
    "q_multimodal_dedup_indexed" -> ((s, dir) => {
      import s.implicits._
      def topBottom(x: Int, y: Int) = if (y < 32) 0x000000 else 0xFFFFFF
      def leftRight(x: Int, y: Int) = if (x < 32) 0x000000 else 0xFFFFFF
      val tmp = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_phash_idx_q").getAbsolutePath
      Multimodal.buildPhashIndex(
        Seq((100L, encodeImg("png", 64, 64, topBottom)))
          .toDF("img_id", "payload"),
        "img_id", "payload", tmp)
      val batch = Seq(
        (1L, encodeImg("bmp", 64, 64, topBottom)),   // re-encode of indexed
        (2L, encodeImg("png", 64, 64, leftRight)),   // genuinely new
        (3L, Array(0x05, 0x06).map(_.toByte)))       // undecodable: kept
        .toDF("img_id", "payload")
      det(Multimodal.phashDedupAgainstIndex(batch, "img_id", "payload", tmp)
        .select(col("img_id")))
    }),

    // perceptual NEAR-dup pairs: a re-encode pairs at distance 0, a
    // single fully-flipped 8x8 block moves EXACTLY one hash bit
    // (grid mean shifts but no other block crosses it), a different
    // composition shares no band and never becomes a candidate
    "q_multimodal_phash_pairs" -> ((s, dir) => {
      import s.implicits._
      def topBottom(x: Int, y: Int) = if (y < 32) 0x000000 else 0xFFFFFF
      def blockFlip(x: Int, y: Int) =
        if (x < 8 && y < 8) 0xFFFFFF else topBottom(x, y)
      def leftRight(x: Int, y: Int) = if (x < 32) 0x000000 else 0xFFFFFF
      val fixtures = Seq(
        (1L, encodeImg("png", 64, 64, topBottom)),
        (2L, encodeImg("bmp", 64, 64, topBottom)),   // re-encode: h 0
        (3L, encodeImg("png", 64, 64, blockFlip)),   // one block: h 1
        (4L, encodeImg("png", 64, 64, leftRight)),   // far: h 32
        (5L, Array(0x01, 0x02).map(_.toByte)))       // undecodable
        .toDF("img_id", "payload")
      det(Multimodal.phashNearDupPairs(fixtures, "img_id", "payload",
        maxHamming = 3))
    }),

    // ---- preference-pair (DPO/RLHF) operators (graft.operators
    // .Preference) over deterministic pairs derived from chat
    // conversations (pairFrame / the oracles' pf+pr CTEs — same
    // construction on both sides)

    // structural validation flags, one boolean per check; odd-length
    // conversations (user-final) and the planted rejected==chosen
    // docs exercise the false branches
    "q_pref_validate" -> ((s, dir) =>
      det(graft.operators.Preference.validatePairs(pairFrame(s, dir),
        "prompt", "chosen", "rejected")
        .select(col("doc_id"), col("has_prompt"), col("prompt_starts_user"),
          col("prompt_ends_user"), col("nonempty_chosen"),
          col("nonempty_rejected"), col("distinct_pair"), col("pair_ok")))),

    // conversation-form pairs: shared-prefix + distinct-final checks
    // over hand-planted two-sided transcripts (oracle pins VALUES)
    "q_pref_validate_convs" -> ((s, dir) => {
      val convType = ArrayType(StructType(Seq(
        StructField("role", StringType), StructField("content", StringType))))
      val schema = StructType(Seq(StructField("pair_id", LongType),
        StructField("chosen_conv", convType),
        StructField("rejected_conv", convType)))
      def t(r: String, c: String) = Row(r, c)
      val rows = Seq(
        // proper pair: shared prefix, different finals
        Row(1L, Seq(t("user", "q1"), t("assistant", "good answer")),
          Seq(t("user", "q1"), t("assistant", "bad answer"))),
        // tampered prompt turn -> shares_prefix false
        Row(2L, Seq(t("user", "q2"), t("assistant", "a")),
          Seq(t("user", "q2 edited"), t("assistant", "b"))),
        // identical finals (modulo case/whitespace) -> distinct false
        Row(3L, Seq(t("user", "q3"), t("assistant", "Same  Text")),
          Seq(t("user", "q3"), t("assistant", "same text"))),
        // different lengths -> shares_prefix false
        Row(4L, Seq(t("user", "q4"), t("assistant", "a")),
          Seq(t("system", "s"), t("user", "q4"), t("assistant", "b"))),
        // single-turn sides share the EMPTY prefix
        Row(5L, Seq(t("assistant", "yes")), Seq(t("assistant", "no"))),
        // one side empty -> both checks false
        Row(6L, Seq(t("user", "q6"), t("assistant", "a")), Seq.empty[Row]))
      val df = s.createDataFrame(s.sparkContext.parallelize(rows), schema)
      det(graft.operators.Preference.validatePairConvs(df,
        "chosen_conv", "rejected_conv")
        .select(col("pair_id"), col("shares_prefix"), col("distinct_final"),
          col("pair_conv_ok")))
    }),

    // (prompt, chosen)-fingerprint dedup: lowest doc_id per family.
    // Every 10th pair is planted again under id+10000 ("same prompt,
    // same winner sampled twice") so the collapse path is actually
    // exercised, not just the singleton identity
    "q_pref_dedup" -> ((s, dir) => {
      val base = validPairFrame(s, dir)
      val resampled = base.filter(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("doc_id", col("doc_id") + 10000)
      det(graft.operators.Preference.dedupPairs(base.unionAll(resampled),
        "doc_id", "prompt", "chosen")
        .select(col("doc_id"), col("n_copies")))
    }),

    // the monster-family row (r17), kept on the SAME oracle text: it
    // grades the one-pass min_by exemplar aggregate, which is
    // dedupPairs' one plan
    "q_pref_dedup_skewed" -> ((s, dir) => {
      val base = validPairFrame(s, dir)
      val resampled = base.filter(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("doc_id", col("doc_id") + 10000)
      det(graft.operators.Preference.dedupPairs(base.unionAll(resampled),
        "doc_id", "prompt", "chosen")
        .select(col("doc_id"), col("n_copies")))
    }),

    // per-pair token accounting + context-fit flags (maxLen 20 sits
    // inside the corpus length distribution so both fit branches fire)
    "q_pref_stats" -> ((s, dir) =>
      det(graft.operators.Preference.pairStats(pairFrame(s, dir),
        "prompt", "chosen", "rejected", maxLen = 20)
        .select(col("doc_id"), col("n_prompt_tokens"), col("n_chosen_tokens"),
          col("n_rejected_tokens"), col("fits_chosen"), col("fits_rejected"),
          col("fits_pair"), col("len_ratio")))),

    // best-of-N construction: 3 deterministic scored responses per
    // prompt (k0 and k2 tie by construction mod 13, k1 = k0+3 mod 13,
    // so wrap-around flips which side wins — both tie-break paths and
    // both orderings exercised); duplicate docs merge into one family
    "q_pref_pairs_from_scored" -> ((s, dir) =>
      det(graft.operators.Preference.pairsFromScored(scoredRespFrame(s, dir),
        "resp_id", "prompt", "resp", "score")
        .select(col("pair_id"), col("chosen"), col("rejected"),
          col("chosen_score"), col("rejected_score"), col("n_candidates")))),

    // composition row: reward-margin distribution of the constructed
    // pairs through the quantile sketch (exact regime) — the DPO
    // dataset-health card ("how much preference signal is there")
    "q_pref_margin_quantiles" -> ((s, dir) => {
      val pairs = graft.operators.Preference.pairsFromScored(
        scoredRespFrame(s, dir), "resp_id", "prompt", "resp", "score")
      det(pairs.agg(count(lit(1)).as("n_pairs"),
        graft.functions.QuantileSketch.quantiles(
          col("chosen_score") - col("rejected_score"), 1 << 17,
          Seq(0.0, 0.5, 1.0)).as("__q"))
        .select(col("n_pairs"), col("__q")(0).as("margin_min"),
          col("__q")(1).as("margin_p50"), col("__q")(2).as("margin_max")))
    }),

    // prompt-level leak-safe split: same prompt -> same slice, pure
    // function of the normalized prompt key (hashUniform replayed in
    // the oracle via md5)
    "q_pref_split" -> ((s, dir) =>
      det(graft.operators.Preference.splitPairsLeakSafe(
        validPairFrame(s, dir), "prompt",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split")))),

    // conversation-level decontamination: drop every conversation
    // whose content stream shares a 13-gram with the eval slice
    // (doc_id % 97 — the decontamination family's convention)
    "q_chat_decontaminate" -> ((s, dir) => {
      val ev = docs(s, dir).filter(pmod(col("doc_id"), lit(97)) === 0)
      det(graft.operators.Chat.decontaminateChat(chatFrame(s, dir),
        "doc_id", "conv", ev, "doc_id", "text", n = 13)
        .select(col("doc_id"), size(col("conv")).cast(LongType).as("n_turns")))
    }),

    // surgical per-turn scrub: cut eval-overlapping 4-token windows
    // INSIDE turns (4 fits the 6-token turn construction; 13 never
    // would), keep roles/order; graded per turn
    "q_chat_scrub" -> ((s, dir) => {
      val ev = docs(s, dir).filter(pmod(col("doc_id"), lit(97)) === 0)
      val scr = graft.operators.Chat.scrubChatTurns(chatFrame(s, dir),
        "doc_id", "conv", ev, "doc_id", "text", n = 4)
      det(scr.select(col("doc_id"),
          posexplode(col("conv")).as(Seq("turn_idx", "t")))
        .select(col("doc_id"), col("turn_idx").cast(LongType).as("turn_idx"),
          col("t").getField("role").as("role"),
          col("t").getField("content").as("content")))
    }),

    // mergeable quantile sketch (native TypedImperativeAggregate),
    // graded in its EXACT regime: capacity >= any per-lang group, so
    // the rank-definition quantiles are provably exact (the k >= vocab
    // contract of the top-k sketch rows). Probabilities are
    // binary-exact so ceil(p*n) is engine-identical.
    "q_text_length_quantiles" -> ((s, dir) => {
      val probs = Seq(0.0, 0.25, 0.5, 0.75, 0.875, 1.0)
      val d = docs(s, dir).select(col("lang"),
        TextFunctions.tokenCount(col("text")).cast(DoubleType).as("__n"))
      val agged = d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          graft.functions.QuantileSketch.quantiles(col("__n"), 1 << 17, probs)
            .as("__q"))
      det(agged.select(col("lang"), col("n_docs"),
        col("__q")(0).as("q_min"), col("__q")(1).as("q25"),
        col("__q")(2).as("q50"), col("__q")(3).as("q75"),
        col("__q")(4).as("q875"), col("__q")(5).as("q_max")))
    }),

    // exact token-boundary phrase search (overlap-counting), zero-shuffle
    "q_text_phrase" -> ((s, dir) =>
      det(graft.operators.TextStats.phraseSearch(docs(s, dir),
        "doc_id", "text", "fast merge"))),

    // multi-phrase search: one scan, broadcast phrase table, counts
    // only for matched (doc, phrase) pairs; mixed phrase lengths
    "q_text_phrase_many" -> ((s, dir) =>
      det(graft.operators.TextStats.phraseSearchMany(docs(s, dir),
        "doc_id", "text",
        Seq("fast merge", "hash join", "the line sort")))),

    // within-doc duplicate-line removal over multi-line docs built
    // from 2-word chunks (construction mirrored in the oracle)
    "q_clean_dedup_lines" -> ((s, dir) => {
      val toks = col("__toks") // staged: no CSE inside the chunk lambda
      val ml = docs(s, dir)
        .withColumn("__toks", TextFunctions.whitespaceTokens(col("text")))
        .select(col("doc_id"),
        when(size(toks) > 0, array_join(
          transform(
            sequence(lit(0), ceil(size(toks) / lit(2.0)).cast(IntegerType) - 1),
            i => array_join(slice(toks, i * lit(2) + 1, lit(2)), " ")), "\n"))
          .otherwise(lit("")).as("text"))
      det(graft.operators.CorpusClean.dedupLinesWithinDoc(ml, "text")
        .select(col("doc_id"), col("text"), col("n_lines"),
          col("n_dup_lines_removed")))
    }),

    // Misra-Gries heavy hitters: sketchK=64 >= the corpus vocabulary
    // (31), so the sketch is provably exact and the DuckDB exact top-10
    // grades it; the approximate regime is pinned by q_gate_topk_sketch
    "q_text_topk_sketch" -> ((s, dir) =>
      det(graft.operators.TextStats.approxTopTokens(docs(s, dir), "text",
        sketchK = 64, topM = 10))),

    // cardinality sketch, EXACT in the sparse regime (capacity >=
    // per-lang vocab): per-lang distinct tokens — the third classic
    // mergeable summary after top-k and quantiles
    "q_text_distinct_by_lang" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("lang"),
        explode(TextFunctions.whitespaceTokens(col("text"))).as("tok"))
      det(toks.groupBy(col("lang"))
        .agg(graft.functions.CardinalitySketch.sketch(col("tok")).as("__sk"))
        .select(col("lang"),
          graft.functions.CardinalitySketch.estimate(col("__sk"))
            .as("n_distinct_tokens"),
          graft.functions.CardinalitySketch.isExact(col("__sk"))
            .as("exact")))
    }),

    // incremental cardinality: one sketch PER SOURCE, then a second
    // aggregate merges the sketch BYTES — the whole-corpus distinct
    // count without re-touching the data (sparse union stays exact)
    "q_text_distinct_incremental" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("source"),
        explode(TextFunctions.whitespaceTokens(col("text"))).as("tok"))
      val perSource = toks.groupBy(col("source"))
        .agg(graft.functions.CardinalitySketch.sketch(col("tok")).as("__sk"))
      det(perSource
        .agg(count(lit(1)).as("n_sources"),
          graft.functions.CardinalitySketch.merge(col("__sk")).as("__m"))
        .select(col("n_sources"),
          graft.functions.CardinalitySketch.estimate(col("__m"))
            .as("n_distinct_tokens"),
          graft.functions.CardinalitySketch.isExact(col("__m"))
            .as("exact")))
    }),

    // lexical diversity card per lang: TTR + unigram Shannon entropy
    // (closed form, no probability pass) + perplexity
    "q_text_diversity" -> ((s, dir) =>
      det(graft.operators.TextStats.diversityCard(docs(s, dir), "text",
        Seq("lang")))),

    // star-schema revenue ROLLUP: the full dimension chain
    // (lineitem -> orders -> customer -> nation -> region) with the
    // three dims broadcast (stats-driven, no hints needed) and ONE
    // fact-fact equi-join; subtotals per region and grand total
    "q_star_revenue" -> ((s, dir) => {
      def t(n: String) = source(s, dir, n)
      val enriched = t("lineitem")
        .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t("customer"), col("o_custkey") === col("c_custkey"))
        .join(t("nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t("region"), col("n_regionkey") === col("r_regionkey"))
      det(enriched.rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue")))
    }),

    // z-order (Morton) interleave for layout clustering, graded on
    // the raw bit math over lineitem's two key columns (low 16 bits
    // each; the writer path is spec-gated on per-file range tightness)
    "q_layout_zorder" -> ((s, dir) =>
      det(source(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"),
          graft.functions.ZOrder.interleave(
            Seq(col("l_orderkey"), col("l_partkey")), 16).as("z")))),

    // frequency sketch bounds, graded: the top-20 tokens' CMS
    // estimates sit in [true, true + eps*N] — deterministic for the
    // fixed seed, so the boolean column is stable, and the exact
    // counts ride along for the oracle
    "q_text_freq_bounds" -> ((s, dir) => {
      val toks = docs(s, dir).select(
        explode(TextFunctions.whitespaceTokens(col("text"))).as("tok"))
      val sk = toks.agg(
        graft.functions.FrequencySketch.sketch(col("tok")).as("__sk"),
        count(lit(1)).as("__n"))
      val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_true"))
        .orderBy(col("n_true").desc, col("tok").asc).limit(20)
      det(top.crossJoin(broadcast(sk)).select(col("tok"), col("n_true"),
        graft.functions.FrequencySketch.estimate(col("__sk"), col("tok"))
          .between(col("n_true"),
            col("n_true") + ceil(col("__n") * lit(1e-3)))
          .as("within_bounds")))
    }),

    // DENSE-regime accuracy gate: doc_id cardinality forced past the
    // sparse capacity (p=12 registers), estimate within 5% of truth
    "q_gate_hll" -> ((s, dir) =>
      det(docs(s, dir).agg(
        countDistinct(col("doc_id")).as("__truth"),
        graft.functions.CardinalitySketch.distinctCount(col("doc_id"),
          p = 12, sparseCap = 64).as("__est"))
        .select((abs(col("__est") - col("__truth")) <=
          col("__truth") * 0.05).cast("int").as("ok")))),

    // embedding geometry card: norm stats + anisotropy, one row
    "q_emb_geometry" -> ((s, dir) =>
      det(graft.operators.Similarity.embeddingGeometryCard(
        emb(s, dir), "embedding"))),

    // n-gram sketch, exact at k=2048 >= ~930 distinct bigrams: top-10
    "q_text_topk_ngrams" -> ((s, dir) =>
      det(graft.operators.TextStats.approxTopNgrams(docs(s, dir), "text",
        n = 2, sketchK = 2048, topM = 10))),

    // per-language sketch, exact at k=64 >= vocab: top-5 tokens per lang
    "q_text_topk_by_lang" -> ((s, dir) =>
      det(graft.operators.TextStats.approxTopTokensBy(docs(s, dir), "text",
        Seq("lang"), sketchK = 64, topM = 5))),

    // guarantee gate for the APPROXIMATE regime (k=8 < 31 distinct):
    // every token with true count > n/(k+1) must appear in the sketch,
    // and every sketch count must sit within [true - n/(k+1), true]
    "q_gate_topk_sketch" -> ((s, dir) => {
      import s.implicits._
      val exact = graft.operators.TextStats.vocabulary(docs(s, dir), "text")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = exact.values.sum
      val k = 8
      val err = n / (k + 1)
      val sk = graft.operators.TextStats.approxTopTokens(docs(s, dir), "text",
        sketchK = k, topM = k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val mustHave = exact.filter(_._2 > err).keySet
      val ok = mustHave.subsetOf(sk.keySet) &&
        sk.forall { case (t, c) => c <= exact(t) && c >= exact(t) - err }
      det(Seq(if (ok) 1 else 0).toDF("ok"))
    }),

    // WFQ weighted interleave: en:de:fr = 4:2:1, unlisted langs drop;
    // every prefix of the (interleave_key, lang, doc_id) order holds
    // the strata in ~4:2:1 proportion
    "q_sample_interleave" -> ((s, dir) =>
      det(graft.operators.Sampling.interleaveByMixture(docs(s, dir),
        "lang", "doc_id", Map("en" -> 4.0, "de" -> 2.0, "fr" -> 1.0),
        seed = 42L, shards = 8)
        .select(col("doc_id"), col("lang"), col("stratum_rank"),
          col("interleave_key")))),
  )

  // ------------------------------------------------------------- oracle SQL

  private val N1 = "NULLS FIRST"

  /** Shared by q_events_sessionize and q_events_sessionize_native
    * (one oracle, two execution paths). */
  private lazy val SessionizeOracle: String =
    s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
       |l AS (SELECT user_id, ts, event_id,
       |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e),
       |f AS (SELECT user_id, ts, event_id,
       |   CASE WHEN prev IS NULL OR extract(epoch FROM ts) - extract(epoch FROM prev) > 7200
       |        THEN 1 ELSE 0 END AS nw FROM l),
       |s AS (SELECT user_id, ts,
       |   sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid FROM f)
       |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       |       count(*) AS n_events
       |FROM s GROUP BY user_id, sid
       |ORDER BY user_id $N1, session_start $N1, session_end $N1, n_events $N1""".stripMargin

  /** Shared by q_events_twa and q_events_twa_skewed (one oracle, two
    * execution paths — the per-key window plan and the bucketed
    * boundary-carry scale-out). */
  private lazy val TwaOracle: String =
    s"""WITH l AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
       |   event_id
       |  FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |    AND value IS NOT NULL),
       |d AS (SELECT user_id, value,
       |   epoch(lead(ts) OVER (PARTITION BY user_id
       |     ORDER BY ts, event_id)) - epoch(ts) AS dur
       |  FROM l)
       |SELECT user_id, round(sum(value * dur) / sum(dur), 6) AS twa,
       |  round(sum(dur), 6) AS span_sec,
       |  CAST(count(*) AS BIGINT) AS n_points
       |FROM d GROUP BY user_id
       |ORDER BY user_id $N1, twa $N1, span_sec $N1, n_points $N1""".stripMargin

  /** Shared by q_events_asof and q_events_asof_broadcast (one oracle,
    * two execution paths). */
  private lazy val AsofBackwardOracle: String =
    s"""WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
       |  FROM events WHERE event_type = 'click'),
       |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
       |   arg_max(value, event_id) AS view_value
       |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
       |SELECT c.event_id, c.user_id, c.ts, v.ts AS asof_ts, v.view_value
       |FROM c ASOF LEFT JOIN v
       |  ON c.user_id = v.user_id AND c.ts >= v.ts
       |ORDER BY event_id $N1, c.user_id $N1, c.ts $N1, asof_ts $N1,
       |  view_value $N1""".stripMargin
  /** Shared by q_events_rolling and q_events_rolling_skewed (one
    * oracle, two execution paths: per-key row frame vs (key, bucket)
    * slices with the tail preamble). */
  private lazy val RollingOracle: String =
    s"""SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
       |  round(avg(value) OVER w, 6) AS roll_avg,
       |  min(value) OVER w AS roll_min,
       |  max(value) OVER w AS roll_max,
       |  CAST(count(value) OVER w AS BIGINT) AS roll_n
       |FROM events
       |WINDOW w AS (PARTITION BY user_id
       |  ORDER BY CAST(ts AS TIMESTAMP), event_id
       |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
       |ORDER BY user_id $N1, ts $N1, event_id $N1, value $N1,
       |  roll_avg $N1, roll_min $N1, roll_max $N1, roll_n $N1""".stripMargin

  /** Shared by q_events_resample and q_events_resample_skewed (one
    * oracle, two execution paths: plain union-window as-of vs the
    * bucketed boundary-carry as-of). */
  private lazy val ResampleOracle: String =
    s"""WITH v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
       |   arg_max(value, event_id) AS view_value
       |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
       |b AS (SELECT user_id, date_trunc('day', min(ts)) AS lo,
       |   date_trunc('day', max(ts)) AS hi
       |  FROM v GROUP BY user_id),
       |g AS (SELECT user_id,
       |   unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS grid_ts
       |  FROM b)
       |SELECT g.user_id, g.grid_ts, v.ts AS asof_ts, v.view_value
       |FROM g ASOF LEFT JOIN v
       |  ON g.user_id = v.user_id AND g.grid_ts >= v.ts
       |ORDER BY g.user_id $N1, grid_ts $N1, asof_ts $N1, view_value $N1""".stripMargin

  /** Shared by q_events_scd2 and q_events_scd2_skewed (one oracle, two
    * execution paths: per-key lag/lead plan vs (key, bucket) slices
    * with the carry-fed change filter). */
  private lazy val Scd2Oracle: String =
    s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
       |   arg_max(event_type, event_id) AS v
       |  FROM events GROUP BY 1, 2),
       |c AS (SELECT user_id, ts, v,
       |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts,
       |   lag(v) OVER (PARTITION BY user_id ORDER BY ts) AS pv
       |  FROM e),
       |k AS (SELECT user_id, ts AS valid_from, v FROM c
       |  WHERE pts IS NULL OR v IS DISTINCT FROM pv)
       |SELECT user_id, valid_from,
       |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
       |    AS valid_to,
       |  v AS event_type,
       |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY valid_from)
       |    AS BIGINT) AS version
       |FROM k
       |ORDER BY user_id $N1, valid_from $N1, valid_to $N1, event_type $N1,
       |  version $N1""".stripMargin

  /** Shared by q_pipeline_events and q_pipeline_events_skew_config
    * (one oracle, two execution paths: plain composition vs the
    * YAML-configured skew-hardened composition). */
  private lazy val PipelineEventsOracle: String =
        s"""WITH v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
           |   arg_max(value, event_id) AS view_value
           |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
           |p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           |  FROM events WHERE event_type = 'purchase'),
           |m AS (SELECT p.event_id, p.user_id, p.ts, v.view_value
           |  FROM p ASOF LEFT JOIN v
           |    ON p.user_id = v.user_id AND p.ts >= v.ts),
           |e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
           |  FROM events),
           |l AS (SELECT user_id, ts, event_id,
           |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           |  FROM e),
           |f AS (SELECT user_id, ts, event_id,
           |   CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 7200
           |        THEN 1 ELSE 0 END AS nw FROM l),
           |s AS (SELECT user_id, ts,
           |   sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
           |  FROM f),
           |iv AS (SELECT user_id, min(ts) AS session_start,
           |   max(ts) AS session_end FROM s GROUP BY user_id, sid),
           |j AS (SELECT m.user_id, m.view_value, iv.session_start
           |  FROM m JOIN iv ON m.user_id = iv.user_id
           |    AND m.ts BETWEEN iv.session_start AND iv.session_end)
           |SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
           |  CAST(count(view_value) AS BIGINT) AS n_attributed,
           |  round(sum(view_value), 2) AS sum_attributed_value,
           |  CAST(count(DISTINCT session_start) AS BIGINT)
           |    AS n_purchase_sessions
           |FROM j GROUP BY user_id
           |ORDER BY user_id $N1, n_purchases $N1, n_attributed $N1,
           |  sum_attributed_value $N1, n_purchase_sessions $N1""".stripMargin

  /** Planted encoding-damage suffix for q_text_mojibake — one hit per
    * artifact family (Ã-pair, â€ punctuation, BOM-as-text); the oracle
    * embeds this same constant so the two sides cannot drift. */
  private val MojibakeSuffix =
    " cafÃ© donâ€™t ï»¿x"
  /** Fixed 64-dim weights + bias for q_emb_score — the oracle's literal
    * array is GENERATED from this same Seq. */
  private val EmbScoreWeights: Seq[Double] =
    (0 until 64).map(j => ((j % 7) - 3) / 10.0)
  private val EmbScoreBias = 0.1
  /** Fixed merge list behind q_text_bpe_encode — common English merges;
    * the oracle's replace chain is GENERATED from this same list so the
    * two sides cannot drift. */
  private val BpeFixtureMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"))
  /** Fixed BYTE-level merge list (uppercase-hex UTF-8 byte symbols)
    * behind q_text_bpe_bytes_encode / q_text_fertility_bytes: th, the,
    * ␠the, in, an, and, er, on — the space byte (20) merging into a
    * word is exactly what separates byte-level from word-internal BPE.
    * The oracle's replace chain is GENERATED from this same list. */
  private val ByteBpeFixtureMerges: Seq[(String, String)] = Seq(
    ("74", "68"), ("7468", "65"), ("20", "746865"), ("69", "6E"),
    ("61", "6E"), ("616E", "64"), ("65", "72"), ("6F", "6E"))
  /** 10,000-entry merge table for the kernel perf row
    * (q_text_bpe_kernel_10k): every merge the corpus supports
    * (trained head — the synthetic testdata vocabulary is 61 distinct
    * pre-tokens, so that is ~127 organic merges) plus a GENERATED
    * well-formed tail of high-byte base pairs to exactly 10k. Tail
    * entries are well-formed (operands are base bytes), deterministic,
    * and mostly non-firing on ASCII text — which is exactly how the
    * bulk of a real GPT-2 vocabulary behaves for any one token; what
    * the row prices is the kernel's per-token loop against a
    * production-size rank table. Cached per sfDir: bench repeats ≥2
    * time ENCODE only (min-of-N sheds the first repeat's training). */
  private val kernelMergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
  private def kernelMerges10k(s: SparkSession,
                              dir: String): Seq[(String, String)] =
    kernelMergeCache.computeIfAbsent(dir, _ => {
      val trained = graft.operators.TextStats.trainBpeBytesLocal(
        graft.operators.TextStats.bytePretokenCounts(docs(s, dir), "text"),
        numMerges = 10000).map(m => (m._1, m._2))
      val have = trained.map { case (l, r) => l + r }.toSet
      val hb = (0x80 to 0xFF).map(b => f"$b%02X")
      val tail = (for (a <- hb; b <- hb) yield (a, b))
        .filter { case (a, b) => !have.contains(a + b) }
      (trained ++ tail).take(10000)
    })

  /** 50,000-entry PRODUCTION-VOCAB merge table (q_text_bpe_kernel_50k):
    * the trained head (trainBpeBytesLocal over bytePretokenCounts —
    * every merge the corpus supports) plus a generated well-formed tail
    * over ALL 256×256 base-byte pairs to exactly 50k — a GPT-2-class
    * table size. Unlike the 10k row's high-byte tail, ASCII×ASCII tail
    * pairs DO fire on real text, so the row exercises deep greedy loops
    * under a full-size rank table, not just table lookup misses. The
    * list is round-tripped through [[graft.sources.ModelStore]]
    * (save → load, order-identical required) before use — the graded
    * row prices the exact artifact a production config would load. */
  private val kernelMergeCache50k =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
  private val kernelStore50k =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def kernelMerges50k(s: SparkSession,
                              dir: String): Seq[(String, String)] =
    kernelMergeCache50k.computeIfAbsent(dir, _ => {
      val trained = graft.operators.TextStats.trainBpeBytesLocal(
        graft.operators.TextStats.bytePretokenCounts(docs(s, dir), "text"),
        numMerges = 50000)
      val have = trained.map { case (l, r, _) => l + r }.toSet
      val ab = (0 until 256).map(b => f"$b%02X")
      val tail = (for (a <- ab; b <- ab) yield (a, b))
        .filter { case (a, b) => !have.contains(a + b) }
        .map { case (a, b) => (a, b, 0L) }
      val full = (trained ++ tail).take(50000)
      val store = cachedTmpArtifact(kernelStore50k, "graft_bpe_50k", dir) {
        path => graft.sources.ModelStore.saveMerges(s, full, path)
      }
      val loaded = graft.sources.ModelStore.loadMerges(s, store)
      require(loaded == full,
        "ModelStore round-trip changed the 50k merge list")
      loaded.map(m => (m._1, m._2))
    })

  /** DuckDB replay of the NATIVE greedy-by-rank byte-BPE kernel
    * ([[graft.functions.ByteBpeEncode]]) under an arbitrary merge
    * list — the oracle generator that graduated q_text_bpe_kernel_10k
    * from rows-only (SURVEY §7.5 #11: a 10k-deep literal-replace chain
    * exceeds DuckDB's expression depth; greedy-by-rank replay does NOT
    * chain — it is a recursive CTE, one lowest-rank merge per step).
    *
    * Replay semantics: the kernel merges ALL left-to-right
    * non-overlapping occurrences of the lowest-rank adjacent pair per
    * scan; this CTE merges ONE occurrence per step — the leftmost of
    * the lowest-rank pair. For WELL-FORMED lists (every operand a base
    * byte or an earlier merge's result — what our trainers produce and
    * the generated tails satisfy) the two are identical: a merge can
    * only create adjacencies involving its result symbol, whose
    * consuming merges all have strictly later rank, so after merging
    * the leftmost occurrence the same pair stays strictly best until
    * exhausted, and its occurrences are consumed left-to-right — the
    * scan order exactly (overlap runs included: "xxx" merges at 1 then
    * stops in both). The pair-rank table rides as a VALUES relation →
    * MAP; the recursion runs over DISTINCT pre-tokens (the token-cache
    * argument: Zipf makes that tiny relative to the corpus) and joins
    * back per-document. Unresolvable merges (operand no earlier merge
    * produces) are dropped exactly as the kernel's compiler drops them.
    * Multipliers: pair key l·2^20+r (ids < 256+50k < 2^20), candidate
    * key rank·2^40+pos (pre-tokens < 2^40 bytes) — all BIGINT-exact. */
  /** `shape`: "count" (per-doc pretoken/subword counts), "ids"
    * (posexploded per-doc token ids), or "packed" (r18 — the ids plus
    * one EOS per doc at 256+|merges|, per-shard offsets and the
    * 1024-id chop: the q_pipeline_pack_ids_50k_config replay — the
    * REAL pretraining artifact under the production-size vocabulary). */
  private def byteBpeKernelReplaySqlShaped(merges: Seq[(String, String)],
                                           shape: String): Option[String] = {
    // resolve operands in merge order, the Model's id space: byte b →
    // b, merge rank k → 256+k, duplicate pieces impossible (trainers
    // skip them; the kernel's require rejects them loudly anyway)
    val hexToId = new java.util.HashMap[String, Int]()
    (0 until 256).foreach(b => hexToId.put(f"$b%02X", b))
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    merges.zipWithIndex.foreach { case ((l, r), k) =>
      val resolvable = hexToId.containsKey(l) && hexToId.containsKey(r)
      if (resolvable) pairs += ((k, hexToId.get(l), hexToId.get(r)))
      hexToId.put(l + r, 256 + k)
    }
    if (pairs.isEmpty) return None
    val vals = pairs.map { case (k, l, r) => s"($k,$l,$r)" }.mkString(",")
    val shared =
      s"""WITH RECURSIVE
         |m(rnk, l, r) AS (VALUES $vals),
         |mm AS (SELECT map(list(CAST(l AS BIGINT)*1048576+r),
         |                  list(CAST(rnk AS BIGINT))) AS pm FROM m),
         |toks AS (SELECT DISTINCT unnest(regexp_extract_all(text,
         |    '$BytePretokenSql')) AS tok FROM documents
         |  WHERE text IS NOT NULL),
         |init AS (SELECT tok,
         |  [ CAST((strpos('0123456789ABCDEF', h[2*i-1])-1)*16
         |      + strpos('0123456789ABCDEF', h[2*i])-1 AS BIGINT)
         |    for i in generate_series(1, length(h)//2) ] AS ids
         |  FROM (SELECT tok, hex(encode(tok)) AS h FROM toks)),
         |enc AS (
         |  SELECT tok, ids FROM init
         |  UNION ALL
         |  SELECT tok,
         |    list_concat(list_concat(
         |        ids[1:CAST(best%1099511627776 AS INT)-1],
         |        [256+(best//1099511627776)]),
         |      ids[CAST(best%1099511627776 AS INT)+2:len(ids)]) AS ids
         |  FROM (
         |    SELECT tok, ids,
         |      list_min([ pm[ids[i]*1048576+ids[i+1]][1]*1099511627776 + i
         |                 for i in generate_series(1, len(ids)-1)
         |                 if len(pm[ids[i]*1048576+ids[i+1]]) > 0 ]) AS best
         |    FROM enc, mm) WHERE best IS NOT NULL),
         |fin AS (
         |  SELECT e.tok, e.ids
         |  FROM enc e, mm
         |  WHERE len([ i for i in generate_series(1, len(e.ids)-1)
         |              if len(pm[e.ids[i]*1048576+e.ids[i+1]]) > 0 ]) = 0)""".stripMargin
    val tail =
      if (shape == "ids")
        s"""dt AS (SELECT doc_id, generate_subscripts(ts, 1) AS ti,
           |    unnest(ts) AS tok
           |  FROM (SELECT doc_id, regexp_extract_all(text,
           |      '$BytePretokenSql') AS ts FROM documents)),
           |ex AS (SELECT dt.doc_id, dt.ti,
           |    generate_subscripts(f.ids, 1) AS si, unnest(f.ids) AS token_id
           |  FROM dt JOIN fin f USING (tok))
           |SELECT doc_id,
           |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ti, si)
           |    - 1 AS BIGINT) AS pos,
           |  token_id
           |FROM ex
           |ORDER BY doc_id $N1, pos $N1, token_id $N1""".stripMargin
      else if (shape == "packed") {
        val eos = 256 + merges.size
        s"""dt AS (SELECT doc_id, generate_subscripts(ts, 1) AS ti,
           |    unnest(ts) AS tok
           |  FROM (SELECT doc_id, regexp_extract_all(text,
           |      '$BytePretokenSql') AS ts FROM documents
           |    WHERE text IS NOT NULL)),
           |ex AS (SELECT dt.doc_id, dt.ti,
           |    generate_subscripts(f.ids, 1) AS si, unnest(f.ids) AS token_id
           |  FROM dt JOIN fin f USING (tok)),
           |ids0 AS (SELECT doc_id,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY ti, si) - 1
           |      AS p,
           |    token_id FROM ex),
           |cnt AS (SELECT d.doc_id, COALESCE(c.nn, 0) + 1 AS n
           |  FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
           |  LEFT JOIN (SELECT doc_id, count(*) AS nn FROM ids0
           |             GROUP BY doc_id) c USING (doc_id)),
           |o AS (SELECT doc_id, doc_id % 8 AS shard, n,
           |    COALESCE(SUM(n) OVER (PARTITION BY doc_id % 8
           |      ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |      0) AS toff
           |  FROM cnt),
           |tokstream AS (
           |  SELECT o.shard, o.toff + i.p AS gpos, i.token_id
           |  FROM o JOIN ids0 i USING (doc_id)
           |  UNION ALL
           |  SELECT shard, toff + n - 1 AS gpos, CAST($eos AS BIGINT)
           |  FROM o)
           |SELECT CAST(shard AS BIGINT) AS shard,
           |  CAST(gpos // 1024 AS BIGINT) AS seq_id,
           |  CAST(gpos % 1024 AS BIGINT) AS pos, token_id
           |FROM tokstream
           |ORDER BY shard $N1, seq_id $N1, pos $N1, token_id $N1""".stripMargin
      } else
        s"""dt AS (SELECT doc_id, unnest(regexp_extract_all(text,
           |    '$BytePretokenSql')) AS tok FROM documents),
           |agg AS (SELECT dt.doc_id, sum(len(f.ids)) AS ns
           |  FROM dt JOIN fin f USING (tok) GROUP BY dt.doc_id)
           |SELECT d.doc_id,
           |  CASE WHEN d.text IS NULL THEN NULL
           |    ELSE CAST(len(regexp_extract_all(d.text,
           |      '$BytePretokenSql')) AS BIGINT) END AS n_pretokens,
           |  CASE WHEN d.text IS NULL THEN NULL
           |    ELSE CAST(coalesce(a.ns, 0) AS BIGINT) END AS n_subwords
           |FROM documents d LEFT JOIN agg a USING (doc_id)
           |ORDER BY doc_id $N1, n_pretokens $N1, n_subwords $N1""".stripMargin
    Some(shared + ",\n" + tail)
  }

  /** The kernel-replay oracles are DYNAMIC (generated from the per-dir
    * trained+generated merge tables), so they join the map at
    * [[oracleSql]] ACCESS time — Verify dumps oracle_sql.json AFTER
    * running the queries, when each cache holds exactly the graded
    * dir's table. If a filtered local run never built the table the
    * entry is simply omitted (rows-only fallback, the pre-r17 state);
    * ambiguity (two dirs in one JVM) also falls back rather than guess. */
  private def dynamicBpeOracles: Map[String, String] = {
    def entry(cache: java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]],
              name: String, shape: String): Map[String, String] =
      if (cache.size != 1) Map.empty
      else byteBpeKernelReplaySqlShaped(cache.values.iterator.next(), shape)
        .map(sql => Map(name -> sql)).getOrElse(Map.empty)
    entry(kernelMergeCache, "q_text_bpe_kernel_10k", "count") ++
      entry(kernelMergeCache50k, "q_text_bpe_kernel_50k", "ids") ++
      entry(kernelMergeCache50k, "q_pipeline_pack_ids_50k_config", "packed")
  }

  /** GPT-2-style pre-token pattern as a DuckDB RE2 literal (single
    * quote doubled) — must stay textually in sync with
    * [[graft.operators.TextStats.ByteBpePretokenPattern]]. */
  private val BytePretokenSql: String =
    "''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
  /** DuckDB expression: the ordered byte-level BPE pieces of `text`
    * under [[ByteBpeFixtureMerges]] — shared by the pieces and ids
    * oracles so the two can never drift. */
  private lazy val BytePiecesSql: String = {
    val base = "regexp_replace(hex(encode(tok)), '(..)', " +
      "chr(1) || '\\1' || chr(2), 'g')"
    val folded = ByteBpeFixtureMerges.foldLeft(base) { case (e, (l, r)) =>
      s"replace($e, chr(1) || '$l' || chr(2) || chr(1) || '$r' || chr(2)," +
        s" chr(1) || '$l$r' || chr(2))"
    }
    s"""flatten(list_transform(
       |    regexp_extract_all(text, '$BytePretokenSql'),
       |    tok -> string_split(
       |      substring($folded, 2, length($folded) - 2),
       |      chr(2) || chr(1))))""".stripMargin
  }
  /** The full pieces oracle — shared verbatim by
    * q_text_bpe_bytes_pieces (the public `encodeBpeBytes` surface) and
    * q_text_bpe_kernel_pieces (the kernel's column API); both run the
    * native kernel, and this replace-chain replay grades it. */
  private lazy val BytePiecesOracleSql: String =
    s"""WITH t AS (SELECT doc_id, $BytePiecesSql AS subwords
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(generate_subscripts(subwords, 1) - 1 AS BIGINT) AS pos,
       |  unnest(subwords) AS piece
       |FROM t
       |ORDER BY doc_id $N1, pos $N1, piece $N1""".stripMargin
  private val BPE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  private val STOP_EN = TextFunctions.EnStopwords.map(w => s"'$w'").mkString(",")

  /** The conversation-construction CTE shared by every q_chat_* oracle
    * — MUST mirror [[chatFrame]] exactly (6-token chunks, alternating
    * user/assistant), or the graded chat operators drift from their
    * oracles at the fixture layer instead of the operator layer. */
  private def chatCteOver(textSql: String): String =
    s"""d AS (SELECT doc_id, regexp_extract_all($textSql, '\\S+') AS toks
      |      FROM documents),
      |cv AS (SELECT doc_id, list_transform(
      |    range(0, CAST(ceil(len(toks)/6.0) AS BIGINT)),
      |    i -> struct_pack(
      |      role := CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END,
      |      content := array_to_string(toks[i*6+1 : i*6+6], ' '))) AS turns
      |  FROM d)""".stripMargin
  private val chatCte = chatCteOver("text")

  /** The per-conversation (ids, ms) cell CTE chain shared by BOTH
    * packed-SFT oracles (q_chat_pack_sft_ids / q_chat_pack_sft_nosplit
    * and their config twins): per-turn template render (textually
    * renderChat's turnTemplate), the fixture ids replay, mask 1 on
    * assistant-turn ids, one closing EOS cell (mask 0); NULL-turn docs
    * coalesce to the empty conversation. Expects `cv` (the chatCte) in
    * scope; yields `conv(doc_id, ids, ms)`. */
  private lazy val SftCellCtes: String = {
    val arms = ByteBpeFixtureMerges.zipWithIndex.map {
      case ((l, r), i) => s"WHEN '$l$r' THEN CAST(${256 + i} AS BIGINT)"
    }.mkString(" ")
    val hexByte = "CAST((strpos('0123456789ABCDEF', p[1:1]) - 1) * 16 + " +
      "strpos('0123456789ABCDEF', p[2:2]) - 1 AS BIGINT)"
    val eos = 256 + ByteBpeFixtureMerges.size
    s"""tr AS (SELECT doc_id, generate_subscripts(turns, 1) AS ti,
       |    unnest(turns) AS t FROM cv),
       |r AS (SELECT doc_id, ti,
       |    '<|' || t.role || '|>' || chr(10) || t.content ||
       |      '<|end|>' || chr(10) AS text,
       |    CASE WHEN t.role = 'assistant' THEN CAST(1 AS BIGINT)
       |      ELSE CAST(0 AS BIGINT) END AS m
       |  FROM tr),
       |enc AS (SELECT doc_id, ti, m, list_transform($BytePiecesSql,
       |    p -> CASE p $arms ELSE $hexByte END) AS ids
       |  FROM r),
       |byconv AS (SELECT doc_id, flatten(list(ids ORDER BY ti)) AS ids,
       |    flatten(list(list_transform(ids, x -> m) ORDER BY ti)) AS ms
       |  FROM enc GROUP BY doc_id),
       |conv AS (SELECT cv.doc_id,
       |    list_concat(COALESCE(b.ids, CAST([] AS BIGINT[])),
       |      [CAST($eos AS BIGINT)]) AS ids,
       |    list_concat(COALESCE(b.ms, CAST([] AS BIGINT[])),
       |      [CAST(0 AS BIGINT)]) AS ms
       |  FROM cv LEFT JOIN byconv b USING (doc_id))""".stripMargin
  }

  /** shared word-5-gram blocking (df-cap 100) -> exact jaccard >= 0.5;
    * mirrors Dedup.ngramJaccardPairs / minhashLshPairs verify exactly. */
  /** The shared CTE chain computing exact word-5-gram Jaccard pairs
    * (df-capped inverted index -> candidates -> verify), reused by the
    * pair queries and by the collapse oracle's recursive closure. */
  private val jaccardCte =
    """toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      |sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+4],' ') for i in generate_series(1, len(t)-4)]) AS s FROM toks),
      |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |keep AS (SELECT g FROM ex GROUP BY g HAVING count(*) <= 100),
      |exk AS (SELECT ex.doc_id, ex.g FROM ex JOIN keep USING (g)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM exk a JOIN exk b ON a.g = b.g AND a.doc_id < b.doc_id),
      |j AS (SELECT doc_a, doc_b,
      |      CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)/len(list_distinct(list_concat(x.s, y.s))) AS jaccard
      |      FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b)""".stripMargin

  private val jaccardSql =
    s"""WITH $jaccardCte
      |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
      |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST, jaccard NULLS FIRST""".stripMargin

  private val cosSql =
    """list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |  (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |   sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))""".stripMargin

  /** Render a double so DuckDB parses the EXACT same bits back: shortest
    * round-trip digits (Double.toString) forced into E-notation — a bare
    * fractional literal would parse as DECIMAL (SURVEY §7.5 trap #2). */
  private def dbl(v: Double): String = {
    val s = v.toString
    if (s.contains("E") || s.contains("e")) s else s + "E0"
  }

  /**
   * XXH64 re-implemented IN DUCKDB SQL (inputs < 32 bytes — the
   * whitespace-token regime; the corpus max is 8 bytes and list_reduce
   * generalizes to any chunk count) — the independent second
   * implementation that lets `q_dedup_simhash` graduate from rows-only
   * to an exact hash-matched oracle. 64-bit wrapping arithmetic is
   * emulated over HUGEINT: wrapping add/mul by explicit mod 2^64 (the
   * 64x64 product is split at 32 bits so no intermediate exceeds
   * 2^97), rotl as shift-mod plus carry, xor on 32-bit halves through
   * BIGINT `xor`. Bytes come from `hex(encode(tok))` digit pairs.
   * Every constant below is from the public xxHash spec; NO hash value
   * is computed Scala-side — DuckDB derives everything from the raw
   * text, so a Spark-side hashing bug cannot leak into the oracle.
   */
  private object Xxh64Sql {
    private val M = "18446744073709551616::HUGEINT"
    private def wrap(x: String) = s"(($x) % $M)"
    private def wadd(a: String, b: String) = wrap(s"($a) + ($b)")
    private def wmul(a: String, b: String) = wrap(
      s"((($a) % 4294967296::HUGEINT) * ($b)" +
        s" + (((($a) // 4294967296::HUGEINT) * (($b) % 4294967296::HUGEINT))" +
        s" % 4294967296::HUGEINT) * 4294967296::HUGEINT)")
    private def rotl(x: String, r: Int) =
      s"(${wrap(s"($x) * ${1L << r}::HUGEINT")} + (($x) // ${1L << (64 - r)}::HUGEINT))"
    private def wxor(a: String, b: String) =
      s"(xor((($a) // 4294967296::HUGEINT)::BIGINT, (($b) // 4294967296::HUGEINT)::BIGINT)::HUGEINT * 4294967296::HUGEINT" +
        s" + xor((($a) % 4294967296::HUGEINT)::BIGINT, (($b) % 4294967296::HUGEINT)::BIGINT)::HUGEINT)"
    private def shr(x: String, n: Int) = s"(($x) // ${1L << n}::HUGEINT)"
    // little-endian word from the 1-based byte list `bs`
    private def le(base: String, nBytes: Int) =
      (0 until nBytes).map(k =>
        s"bs[$base+${k + 1}]::HUGEINT * ${1L << (8 * k)}::HUGEINT")
        .mkString("(", " + ", ")")
    private val P1 = "11400714785074694791::HUGEINT"
    private val P2 = "14029467366897019727::HUGEINT"
    private val P3 = "1609587929392839161::HUGEINT"
    private val P4 = "9650029242287828579::HUGEINT"
    private val P5 = "2870177450012600261::HUGEINT"

    /** CTE chain `tb -> byt -> s0..s4 -> hsh(tok, h)` hashing every row
      * of a prior CTE `toks(tok)` with XXH64(utf8(tok), seed 42) ==
      * Spark's `xxhash64(tok)` (as unsigned HUGEINT). */
    val hashCtes: String = {
      val step8 = wadd(wmul(rotl(wxor("acc",
        wmul(rotl(wmul("k", P2), 31), P1)), 27), P1), P4)
      val stepB = wmul(rotl(wxor("acc", wmul("k", P5)), 11), P1)
      val h0 = s"((42::HUGEINT + $P5 + ln::HUGEINT) % $M)"
      val step4 = wadd(wmul(rotl(wxor("h",
        wmul(le("(ln // 8)*8", 4), P1)), 23), P2), P3)
      val tailOff = "((ln // 8)*8 + (CASE WHEN ln % 8 >= 4 THEN 4 ELSE 0 END))"
      // NOTE: hashCtes is spliced into outer .stripMargin strings, so
      // no generated line may START with '|' — keep concat operators
      // at line ends
      s"""tb AS (SELECT tok,
         |  CASE WHEN octet_length(encode(tok)) >= 32
         |    THEN error('Xxh64Sql precondition: token >= 32 bytes (' ||
         |      tok ||
         |      ') - this oracle implements only the < 32-byte XXH64' ||
         |      ' path (no 4-lane stripe); regenerate with the' ||
         |      ' long-input path before trusting the hash')
         |    ELSE octet_length(encode(tok)) END AS ln,
         |  hex(encode(tok)) AS hx FROM toks),
         |byt AS (SELECT tok, ln, list_transform(range(0, ln), i ->
         |   (strpos('0123456789ABCDEF', hx[2*i+1:2*i+1]) - 1) * 16 +
         |    strpos('0123456789ABCDEF', hx[2*i+2:2*i+2]) - 1) AS bs FROM tb),
         |s0 AS (SELECT tok, ln, bs, list_reduce(list_prepend($h0,
         |  list_transform(range(0, ln // 8), j -> ${le("j*8", 8)})),
         |  (acc, k) -> $step8) AS h FROM byt),
         |s1 AS (SELECT tok, ln, bs,
         |  CASE WHEN ln % 8 >= 4 THEN $step4 ELSE h END AS h FROM s0),
         |s2 AS (SELECT tok, ln, list_reduce(list_prepend(h,
         |  list_transform(range($tailOff, ln), j -> bs[j+1]::HUGEINT)),
         |  (acc, k) -> $stepB) AS h FROM s1),
         |s3 AS (SELECT tok, ln, ${wmul(wxor("h", shr("h", 33)), P2)} AS h FROM s2),
         |s4 AS (SELECT tok, ln, ${wmul(wxor("h", shr("h", 29)), P3)} AS h FROM s3),
         |hsh AS (SELECT tok, ${wxor("h", shr("h", 32))} AS h FROM s4)""".stripMargin
    }
  }

  /** GENERATED exact oracle for q_dedup_simhash: DuckDB tokenizes,
    * XXH64-hashes every distinct token itself ([[Xxh64Sql]]), and
    * re-derives the 63-bit fingerprint as Σ 2^i over bits whose +1/−1
    * token votes are positive (vote_i > 0 ⟺ 2·ones_i > n). Empty /
    * all-whitespace docs fingerprint to 0, NULL text to NULL — the
    * [[graft.functions.Simhash63]] contract. */
  private lazy val SimhashOracle: String =
    s"""WITH d AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok
       |  FROM documents),
       |toks AS (SELECT DISTINCT tok FROM d),
       |${Xxh64Sql.hashCtes},
       |votes AS (SELECT d.doc_id, r.i,
       |    sum(((h.h // (1::HUGEINT << r.i)) % 2)::BIGINT) AS ones,
       |    count(*) AS n
       |  FROM d JOIN hsh h USING (tok) CROSS JOIN range(0, 63) r(i)
       |  GROUP BY d.doc_id, r.i),
       |fp AS (SELECT doc_id, CAST(sum(CASE WHEN 2*ones > n
       |    THEN (1::HUGEINT << i) ELSE 0::HUGEINT END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id)
       |SELECT d.doc_id, CASE WHEN d.text IS NULL THEN NULL
       |  ELSE coalesce(f.simhash, 0) END AS simhash
       |FROM documents d LEFT JOIN fp f USING (doc_id)
       |ORDER BY doc_id $N1, simhash $N1""".stripMargin

  /** GENERATED exact oracle for q_sim_ann_lsh (the zorder convention:
    * when SQL can't derive a constant, embed it as a generated literal
    * and let DuckDB recompute everything downstream). The SRP
    * hyperplanes are pure seed-derived constants — embedded here as
    * 12×6 plane literals — and `list_dot_product` over DOUBLE[] is the
    * same ascending multiply-add fold as the engine's native
    * expressions (hash-proven by q_sim_topk), so sign bits, bucket
    * ids, the a<b banding join, the exact-cosine rerank, and the
    * (cos DESC, neighbor_id) rank all reproduce bit-for-bit. */
  private lazy val AnnLshOracle: String = {
    val (tables, planes, dim) = (12, 6, 64)
    val m = graft.functions.SrpBucketIds.planeMatrix(tables, planes, dim)
    def planeList(t: Int, p: Int): String =
      m(t * planes + p).map(dbl).mkString("[", ",", "]")
    // bucket = fold over planes of bucket*2 + (dot >= 0): bit p carries
    // weight 2^(planes-1-p)
    def bucketExpr(t: Int): String =
      (0 until planes).map { p =>
        val w = 1 << (planes - 1 - p)
        s"(CASE WHEN list_dot_product(embedding::DOUBLE[], " +
          s"${planeList(t, p)}::DOUBLE[]) >= 0 THEN $w ELSE 0 END)"
      }.mkString(" + ")
    val bucketSelects = (0 until tables).map(t =>
      s"SELECT vec_id, $t AS t, ${bucketExpr(t)} AS bucket FROM embeddings")
      .mkString("\nUNION ALL\n")
    s"""WITH b AS ($bucketSelects),
       |p AS (SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
       |  FROM b x JOIN b y ON x.t = y.t AND x.bucket = y.bucket
       |    AND x.vec_id < y.vec_id),
       |d AS (SELECT va AS vec_id, vb AS neighbor_id FROM p
       |      UNION ALL SELECT vb, va FROM p),
       |s AS (SELECT d.vec_id, d.neighbor_id, $cosSql AS cos
       |  FROM d JOIN embeddings a ON a.vec_id = d.vec_id
       |         JOIN embeddings b ON b.vec_id = d.neighbor_id),
       |r AS (SELECT vec_id, neighbor_id, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
       |SELECT vec_id, neighbor_id, rank FROM r WHERE rank <= 5
       |ORDER BY vec_id $N1, neighbor_id $N1, rank $N1""".stripMargin
  }

  /** Independent pure-Scala XXH64 (any input length; the graded use
    * hashes <=3-byte id strings) — a THIRD implementation next to
    * Spark's and [[Xxh64Sql]]'s, used only by oracle GENERATORS that
    * must replay a hash-ordered draw (IvfClusteredOracle); pinned
    * equal to Spark's `xxhash64` in the suite. */
  private[graft] def xxh64Local(bytes: Array[Byte], seed: Long = 42L): Long = {
    val P1 = 0x9E3779B185EBCA87L; val P2 = 0xC2B2AE3D27D4EB4FL
    val P3 = 0x165667B19E3779F9L; val P4 = 0x85EBCA77C2B2AE63L
    val P5 = 0x27D4EB2F165667C5L
    val len = bytes.length
    def rotl(x: Long, r: Int): Long = java.lang.Long.rotateLeft(x, r)
    var i = 0
    var h =
      if (len >= 32) {
        var v1 = seed + P1 + P2; var v2 = seed + P2
        var v3 = seed; var v4 = seed - P1
        def le8(o: Int): Long = {
          var k = 0L; var j = 7
          while (j >= 0) { k = (k << 8) | (bytes(o + j) & 0xffL); j -= 1 }
          k
        }
        while (len - i >= 32) {
          v1 = rotl(v1 + le8(i) * P2, 31) * P1
          v2 = rotl(v2 + le8(i + 8) * P2, 31) * P1
          v3 = rotl(v3 + le8(i + 16) * P2, 31) * P1
          v4 = rotl(v4 + le8(i + 24) * P2, 31) * P1
          i += 32
        }
        var acc = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
        def mix(a: Long, v: Long): Long =
          (a ^ (rotl(v * P2, 31) * P1)) * P1 + P4
        acc = mix(acc, v1); acc = mix(acc, v2)
        acc = mix(acc, v3); acc = mix(acc, v4)
        acc + len
      } else seed + P5 + len
    while (len - i >= 8) {
      var k = 0L; var j = 7
      while (j >= 0) { k = (k << 8) | (bytes(i + j) & 0xffL); j -= 1 }
      h = rotl(h ^ (rotl(k * P2, 31) * P1), 27) * P1 + P4
      i += 8
    }
    if (len - i >= 4) {
      var k = 0L; var j = 3
      while (j >= 0) { k = (k << 8) | (bytes(i + j) & 0xffL); j -= 1 }
      h = rotl(h ^ (k * P1), 23) * P2 + P3
      i += 4
    }
    while (i < len) {
      h = rotl(h ^ ((bytes(i) & 0xffL) * P5), 11) * P1
      i += 1
    }
    h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
    h
  }

  /** GENERATED exact oracle for q_sim_ann_ivf_clustered (r16 — the row
    * the §7.5 #11 argument EXEMPTED from impossibility: unlike the
    * Lloyd-iterated rows, the auto-sized IVF self-search runs no
    * float-iterative training, and its fixture is the fully
    * deterministic planted-cluster frame). The generator REPLAYS the
    * operator's setup with independent code — the hash-ordered draw
    * ([[xxh64Local]], not Spark's hash), normalize + first-32-distinct
    * centroid selection, the tightness median and the tightness-aware
    * probe count — then embeds corpus and centroids as round-trip
    * double VALUES and lets DuckDB recompute assignment (top-nprobe
    * cells by `list_dot_product` — the same ascending fold as the
    * native dot expression, hash-proven since r8), the asymmetric
    * prober×rank-1-index candidate join, the exact-cosine rerank and
    * the (cos DESC, neighbor) rank. The cellCap (4096) provably never
    * binds at 1000 rows, so the running-count truncation needs no
    * replay. If engine tuning drifts (draw size, tightness threshold,
    * probe rule), this generator's requires fail the BUILD loudly
    * instead of hash-mismatching mysteriously. */
  private lazy val IvfClusteredOracle: String = {
    val data = plantedClusterData
    val k0 = math.max(16, math.min(4096,
      math.ceil(math.sqrt(data.size.toDouble)).toInt))
    // the draw: (xxhash64(CAST(id AS STRING)), id-string) ascending,
    // first 8*k0, L2-normalized in double
    val drawnRows = data
      .map { case (id, v) => (xxh64Local(id.toString.getBytes("UTF-8")),
        id.toString, v) }
      .sortBy(t => (t._1, t._2))
      .take(8 * k0)
    val drawn: Array[Array[Double]] = drawnRows.map { case (_, _, v) =>
      val a = v.map(_.toDouble)
      val n = math.sqrt(a.map(x => x * x).sum)
      if (n == 0) a else a.map(_ / n)
    }.toArray
    // first k0 distinct normalized directions
    val seen = scala.collection.mutable.LinkedHashSet.empty[Seq[Double]]
    drawn.iterator.takeWhile(_ => seen.size < k0).foreach(a => seen += a.toSeq)
    val cents = seen.iterator.map(_.toArray).toArray
    require(cents.length == k0,
      s"planted fixture must yield $k0 distinct centroids, got ${cents.length}")
    // tightness median over the draw (same filter/take/median-index
    // arithmetic as the engine) -> tightness-aware probe count
    val c1s = drawn.iterator.map { v =>
      var best = -1.0
      cents.foreach { c =>
        var s = 0.0; var i = 0
        while (i < c.length) { s += c(i) * v(i); i += 1 }
        if (s > best) best = s
      }
      best
    }.filter(_ < 0.999).take(256).toArray.sorted
    val tight = if (c1s.isEmpty) 0.0 else c1s(c1s.length / 2)
    require(tight >= 0.75,
      f"planted fixture must measure clustered (tightness $tight%.3f >= " +
        "0.75) or the replayed probe count is wrong — engine tuning drifted?")
    val nprobe = math.min(8, math.max(3, math.ceil(0.7 * k0).toInt))
    def vec(a: Array[Double]): String = a.map(dbl).mkString("[", ",", "]")
    val corpusRows = data.map { case (id, v) =>
      s"($id, ${vec(v.map(_.toDouble))}::DOUBLE[])"
    }.mkString(",\n  ")
    val centRows = cents.zipWithIndex.map { case (c, ci) =>
      s"($ci, ${vec(c)}::DOUBLE[])"
    }.mkString(",\n  ")
    s"""WITH corpus(vec_id, emb) AS (VALUES
       |  $corpusRows),
       |cents(cid, c) AS (VALUES
       |  $centRows),
       |scored AS (SELECT vec_id, cid, list_dot_product(emb, c) AS dot
       |  FROM corpus CROSS JOIN cents),
       |probes AS (SELECT vec_id, cid, row_number() OVER
       |    (PARTITION BY vec_id ORDER BY dot DESC, cid DESC) AS pr
       |  FROM scored),
       |idx AS (SELECT vec_id, cid FROM probes WHERE pr = 1),
       |pairs AS (SELECT DISTINCT least(x.vec_id, y.vec_id) AS va,
       |    greatest(x.vec_id, y.vec_id) AS vb
       |  FROM probes x JOIN idx y ON x.cid = y.cid
       |    AND x.vec_id != y.vec_id
       |  WHERE x.pr <= $nprobe),
       |d AS (SELECT va AS vec_id, vb AS neighbor_id FROM pairs
       |      UNION ALL SELECT vb, va FROM pairs),
       |s AS (SELECT d.vec_id, d.neighbor_id,
       |    list_dot_product(a.emb, b.emb) /
       |      (sqrt(list_dot_product(a.emb, a.emb)) *
       |       sqrt(list_dot_product(b.emb, b.emb))) AS cos
       |  FROM d JOIN corpus a ON a.vec_id = d.vec_id
       |         JOIN corpus b ON b.vec_id = d.neighbor_id),
       |r AS (SELECT vec_id, neighbor_id, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
       |SELECT vec_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 5
       |ORDER BY vec_id $N1, neighbor_id $N1, rank $N1""".stripMargin
  }

  /** GENERATED exact oracle for q_sim_ann_ivf (r16 — upgrading §7.5
    * #11's "cost, not impossibility" note to a graduation): unlike the
    * clustered twin, NO literals are needed at all. DuckDB derives the
    * ENTIRE setup itself from the embeddings table: the hash-ordered
    * draw via [[Xxh64Sql]] (converted to Spark's SIGNED ordering),
    * per-vector L2 normalization (`list_dot_product` ascending fold =
    * the engine's `norm`), the first-k0-distinct centroid pick over
    * draw order, the tightness median with the engine's exact
    * filter/take-256/median-index arithmetic, the tightness-aware
    * probe rule (`0.7::DOUBLE` per the §7.5 literal convention), then
    * assignment / asymmetric candidates / cosine rerank — fully
    * SF-generic (k0 = max(16, min(4096, ceil(sqrt(count)))) computes
    * in SQL). cellCap (4096) cannot bind below 4097-member cells —
    * far above the testdata's ~sqrt(N) average cell. */
  /** The IVF-setup CTE chain SHARED by [[AnnIvfOracle]] and the r18
    * [[PqIvfOracle]] (one text — the two replays cannot drift): derives
    * draw order, centroids, tightness, the probe rule, assignment
    * (`probes`) and the rank-1 index (`idx`) entirely in SQL from the
    * embeddings table. Emitted WITHOUT the leading `WITH `. */
  private lazy val annIvfSetupCtes: String = {
    val U = "18446744073709551616::HUGEINT"
    val HALF = "9223372036854775808::HUGEINT"
    s"""toks AS (SELECT DISTINCT CAST(vec_id AS VARCHAR) AS tok
       |  FROM embeddings),
       |${Xxh64Sql.hashCtes},
       |params AS (SELECT greatest(16, least(4096,
       |    CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))) AS k0
       |  FROM embeddings),
       |ord AS (SELECT e.vec_id, e.embedding, row_number() OVER (ORDER BY
       |    CASE WHEN h.h >= $HALF THEN CAST(h.h - $U AS BIGINT)
       |         ELSE CAST(h.h AS BIGINT) END ASC,
       |    CAST(e.vec_id AS VARCHAR) ASC) AS dr
       |  FROM embeddings e JOIN hsh h ON h.tok = CAST(e.vec_id AS VARCHAR)),
       |drawn AS (SELECT vec_id, dr,
       |    CASE WHEN list_dot_product(embedding::DOUBLE[],
       |        embedding::DOUBLE[]) = 0 THEN embedding::DOUBLE[]
       |      ELSE list_transform(embedding::DOUBLE[],
       |        x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
       |          embedding::DOUBLE[]))) END AS nv
       |  FROM ord, params WHERE dr <= 8 * params.k0),
       |cdupe AS (SELECT nv, dr,
       |    row_number() OVER (PARTITION BY nv ORDER BY dr) AS dupr
       |  FROM drawn),
       |cord AS (SELECT nv, row_number() OVER (ORDER BY dr) AS cr
       |  FROM cdupe WHERE dupr = 1),
       |cents AS (SELECT cr - 1 AS cid, nv FROM cord, params
       |  WHERE cr <= params.k0),
       |c1 AS (SELECT d.dr, max(list_dot_product(d.nv, c.nv)) AS best
       |  FROM drawn d CROSS JOIN cents c GROUP BY d.dr),
       |ctake AS (SELECT best, row_number() OVER (ORDER BY dr) AS tr
       |  FROM c1 WHERE best < 0.999::DOUBLE),
       |tightn AS (SELECT CASE WHEN count(*) = 0 THEN 0.0::DOUBLE
       |    ELSE (list_sort(list(best)))[(CAST(count(*) AS INT) // 2) + 1]
       |    END AS tg
       |  FROM ctake WHERE tr <= 256),
       |np AS (SELECT CASE WHEN t.tg >= 0.75::DOUBLE
       |      THEN least(8, greatest(3,
       |        CAST(ceil(0.7::DOUBLE * p.k0) AS BIGINT)))
       |      ELSE greatest(3, CAST(ceil(0.7::DOUBLE * p.k0) AS BIGINT))
       |    END AS nprobe
       |  FROM tightn t, params p),
       |scored AS (SELECT e.vec_id, c.cid,
       |    list_dot_product(e.embedding::DOUBLE[], c.nv) AS dot
       |  FROM embeddings e CROSS JOIN cents c),
       |probes AS (SELECT vec_id, cid, row_number() OVER
       |    (PARTITION BY vec_id ORDER BY dot DESC, cid DESC) AS pr
       |  FROM scored),
       |idx AS (SELECT vec_id, cid FROM probes WHERE pr = 1)""".stripMargin
  }

  private lazy val AnnIvfOracle: String = {
    s"""WITH $annIvfSetupCtes,
       |pairs AS (SELECT DISTINCT least(x.vec_id, y.vec_id) AS va,
       |    greatest(x.vec_id, y.vec_id) AS vb
       |  FROM probes x JOIN idx y ON x.cid = y.cid
       |    AND x.vec_id != y.vec_id, np
       |  WHERE x.pr <= np.nprobe),
       |dd AS (SELECT va AS vec_id, vb AS neighbor_id FROM pairs
       |       UNION ALL SELECT vb, va FROM pairs),
       |sc AS (SELECT dd.vec_id, dd.neighbor_id, $cosSql AS cos
       |  FROM dd JOIN embeddings a ON a.vec_id = dd.vec_id
       |          JOIN embeddings b ON b.vec_id = dd.neighbor_id),
       |rk AS (SELECT vec_id, neighbor_id, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM sc)
       |SELECT vec_id, neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM rk WHERE rank <= 5
       |ORDER BY vec_id $N1, neighbor_id $N1, rank $N1""".stripMargin
  }

  /** Per-dir cache of the PQ codebook trained by q_sim_pq /
    * q_sim_pq_ivf (both train with identical parameters on the same
    * corpus through the same deterministic draw, so one model serves
    * both) — the [[kernelMergeCache]] dynamic-oracle pattern: the
    * graded query populates it at run time, [[oracleSql]] reads it at
    * dump time. */
  private val pqModelCache = new java.util.concurrent.ConcurrentHashMap[
    String, graft.operators.Similarity.PqModel]()

  /** Per-dir cache of the PCA basis trained by q_emb_pca (same dynamic
    * pattern). The basis is deterministic only up to double-sum
    * rounding in the distributed moment sums, which is exactly why the
    * oracle must replay the INSTANCE the query projected with, not a
    * retraining. */
  private val pcaModelCache = new java.util.concurrent.ConcurrentHashMap[
    String, graft.operators.Pca.PcaModel]()

  /** The PQ SEARCH replay CTEs under a FIXED codebook (r18, VERDICT r17
    * #2: §7.5 #11's impossibility argument covers float-iterative
    * codebook TRAINING — search under a trained codebook is plain
    * deterministic arithmetic DuckDB replays exactly): the trained
    * sub-centroids (and their Scala-computed ‖c‖² literals) embed as
    * round-trip double VALUES; DuckDB recomputes per-vector L2
    * normalization (the engine's norm convention: per-element widen to
    * double, ascending-fold accumulate — hash-proven since r8), the
    * per-subspace nearest-code assignment (argmax of 2·dot−‖c‖² with
    * ties to the LARGER code, exactly array_max's struct order), the
    * per-query ADC table and the per-pair score summed in subspace
    * order (spelled out left-associatively — `reduce(_ + _)`'s fold).
    * Expects a prior CTE `cand(qid, nid)`; emits `pairsc(qid, nid,
    * sc)`. Queries are the `vec_id < 20` batch both graded rows use. */
  private def pqReplayCtes(model: graft.operators.Similarity.PqModel): String = {
    val sub = model.subdim
    val centRows = (for {
      s <- 0 until model.m
      c <- model.centroids(s).indices
    } yield {
      val cent = model.centroids(s)(c)
      val c2 = cent.map(x => x * x).sum
      s"($s, $c, ${cent.map(dbl).mkString("[", ",", "]")}::DOUBLE[], ${dbl(c2)})"
    }).mkString(",\n  ")
    val sumTerms = (0 until model.m)
      .map(s => s"max(CASE WHEN t.s = $s THEN t.d END)").mkString(" + ")
    s"""pqc(s, c, v, c2) AS (VALUES
       |  $centRows),
       |pnrm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)),
       |pcorp AS (SELECT vec_id,
       |    list_transform(v, x -> CASE WHEN n > 0 THEN x / n
       |      ELSE 0.0::DOUBLE END) AS nv
       |  FROM pnrm),
       |psubs AS (SELECT vec_id, t.s,
       |    nv[CAST(t.s*$sub+1 AS INT):CAST((t.s+1)*$sub AS INT)] AS sv
       |  FROM pcorp, generate_series(0, ${model.m - 1}) t(s)),
       |pesc AS (SELECT vec_id, psubs.s, c,
       |    list_dot_product(sv, v) * 2.0 - c2 AS sc
       |  FROM psubs JOIN pqc ON pqc.s = psubs.s),
       |pcodes AS (SELECT vec_id, s, c FROM (
       |    SELECT vec_id, s, c, row_number() OVER
       |      (PARTITION BY vec_id, s ORDER BY sc DESC, c DESC) AS rn
       |    FROM pesc) WHERE rn = 1),
       |pqd AS (SELECT psubs.vec_id AS qid, psubs.s, c,
       |    list_dot_product(sv, v) AS d
       |  FROM psubs JOIN pqc ON pqc.s = psubs.s
       |  WHERE psubs.vec_id < 20),
       |pairsc AS (SELECT cand.qid, cand.nid, ($sumTerms) AS sc
       |  FROM cand
       |  JOIN pcodes k ON k.vec_id = cand.nid
       |  JOIN pqd t ON t.qid = cand.qid AND t.s = k.s AND t.c = k.c
       |  GROUP BY cand.qid, cand.nid)""".stripMargin
  }

  /** The (round-6 score DESC, neighbor) rank tail shared by both PQ
    * replays — pqTopK/ivfPqTopK's window, k = 5, score dropped. */
  private lazy val pqRankTail: String =
    s"""prk AS (SELECT qid, nid, row_number() OVER
       |    (PARTITION BY qid ORDER BY round(sc, 6) DESC, nid) AS rank
       |  FROM pairsc)
       |SELECT qid AS vec_id, nid AS neighbor_id, CAST(rank AS BIGINT) AS rank
       |FROM prk WHERE rank <= 5
       |ORDER BY vec_id $N1, neighbor_id $N1, rank $N1""".stripMargin

  /** GENERATED exact oracle for q_sim_pq: every corpus vector is a
    * candidate (compression, not pruning — the brute-force pair set). */
  private def pqSearchOracle(model: graft.operators.Similarity.PqModel): String =
    s"""WITH cand AS (SELECT q.vec_id AS qid, e.vec_id AS nid
       |  FROM embeddings q JOIN embeddings e ON q.vec_id != e.vec_id
       |  WHERE q.vec_id < 20),
       |${pqReplayCtes(model)},
       |$pqRankTail""".stripMargin

  /** GENERATED exact oracle for q_sim_pq_ivf: the [[annIvfSetupCtes]]
    * chain derives centroids/probe-count/assignment from the embeddings
    * table exactly as for q_sim_ann_ivf (one shared text), candidates
    * are the query batch's probed cells against the rank-1 index
    * (cellCap 4096 provably non-binding at ~sqrt(N) average cells, the
    * AnnIvfOracle argument), and the ADC scoring replaces the cosine
    * rerank. */
  private def pqIvfOracle(model: graft.operators.Similarity.PqModel): String =
    s"""WITH $annIvfSetupCtes,
       |cand AS (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS nid
       |  FROM probes x JOIN idx y ON x.cid = y.cid
       |    AND x.vec_id != y.vec_id, np
       |  WHERE x.vec_id < 20 AND x.pr <= np.nprobe),
       |${pqReplayCtes(model)},
       |$pqRankTail""".stripMargin

  /** GENERATED exact oracle for q_emb_pca (r18 — the same TRAINING vs
    * APPLICATION split as the PQ rows: the power-iteration eigensolve
    * stays impossible in SQL, but PROJECTION under the pinned basis is
    * d plan-literal dot products): mean and components embed as
    * round-trip double VALUES; DuckDB re-centers each vector and
    * replays the dot + round-6, matching pcaProjectColumn term by
    * term. */
  private def pcaProjectOracle(model: graft.operators.Pca.PcaModel): String = {
    val mean = model.mean.map(dbl).mkString("[", ",", "]")
    val compRows = model.components.zipWithIndex.map { case (cv, k) =>
      s"($k, ${cv.map(dbl).mkString("[", ",", "]")}::DOUBLE[])"
    }.mkString(",\n  ")
    s"""WITH mn(mv) AS (VALUES ($mean::DOUBLE[])),
       |comps(k, cv) AS (VALUES
       |  $compRows),
       |ctr AS (SELECT vec_id,
       |    [CAST(embedding[i] AS DOUBLE) - mv[i]
       |     for i in generate_series(1, len(embedding))] AS cvec
       |  FROM embeddings, mn),
       |p AS (SELECT vec_id, CAST(k AS INTEGER) AS component,
       |    round(list_dot_product(cvec, cv), 6) AS value
       |  FROM ctr CROSS JOIN comps)
       |SELECT vec_id, component, value FROM p
       |ORDER BY vec_id $N1, component $N1, value $N1""".stripMargin
  }

  /** The span-corruption CTE chain over a prior CTE `c(doc_id, toks,
    * n)`: prefixed names `<p>segk..<p>agg`, parameterized
    * (density, meanSpan, salts) — ONE generator behind the
    * q_text_span_corrupt oracle and the q_text_denoiser_mix R/X
    * branches, so the replays can never drift. Length draw range is
    * 2·meanSpan−1 (uniform, mean = meanSpan). */
  private def spanCorruptCtes(p: String, density: String, meanSpan: Int,
                              saltLen: String, saltPos: String): String = {
    def u(salt: String) =
      s"(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '$salt'" +
        s" || CAST(k AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0::DOUBLE)"
    s"""${p}segk AS (SELECT doc_id, toks, n,
       |    greatest(1, greatest(1,
       |      CAST(floor($density::DOUBLE * n) AS BIGINT)) // $meanSpan) AS ns
       |  FROM c),
       |${p}segu AS (SELECT doc_id, toks, n, ns,
       |    unnest(range(0, CASE WHEN n >= 2 THEN ns ELSE 0 END)) AS k
       |  FROM ${p}segk),
       |${p}seg AS (SELECT doc_id, toks, n, ns, k,
       |    (k*n)//ns + 1 AS a, ((k+1)*n)//ns AS b,
       |    ${u(saltLen)} AS u1, ${u(saltPos)} AS u2
       |  FROM ${p}segu),
       |${p}sp AS (SELECT *, b - a + 1 AS m,
       |    least(b - a + 1,
       |      1 + CAST(floor(u1 * ${2 * meanSpan - 1}) AS BIGINT)) AS l
       |  FROM ${p}seg),
       |${p}sp2 AS (SELECT *,
       |    a + CAST(floor(u2 * (m - l + 1)) AS BIGINT) AS s FROM ${p}sp),
       |${p}rend AS (SELECT doc_id, ns, k, l,
       |    toks[CAST(a AS INT):CAST(s-1 AS INT)] ||
       |      ['<extra_id_' || CAST(k AS VARCHAR) || '>'] ||
       |      toks[CAST(s+l AS INT):CAST(b AS INT)] AS inseg,
       |    ['<extra_id_' || CAST(k AS VARCHAR) || '>'] ||
       |      toks[CAST(s AS INT):CAST(s+l-1 AS INT)] AS tseg
       |  FROM ${p}sp2),
       |${p}agg AS (SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_spans,
       |    CAST(sum(l) AS BIGINT) AS n_corrupted,
       |    array_to_string(flatten(list(inseg ORDER BY k)), ' ') AS inputs,
       |    array_to_string(flatten(list(tseg ORDER BY k)) ||
       |      ['<extra_id_' || CAST(min(ns) AS VARCHAR) || '>'], ' ')
       |      AS targets
       |  FROM ${p}rend GROUP BY doc_id)""".stripMargin
  }

  /** The FULL UL2 denoiser-mix replay over a parameterized document
    * SOURCE (a SELECT yielding (doc_id, text)) — one generator behind
    * q_text_denoiser_mix (raw documents) and
    * q_pipeline_denoiser_config (the md5-dedup survivor set), so the
    * operator replay and the config-composition replay can never
    * drift. */
  private def denoiserMixSql(sourceSql: String): String = {
    def u0(salt: String) =
      s"(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '$salt'" +
        s" || '0'), 1, 8))::BIGINT / 4294967296.0::DOUBLE)"
    val src = sourceSql.replace("\n", "\n ")
    s"""WITH t AS (SELECT doc_id, text,
       |    regexp_extract_all(text, '\\S+') AS toks FROM ($src)),
       |c AS (SELECT doc_id, text, toks, CAST(len(toks) AS BIGINT) AS n
       |  FROM t),
       |${spanCorruptCtes("r", "0.15", 3, "#ul2rl#", "#ul2rp#")},
       |${spanCorruptCtes("x", "0.5", 8, "#ul2xl#", "#ul2xp#")},
       |scut AS (SELECT doc_id, toks, n,
       |    1 + CAST(floor(${u0("#ul2s#")} * (n - 1)) AS BIGINT) AS cut
       |  FROM c WHERE n >= 2),
       |sb AS (SELECT doc_id,
       |    array_to_string(toks[1:CAST(cut AS INT)] ||
       |      ['<extra_id_0>'], ' ') AS inputs,
       |    array_to_string(['<extra_id_0>'] ||
       |      toks[CAST(cut+1 AS INT):CAST(n AS INT)] ||
       |      ['<extra_id_1>'], ' ') AS targets,
       |    n - cut AS n_corrupted
       |  FROM scut),
       |route AS (SELECT doc_id, ${u0("#ul2#")} AS u FROM c)
       |SELECT c.doc_id,
       |  CASE WHEN NOT coalesce(c.n >= 2, false) THEN 'none'
       |       WHEN r.u < 0.375 THEN 'R'
       |       WHEN r.u < 0.75 THEN 'X' ELSE 'S' END AS denoiser,
       |  c.n AS n_tokens,
       |  CASE WHEN NOT coalesce(c.n >= 2, false) THEN 0
       |       WHEN r.u < 0.375 THEN ragg.n_corrupted
       |       WHEN r.u < 0.75 THEN xagg.n_corrupted
       |       ELSE sb.n_corrupted END AS n_corrupted,
       |  CASE WHEN NOT coalesce(c.n >= 2, false) THEN c.text
       |       WHEN r.u < 0.375 THEN ragg.inputs
       |       WHEN r.u < 0.75 THEN xagg.inputs
       |       ELSE sb.inputs END AS inputs,
       |  CASE WHEN NOT coalesce(c.n >= 2, false)
       |         THEN (CASE WHEN c.text IS NOT NULL THEN '' END)
       |       WHEN r.u < 0.375 THEN ragg.targets
       |       WHEN r.u < 0.75 THEN xagg.targets
       |       ELSE sb.targets END AS targets
       |FROM c JOIN route r USING (doc_id)
       |  LEFT JOIN ragg USING (doc_id)
       |  LEFT JOIN xagg USING (doc_id)
       |  LEFT JOIN sb USING (doc_id)
       |ORDER BY doc_id $N1, denoiser $N1, n_tokens $N1, n_corrupted $N1,
       |  inputs $N1, targets $N1""".stripMargin
  }

  /** langid score fragments over a given token-list column. */
  private def langScores(tokCol: String): Map[String, String] =
    TextFunctions.LangProfiles.map { case (lang, words) =>
      lang -> s"len(list_distinct(list_intersect($tokCol, [${words.map(w => s"'$w'").mkString(",")}])))"
    }.toMap

  private val langProfileSql: String = {
    val scores = langScores("toks")
    s"""WITH t AS (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-zà-ÿäöüß]+')) AS toks,
       |  len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS n_cjk FROM documents),
       |s AS (SELECT doc_id, n_cjk, ${scores("en")} AS s_en, ${scores("de")} AS s_de,
       |  ${scores("fr")} AS s_fr, ${scores("es")} AS s_es FROM t)
       |SELECT doc_id, CASE
       |  WHEN n_cjk > 0 THEN 'zh'
       |  WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'unknown'
       |  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |  WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |  WHEN s_fr >= s_es THEN 'fr'
       |  ELSE 'es' END AS detected_lang
       |FROM s ORDER BY doc_id $N1, detected_lang $N1""".stripMargin
  }

  /** The corpus-clean CTE chain (md5 dedup -> quality -> langid ->
    * repetition), shared by the q_corpus_clean oracle and the pretrain
    * pipeline composition's — cleaned docs are `ld JOIN rep` rows
    * passing [[cleanKeep]]. */
  private val cleanCtes: String = {
    val sc = langScores("ltoks")
    s"""dq AS (SELECT doc_id, text FROM documents
       |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
       |t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks2,
       |  len(regexp_extract_all(text, '[^ -~]')) AS n_nonascii,
       |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
       |  list_distinct(regexp_extract_all(lower(text), '[a-zà-ÿäöüß]+')) AS ltoks,
       |  len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS n_cjk,
       |  string_split(text, ' ') AS w FROM dq),
       |m AS (SELECT doc_id, w, n_cjk, ltoks, len(toks2) AS n_tokens,
       |  len(list_filter(toks2, x -> list_contains([$STOP_EN], x))) AS n_stop,
       |  list_sum(list_transform(toks2, x -> length(x))) AS tok_chars,
       |  n_punct, n_nonascii FROM t),
       |q AS (SELECT doc_id, w, n_cjk, ltoks, n_tokens,
       |  (CASE WHEN n_tokens >= 10 THEN 1 ELSE 0 END +
       |   CASE WHEN CAST(tok_chars AS DOUBLE)/n_tokens BETWEEN 3 AND 12 THEN 1 ELSE 0 END +
       |   CASE WHEN CAST(n_stop AS DOUBLE)/n_tokens BETWEEN 0.01 AND 0.6 THEN 1 ELSE 0 END +
       |   CASE WHEN n_nonascii = 0 THEN 1 ELSE 0 END) AS quality_score FROM m),
       |l AS (SELECT doc_id, w, n_tokens, quality_score, n_cjk,
       |  ${sc("en")} AS s_en, ${sc("de")} AS s_de, ${sc("fr")} AS s_fr,
       |  ${sc("es")} AS s_es FROM q),
       |ld AS (SELECT doc_id, w, n_tokens, quality_score, CASE
       |  WHEN n_cjk > 0 THEN 'zh'
       |  WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'unknown'
       |  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |  WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |  WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS detected_lang FROM l),
       |bg AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
       |  for i in generate_series(1, len(w)-1)]) AS g FROM ld),
       |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
       |rep AS (SELECT doc_id, CAST(max(c) AS DOUBLE)/sum(c) AS top_bigram_ratio
       |  FROM bc GROUP BY 1)""".stripMargin
  }

  private val cleanKeep =
    "detected_lang = 'en' AND quality_score >= 3 AND top_bigram_ratio <= 0.06"

  /** Cross-set twin of jaccardCte — shingles over both sets, df-cap on
    * the index side only, candidates new x old, exact-Jaccard verify,
    * survivors = exact-absent AND near-dup-absent. ONE text shared by
    * `q_dedup_incremental` (live delta) and
    * `q_dedup_incremental_indexed` (persisted-artifact delta): the two
    * execution paths must agree with the oracle — and so with each
    * other — to the row. */
  private val oracleIncrementalSql: String =
    s"""WITH newd AS (SELECT * FROM documents WHERE doc_id >= 400),
       |old AS (SELECT * FROM documents WHERE doc_id < 400),
       |shn AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+4],' ') for i in generate_series(1, len(t)-4)]) AS s
       |        FROM (SELECT doc_id, string_split(text,' ') AS t FROM newd)),
       |sho AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+4],' ') for i in generate_series(1, len(t)-4)]) AS s
       |        FROM (SELECT doc_id, string_split(text,' ') AS t FROM old)),
       |exn AS (SELECT doc_id, unnest(s) AS g FROM shn),
       |exo AS (SELECT doc_id, unnest(s) AS g FROM sho),
       |keep AS (SELECT g FROM exo GROUP BY g HAVING count(*) <= 100),
       |exok AS (SELECT exo.doc_id, exo.g FROM exo JOIN keep USING (g)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_old
       |         FROM exn a JOIN exok b ON a.g = b.g),
       |nd AS (SELECT DISTINCT doc_new FROM cand
       |       JOIN shn x ON x.doc_id = cand.doc_new
       |       JOIN sho y ON y.doc_id = cand.doc_old
       |       WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
       |             / len(list_distinct(list_concat(x.s, y.s))) >= 0.5)
       |SELECT n.doc_id, n.text, n.lang, n.source, n.n_chars FROM newd n
       |WHERE NOT EXISTS (SELECT 1 FROM old o WHERE md5(o.text) = md5(n.text))
       |  AND n.doc_id NOT IN (SELECT doc_new FROM nd)
       |ORDER BY doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin

  /** ONE oracle text shared by `q_decontaminate` (broadcast semi join)
    * and `q_decontaminate_bloom` (Bloom prefilter + exact confirm):
    * the two execution paths are output-identical by contract. */
  private val oracleDecontaminateSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+12],' ')
       |  for i in generate_series(1, len(t)-12)]) AS s FROM toks),
       |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |eg AS (SELECT DISTINCT g FROM ex WHERE doc_id % 97 = 0),
       |bad AS (SELECT DISTINCT ex.doc_id FROM ex JOIN eg USING (g))
       |SELECT doc_id, text, lang, source, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
       |ORDER BY doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin

  private val oracleSqlBase: Map[String, String] = Map(
    "q_text_tokens" ->
      s"""SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS n_tokens,
         |len(regexp_extract_all(text, '$BPE')) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id $N1, n_tokens $N1, n_bpe_tokens $N1""".stripMargin,
    "q_corpus_stats" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         |count(DISTINCT text) AS n_distinct_texts,
         |CAST(sum(length(text)) AS BIGINT) AS total_chars,
         |CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS total_tokens,
         |round(avg(length(text)), 6) AS avg_doc_chars
         |FROM documents GROUP BY lang, source
         |ORDER BY lang $N1, source $N1, n_docs $N1, n_distinct_texts $N1,
         |total_chars $N1, total_tokens $N1, avg_doc_chars $N1""".stripMargin,
    // funnel replayed: cumulative CASE sums over one scan, then the
    // single aggregate row unioned into per-stage rows
    "q_filter_funnel" ->
      s"""WITH f AS (SELECT
         |   (length(text) >= 200) AS c1,
         |   (length(text) >= 200 AND lang = 'en') AS c2,
         |   (length(text) >= 200 AND lang = 'en'
         |     AND len(regexp_extract_all(text, '\\S+')) >= 30) AS c3,
         |   (length(text) >= 200 AND lang = 'en'
         |     AND len(regexp_extract_all(text, '\\S+')) >= 30
         |     AND NOT contains(text, 'lorem ipsum')) AS c4
         | FROM documents),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n0,
         |   CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |   CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |   CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         |   CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
         | FROM f),
         |s AS (SELECT CAST(1 AS BIGINT) AS stage_index, 'min_length' AS stage, n0 AS n_in, n1 AS n_out FROM a
         | UNION ALL SELECT 2, 'lang_en', n1, n2 FROM a
         | UNION ALL SELECT 3, 'word_count', n2, n3 FROM a
         | UNION ALL SELECT 4, 'no_boilerplate', n3, n4 FROM a)
         |SELECT stage_index, stage, n_in, n_out, n_in - n_out AS n_dropped,
         |  round(CAST(n_in - n_out AS DOUBLE) / n_in, 6) AS drop_rate
         |FROM s
         |ORDER BY stage_index $N1, stage $N1, n_in $N1, n_out $N1,
         |  n_dropped $N1, drop_rate $N1""".stripMargin,
    // Gopher rules replayed: same \\S+ word scan, chr(10) line split,
    // space-trim, partial-match regexes, and CASE-guarded thresholds
    "q_text_gopher" ->
      s"""WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS words,
         |   str_split(text, chr(10)) AS lines,
         |   len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS n_sym
         | FROM documents),
         |m AS (SELECT doc_id,
         |   len(words) AS n_words,
         |   CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)/len(words) AS mean_word_len,
         |   CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)/len(words) AS frac_alpha_words,
         |   CAST(n_sym AS DOUBLE)/len(words) AS symbol_word_ratio,
         |   CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)/len(lines) AS frac_bullet_lines,
         |   CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE)/len(lines) AS frac_ellipsis_lines,
         |   len(list_distinct(list_intersect(list_transform(words, x -> lower(x)), [$STOP_EN]))) AS n_stopwords
         | FROM w),
         |f AS (SELECT *,
         |   CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS pass_word_count,
         |   CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END AS pass_mean_word_len,
         |   CASE WHEN symbol_word_ratio <= 0.1 THEN 1 ELSE 0 END AS pass_symbol_ratio,
         |   CASE WHEN frac_bullet_lines <= 0.9 THEN 1 ELSE 0 END AS pass_bullet_lines,
         |   CASE WHEN frac_ellipsis_lines <= 0.3 THEN 1 ELSE 0 END AS pass_ellipsis_lines,
         |   CASE WHEN frac_alpha_words >= 0.8 THEN 1 ELSE 0 END AS pass_alpha_words,
         |   CASE WHEN n_stopwords >= 2 THEN 1 ELSE 0 END AS pass_stopwords
         | FROM m),
         |g AS (SELECT *,
         |   7 - pass_word_count - pass_mean_word_len - pass_symbol_ratio
         |     - pass_bullet_lines - pass_ellipsis_lines - pass_alpha_words
         |     - pass_stopwords AS n_rules_failed FROM f)
         |SELECT doc_id, n_words, mean_word_len, frac_alpha_words,
         |  symbol_word_ratio, frac_bullet_lines, frac_ellipsis_lines,
         |  n_stopwords, pass_word_count, pass_mean_word_len,
         |  pass_symbol_ratio, pass_bullet_lines, pass_ellipsis_lines,
         |  pass_alpha_words, pass_stopwords, n_rules_failed,
         |  CASE WHEN n_rules_failed = 0 THEN 1 ELSE 0 END AS pass
         |FROM g
         |ORDER BY doc_id $N1, n_words $N1, mean_word_len $N1,
         |  frac_alpha_words $N1, symbol_word_ratio $N1,
         |  frac_bullet_lines $N1, frac_ellipsis_lines $N1,
         |  n_stopwords $N1""".stripMargin,
    "q_text_quality" ->
      s"""WITH t AS (SELECT doc_id, length(text) AS n_chars,
         |  regexp_extract_all(text, '\\S+') AS toks,
         |  len(regexp_extract_all(text, '[^ -~]')) AS n_nonascii,
         |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
         |  FROM documents),
         |m AS (SELECT doc_id, n_chars, len(toks) AS n_tokens,
         |  len(list_filter(toks, x -> list_contains([$STOP_EN], x))) AS n_stop,
         |  list_sum(list_transform(toks, x -> length(x))) AS tok_chars,
         |  n_punct, n_nonascii FROM t)
         |SELECT doc_id, n_chars, n_tokens,
         |  CAST(tok_chars AS DOUBLE)/n_tokens AS mean_tok_len,
         |  CAST(n_stop AS DOUBLE)/n_tokens AS stopword_ratio,
         |  CAST(n_punct AS DOUBLE)/n_chars AS punct_ratio,
         |  (CASE WHEN n_tokens >= 10 THEN 1 ELSE 0 END +
         |   CASE WHEN CAST(tok_chars AS DOUBLE)/n_tokens BETWEEN 3 AND 12 THEN 1 ELSE 0 END +
         |   CASE WHEN CAST(n_stop AS DOUBLE)/n_tokens BETWEEN 0.01 AND 0.6 THEN 1 ELSE 0 END +
         |   CASE WHEN n_nonascii = 0 THEN 1 ELSE 0 END) AS quality_score
         |FROM m ORDER BY doc_id $N1, n_chars $N1, n_tokens $N1, mean_tok_len $N1,
         |stopword_ratio $N1, punct_ratio $N1, quality_score $N1""".stripMargin,
    "q_text_langid" -> langProfileSql,
    "q_corpus_clean" ->
      s"""WITH $cleanCtes
         |SELECT ld.doc_id, n_tokens, detected_lang, quality_score, top_bigram_ratio
         |FROM ld JOIN rep ON ld.doc_id = rep.doc_id
         |WHERE $cleanKeep
         |ORDER BY ld.doc_id $N1, n_tokens $N1, detected_lang $N1, quality_score $N1,
         |top_bigram_ratio $N1""".stripMargin,
    "q_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         |  len(regexp_extract_all(text, '\\S+')) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, shard, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
         |SELECT doc_id, shard, CAST(floor(CAST(cum - n_tokens AS DOUBLE)/512) AS BIGINT) AS seq_id,
         |  CAST(cum - n_tokens AS BIGINT) AS tok_offset, n_tokens
         |FROM c ORDER BY doc_id $N1, shard $N1, seq_id $N1, tok_offset $N1, n_tokens $N1""".stripMargin,
    // same shard/offset arithmetic as q_pack_sequences, then per-doc
    // sequence spans (pure arithmetic on tok_offset), piece reassembly
    // ordered by stream offset; /512.0 division is exact (power of two)
    "q_pack_materialize" ->
      s"""WITH t AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         |    regexp_extract_all(text, '\\S+') AS toks FROM documents),
         |c AS (SELECT doc_id, shard, toks, len(toks) AS n,
         |    sum(len(toks)) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - len(toks) AS off FROM t),
         |e AS (SELECT shard, off, n, toks,
         |    unnest(generate_series(CAST(floor(off/512.0) AS BIGINT),
         |                           CAST(floor((off + n - 1)/512.0) AS BIGINT)))
         |      AS seq_id
         |  FROM c WHERE n > 0),
         |p AS (SELECT shard, seq_id,
         |    off + GREATEST(0, seq_id*512 - off) AS poff,
         |    array_to_string(toks[CAST(GREATEST(0, seq_id*512 - off) + 1 AS BIGINT) :
         |                         CAST(LEAST(n, (seq_id+1)*512 - off) AS BIGINT)],
         |      ' ') AS piece,
         |    LEAST(n, (seq_id+1)*512 - off) - GREATEST(0, seq_id*512 - off) AS pn
         |  FROM e)
         |SELECT shard, seq_id, string_agg(piece, ' ' ORDER BY poff) AS text,
         |  CAST(sum(pn) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS n_docs
         |FROM p GROUP BY shard, seq_id
         |ORDER BY shard $N1, seq_id $N1, text $N1, n_tokens $N1, n_docs $N1""".stripMargin,
    "q_text_repetition" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         |b AS (SELECT doc_id, CAST(len(list_distinct(w)) AS DOUBLE)/len(w) AS dwr,
         |  [w[i] || ' ' || w[i+1] for i in generate_series(1, len(w)-1)] AS bg FROM t),
         |e AS (SELECT doc_id, dwr, unnest(bg) AS g FROM b),
         |c AS (SELECT doc_id, any_value(dwr) AS dwr, g, count(*) AS c FROM e GROUP BY doc_id, g)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         |  CAST(count(*) AS DOUBLE)/sum(c) AS distinct_bigram_ratio,
         |  CAST(max(c) AS DOUBLE)/sum(c) AS top_bigram_ratio,
         |  any_value(dwr) AS distinct_word_ratio
         |FROM c GROUP BY doc_id
         |ORDER BY doc_id $N1, n_bigrams $N1, distinct_bigram_ratio $N1,
         |top_bigram_ratio $N1, distinct_word_ratio $N1""".stripMargin,
    "q_text_fingerprint" ->
      s"""SELECT md5(text) AS fingerprint, min(doc_id) AS doc_id, count(*) AS n_dups
         |FROM documents GROUP BY md5(text)
         |ORDER BY fingerprint $N1, doc_id $N1, n_dups $N1""".stripMargin,
    // NFC + casefold + whitespace-collapse canonical form; DuckDB's
    // regexp_replace needs the 'g' flag (Spark's is global by default)
    "q_dedup_normalized" ->
      s"""WITH nrm AS (SELECT doc_id,
         |  md5(trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g')))
         |    AS fingerprint FROM documents)
         |SELECT fingerprint, min(doc_id) AS doc_id, count(*) AS n_dups
         |FROM nrm GROUP BY fingerprint
         |ORDER BY fingerprint $N1, doc_id $N1, n_dups $N1""".stripMargin,
    "q_dedup_aggressive" ->
      s"""WITH nrm AS (SELECT doc_id,
         |  md5(trim(regexp_replace(regexp_replace(regexp_replace(
         |    lower(nfc_normalize(text)),
         |    '[!-/:-@\\[-`{-~]', ' ', 'g'), '[0-9]', '0', 'g'),
         |    '\\s+', ' ', 'g'))) AS fingerprint FROM documents)
         |SELECT fingerprint, min(doc_id) AS doc_id, count(*) AS n_dups
         |FROM nrm GROUP BY fingerprint
         |ORDER BY fingerprint $N1, doc_id $N1, n_dups $N1""".stripMargin,
    "q_dedup_rates_by_source" ->
      s"""WITH RECURSIVE $jaccardCte,
         |pr AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |reach(id, r) AS (SELECT a, b FROM edges
         |  UNION SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
         |comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
         |kept AS (SELECT d.doc_id FROM documents d
         |         LEFT JOIN comp ON comp.id = d.doc_id
         |         WHERE d.doc_id = coalesce(comp.component, d.doc_id))
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(sum(CASE WHEN k.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_removed,
         |  round(CAST(sum(CASE WHEN k.doc_id IS NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS dup_rate
         |FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
         |GROUP BY d.source
         |ORDER BY source $N1, n_docs $N1, n_kept $N1, n_removed $N1,
         |  dup_rate $N1""".stripMargin,
    // same token definition (\S+ runs), same chunk arithmetic
    // (step = 64 - 16 = 48, count = max(1, ceil((n-16)/48))), same
    // 1-based inclusive slicing as Spark's slice(toks, i*48+1, 64)
    "q_chunk_documents" ->
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents),
         |c AS (SELECT doc_id, toks, len(toks) AS n,
         |  GREATEST(1, CAST(ceil((len(toks) - 16) / CAST(48 AS DOUBLE)) AS BIGINT)) AS nc FROM t),
         |e AS (SELECT doc_id, toks, n, unnest(range(nc)) AS i FROM c)
         |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
         |  array_to_string(list_slice(toks, i*48+1, i*48+64), ' ') AS chunk_text,
         |  CAST(LEAST(64, n - i*48) AS BIGINT) AS n_tokens
         |FROM e
         |ORDER BY doc_id $N1, chunk_id $N1, chunk_text $N1, n_tokens $N1""".stripMargin,
    // the oracle's regex chain is GENERATED from TextFunctions.
    // PiiPatterns (same strings, same order, 'g' = Spark's replace-all)
    // so the two sides cannot drift
    "q_redact_pii" -> {
      val planted = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || " +
        "'.7 ssn 123-45-6789 tel +14155550133'"
      val redacted = TextFunctions.PiiPatterns.foldLeft(planted) {
        case (expr, (pat, repl)) => s"regexp_replace($expr, '$pat', '$repl', 'g')"
      }
      s"""SELECT doc_id, $redacted AS redacted FROM documents
         |ORDER BY doc_id $N1, redacted $N1""".stripMargin
    },
    // counts generated from the same PiiPatterns chain: pattern i is
    // counted on the text with patterns 1..i-1 already replaced
    "q_pii_report" -> {
      val planted = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || " +
        "'.7 ssn 123-45-6789 tel +14155550133'"
      val labels = TextFunctions.PiiCountLabels
      val (counts, _) = labels.zip(TextFunctions.PiiPatterns).foldLeft(
        (Seq.empty[String], planted)) {
        case ((acc, cur), (label, (pat, repl))) =>
          (acc :+ s"CAST(len(regexp_extract_all($cur, '$pat')) AS BIGINT) AS $label",
            s"regexp_replace($cur, '$pat', '$repl', 'g')")
      }
      s"""SELECT doc_id, ${counts.mkString(",\n")} FROM documents
         |ORDER BY doc_id $N1, ${labels.map(l => s"$l $N1").mkString(", ")}""".stripMargin
    },
    "q_corpus_jsonl_roundtrip" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |ORDER BY doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin,
    "q_corpus_csv_roundtrip" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |ORDER BY doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin,
    "q_corpus_orc_roundtrip" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |ORDER BY doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin,
    "q_text_remove_stopwords" ->
      s"""SELECT doc_id, array_to_string(list_filter(string_split(text, ' '),
         |  t -> NOT lower(t) IN ($STOP_EN)), ' ') AS text
         |FROM documents
         |ORDER BY doc_id $N1, text $N1""".stripMargin,
    // vocab tokens = \S+ runs (the vocabulary operator's definition),
    // positions = string_split (the rewrite's) — both replayed
    "q_text_apply_vocab" ->
      s"""WITH v AS (SELECT token FROM (
         |    SELECT unnest(regexp_extract_all(text, '\\S+')) AS token
         |    FROM documents) GROUP BY token HAVING count(*) >= 5),
         |tp AS (SELECT doc_id, u.i AS i, u.tok AS tok FROM (
         |  SELECT doc_id, unnest([{'i': i, 'tok': t[i]}
         |      for i in generate_series(1, len(t))]) AS u
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |        WHERE length(text) > 0))),
         |m AS (SELECT tp.doc_id, tp.i,
         |    CASE WHEN v.token IS NOT NULL THEN tp.tok ELSE '<unk>' END AS tok
         |  FROM tp LEFT JOIN v ON tp.tok = v.token),
         |k AS (SELECT doc_id, array_to_string(list(tok ORDER BY i), ' ') AS text
         |  FROM m GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(k.text, d.text) AS text
         |FROM documents d LEFT JOIN k ON k.doc_id = d.doc_id
         |ORDER BY d.doc_id $N1, text $N1""".stripMargin,
    // Spark's 0-based lambda index replayed as i-1 on DuckDB's 1-based
    // positions; same md5-uniform arithmetic as the sampling oracles
    "q_text_word_dropout" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         |SELECT doc_id, array_to_string([t[i]
         |    for i in generate_series(1, len(t))
         |    if ('0x' || substring(md5('11#' || CAST(doc_id AS VARCHAR) || '#'
         |        || CAST(i - 1 AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0
         |      >= 0.2], ' ') AS text
         |FROM t
         |ORDER BY doc_id $N1, text $N1""".stripMargin,
    // counts generated from the same ScriptRanges list over the same
    // planted multi-script suffix
    "q_text_scripts" -> {
      val planted = "text || ' тест καλά اختبار परीक्षा 测试 테스트 テスト'"
      val labels = TextFunctions.ScriptRanges.map(_._1)
      val counts = TextFunctions.ScriptRanges.map { case (label, cls) =>
        s"CAST(len(regexp_extract_all($planted, '$cls')) AS BIGINT) AS $label"
      }
      s"""SELECT doc_id, ${counts.mkString(",\n")} FROM documents
         |ORDER BY doc_id $N1, ${labels.map(l => s"$l $N1").mkString(", ")}""".stripMargin
    },
    "q_gate_zlib" -> "SELECT CAST(1 AS INT) AS ok",
    "q_text_zscore" ->
      s"""WITH b AS (SELECT doc_id, lang, n_chars,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |s AS (SELECT lang, avg(n_chars) AS m1, stddev_samp(n_chars) AS s1,
         |    avg(n_tokens) AS m2, stddev_samp(n_tokens) AS s2
         |  FROM b GROUP BY lang)
         |SELECT b.doc_id, b.lang, b.n_chars, b.n_tokens,
         |  CASE WHEN s.s1 > 0 THEN round((b.n_chars - s.m1) / s.s1, 6) END
         |    AS n_chars_z,
         |  CASE WHEN s.s2 > 0 THEN round((b.n_tokens - s.m2) / s.s2, 6) END
         |    AS n_tokens_z
         |FROM b LEFT JOIN s USING (lang)
         |ORDER BY b.doc_id $N1, b.lang $N1, b.n_chars $N1, b.n_tokens $N1,
         |n_chars_z $N1, n_tokens_z $N1""".stripMargin,
    // the three card bodies joined on lang (each body is its own
    // graded oracle's text)
    "q_dataset_card" ->
      s"""WITH cs AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    count(DISTINCT text) AS n_distinct_texts,
         |    CAST(sum(length(text)) AS BIGINT) AS total_chars,
         |    CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
         |      AS total_tokens,
         |    round(avg(length(text)), 6) AS avg_doc_chars
         |  FROM documents GROUP BY lang),
         |lp AS (SELECT lang,
         |    round(quantile_cont(len(regexp_extract_all(text, '\\S+')), 0.5), 6)
         |      AS p50_tokens,
         |    round(quantile_cont(len(regexp_extract_all(text, '\\S+')), 0.9), 6)
         |      AS p90_tokens
         |  FROM documents GROUP BY lang),
         |ft AS (SELECT lang,
         |    CAST(sum(len(regexp_extract_all(text, '$BPE'))) AS BIGINT)
         |      AS total_bpe_tokens,
         |    CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
         |    CASE WHEN sum(len(regexp_extract_all(text, '\\S+'))) > 0
         |      THEN round(CAST(sum(len(regexp_extract_all(text, '$BPE')))
         |          AS DOUBLE) / sum(len(regexp_extract_all(text, '\\S+'))), 6)
         |    END AS fertility,
         |    CASE WHEN sum(len(regexp_extract_all(text, '$BPE'))) > 0
         |      THEN round(CAST(sum(strlen(text)) AS DOUBLE)
         |          / sum(len(regexp_extract_all(text, '$BPE'))), 6)
         |    END AS bytes_per_token
         |  FROM documents GROUP BY lang)
         |SELECT cs.*, lp.p50_tokens, lp.p90_tokens, ft.total_bpe_tokens,
         |  ft.total_bytes, ft.fertility, ft.bytes_per_token
         |FROM cs JOIN lp USING (lang) JOIN ft USING (lang)
         |ORDER BY lang $N1, n_docs $N1, n_distinct_texts $N1, total_chars $N1,
         |total_tokens $N1, avg_doc_chars $N1, p50_tokens $N1, p90_tokens $N1,
         |total_bpe_tokens $N1, total_bytes $N1, fertility $N1,
         |bytes_per_token $N1""".stripMargin,
    "q_text_fertility" ->
      s"""WITH a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
         |      AS total_words,
         |    CAST(sum(len(regexp_extract_all(text, '$BPE'))) AS BIGINT)
         |      AS total_bpe_tokens,
         |    CAST(sum(strlen(text)) AS BIGINT) AS total_bytes
         |  FROM documents GROUP BY lang)
         |SELECT lang, n_docs, total_words, total_bpe_tokens, total_bytes,
         |  CASE WHEN total_words > 0
         |    THEN round(CAST(total_bpe_tokens AS DOUBLE) / total_words, 6)
         |  END AS fertility,
         |  CASE WHEN total_bpe_tokens > 0
         |    THEN round(CAST(total_bytes AS DOUBLE) / total_bpe_tokens, 6)
         |  END AS bytes_per_token
         |FROM a
         |ORDER BY lang $N1, n_docs $N1, total_words $N1, total_bpe_tokens $N1,
         |total_bytes $N1, fertility $N1, bytes_per_token $N1""".stripMargin,
    "q_dedup_exact" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
         |ORDER BY doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin,
    "q_dedup_cap" ->
      s"""WITH d AS (SELECT * FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text, lang, source, n_chars
         |    FROM documents WHERE doc_id % 50 = 0
         |  UNION ALL SELECT doc_id + 2000000, text, lang, source, n_chars
         |    FROM documents WHERE doc_id % 50 = 0)
         |SELECT doc_id, text, lang, source, n_chars FROM d
         |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) <= 2
         |ORDER BY doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin,
    "q_dedup_softweights" ->
      s"""WITH d AS (SELECT * FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text, lang, source, n_chars
         |    FROM documents WHERE doc_id % 50 = 0
         |  UNION ALL SELECT doc_id + 2000000, text, lang, source, n_chars
         |    FROM documents WHERE doc_id % 50 = 0)
         |SELECT doc_id, CAST(count(*) OVER (PARTITION BY text) AS BIGINT)
         |    AS n_copies,
         |  round(CAST(1.0 AS DOUBLE) / count(*) OVER (PARTITION BY text), 6)
         |    AS weight
         |FROM d
         |ORDER BY doc_id $N1, n_copies $N1, weight $N1""".stripMargin,
    "q_dedup_ngram_pairs" -> jaccardSql,
    "q_dedup_minhash" -> jaccardSql,
    // asymmetric containment over the same candidate CTE: one row per
    // qualifying direction, threshold on the UNROUNDED ratio
    "q_dedup_containment" ->
      s"""WITH $jaccardCte,
         |w AS (SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) AS i,
         |    len(x.s) AS ca, len(y.s) AS cb
         |  FROM cand JOIN sh x ON x.doc_id = doc_a
         |            JOIN sh y ON y.doc_id = doc_b),
         |dirs AS (
         |  SELECT doc_a AS doc_contained, doc_b AS doc_container,
         |    round(i / ca, 6) AS containment FROM w
         |  WHERE ca > 0 AND i / ca >= 0.8
         |  UNION ALL
         |  SELECT doc_b, doc_a, round(i / cb, 6) FROM w
         |  WHERE cb > 0 AND i / cb >= 0.8)
         |SELECT doc_contained, doc_container, containment FROM dirs
         |ORDER BY doc_contained $N1, doc_container $N1, containment $N1""".stripMargin,

    // containment decision rule over the same candidate CTE: drop every
    // contained doc unless mutually contained with a LARGER id
    "q_dedup_drop_contained" ->
      s"""WITH $jaccardCte,
         |w AS (SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) AS i,
         |    len(x.s) AS ca, len(y.s) AS cb
         |  FROM cand JOIN sh x ON x.doc_id = doc_a
         |            JOIN sh y ON y.doc_id = doc_b),
         |dirs AS (
         |  SELECT doc_a AS doc_contained, doc_b AS doc_container FROM w
         |  WHERE ca > 0 AND i / ca >= 0.8
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM w WHERE cb > 0 AND i / cb >= 0.8),
         |drops AS (SELECT DISTINCT d.doc_contained AS id FROM dirs d
         |  LEFT JOIN dirs r ON r.doc_contained = d.doc_container
         |                  AND r.doc_container = d.doc_contained
         |  WHERE r.doc_contained IS NULL OR d.doc_contained > d.doc_container)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM drops)
         |ORDER BY doc_id $N1, lang $N1, source $N1""".stripMargin,

    // full-outer fingerprint compare; null-safe equality mirrors <=>
    "q_corpus_diff" ->
      s"""WITH old AS (SELECT doc_id, text FROM documents),
         |new AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 31 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 97 != 0
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20),
         |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |       WHEN n.doc_id IS NULL THEN 'removed'
         |       WHEN md5(o.text) = md5(n.text)
         |            OR (o.text IS NULL AND n.text IS NULL) THEN 'unchanged'
         |       ELSE 'changed' END AS status
         |  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
         |SELECT doc_id, status FROM j
         |ORDER BY doc_id $N1, status $N1""".stripMargin,

    // md5-uniform order + key tie-break, LIMIT N — the oracle replays
    // TakeOrderedAndProject's selection exactly
    "q_sample_exact_n" ->
      s"""WITH s AS (SELECT doc_id, text, lang, source, n_chars FROM documents
         |  ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |    / 4294967296.0, doc_id
         |  LIMIT 100)
         |SELECT * FROM s
         |ORDER BY doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin,

    // the sweep card over the same pair CTE: per-threshold conditional
    // counts + distinct-doc counts, corpus denominator
    "q_dedup_sweep" ->
      s"""WITH $jaccardCte,
         |p AS (SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5),
         |st AS (SELECT doc_a AS d, jaccard FROM p
         |       UNION ALL SELECT doc_b, jaccard FROM p),
         |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
         |t(threshold) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.7 AS DOUBLE)),
         |                        (CAST(0.85 AS DOUBLE)))
         |SELECT t.threshold,
         |  CAST((SELECT count(*) FROM p WHERE jaccard >= t.threshold) AS BIGINT)
         |    AS n_pairs,
         |  CAST((SELECT count(DISTINCT d) FROM st WHERE jaccard >= t.threshold)
         |    AS BIGINT) AS n_docs_in_pairs,
         |  round((SELECT count(DISTINCT d) FROM st WHERE jaccard >= t.threshold)
         |    / nd.n, 6) AS pct_docs_in_pairs
         |FROM t CROSS JOIN nd
         |ORDER BY threshold $N1, n_pairs $N1, n_docs_in_pairs $N1,
         |  pct_docs_in_pairs $N1""".stripMargin,
    // full cross-product rank for the query slice: exact because every
    // blocked candidate has jaccard > 0 and no shingle df exceeds the
    // cap on this corpus (max df 2 — see q_dedup_index_append notes)
    "q_jaccard_topk" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+4],' ')
         |  for i in generate_series(1, len(t)-4)]) AS s FROM toks),
         |p AS (SELECT q.doc_id, c.doc_id AS neighbor_id,
         |    CAST(len(list_intersect(q.s, c.s)) AS DOUBLE) /
         |      len(list_distinct(list_concat(q.s, c.s))) AS jaccard
         |  FROM sh q JOIN sh c ON c.doc_id != q.doc_id WHERE q.doc_id < 20),
         |r AS (SELECT doc_id, neighbor_id, jaccard,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY jaccard DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM p WHERE jaccard > 0)
         |SELECT doc_id, neighbor_id, jaccard, rank FROM r WHERE rank <= 5
         |ORDER BY doc_id $N1, neighbor_id $N1, jaccard $N1, rank $N1""".stripMargin,
    // same 13-gram definition as the Spark shingles (string n-grams in
    // the oracle vs xxhash64'd in Spark — same decisions, the hashing
    // is injective in practice exactly like the jaccard oracles);
    // the bloom variant is output-identical by contract (exact confirm
    // removes Bloom false positives), so it shares the oracle
    "q_decontaminate" -> oracleDecontaminateSql,
    // windows whose 8-gram appears anywhere in the eval slice are cut;
    // the rebuild tail is q_dedup_window_removal's
    "q_decontaminate_scrub" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |ev AS (SELECT DISTINCT u AS g FROM (
         |  SELECT unnest([array_to_string(t[i:i+7],' ')
         |    for i in generate_series(1, len(t)-7)]) AS u
         |  FROM toks WHERE doc_id % 97 = 0)),
         |occ AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM (
         |  SELECT doc_id, unnest([{'pos': i, 'g': array_to_string(t[i:i+7],' ')}
         |    for i in generate_series(1, len(t)-7)]) AS u FROM toks)),
         |bad AS (SELECT occ.doc_id, occ.pos FROM occ
         |        WHERE occ.g IN (SELECT g FROM ev)),
         |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos+7)) AS tp
         |        FROM bad),
         |tokpos AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
         |  SELECT doc_id, unnest([{'pos': i, 'tok': t[i]}
         |    for i in generate_series(1, len(t))]) AS u FROM toks)),
         |kept AS (SELECT tp.doc_id,
         |    array_to_string(list(tp.tok ORDER BY tp.pos), ' ') AS text
         |  FROM tokpos tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.tp = tp.pos
         |  WHERE cov.tp IS NULL GROUP BY tp.doc_id)
         |SELECT d.doc_id, coalesce(k.text, '') AS text
         |FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
         |ORDER BY d.doc_id $N1, text $N1""".stripMargin,
    "q_decontaminate_bloom" -> oracleDecontaminateSql,
    // cross-set twin of jaccardCte: shingles over both sets, df-cap on
    // the index side only, candidates new x old, exact-Jaccard verify,
    // survivors = exact-absent AND near-dup-absent
    // per-doc DISTINCT 13-gram lists on both sides (mirrors shingled's
    // distinct hashing), pair count = distinct shared grams
    "q_decontaminate_report" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+12],' ')
         |  for i in generate_series(1, len(t)-12)]) AS s FROM toks),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |eg AS (SELECT doc_id AS eval_id, g FROM ex WHERE doc_id % 97 = 0)
         |SELECT ex.doc_id, eg.eval_id, CAST(count(*) AS BIGINT) AS n_shared_grams
         |FROM ex JOIN eg USING (g) GROUP BY ex.doc_id, eg.eval_id
         |ORDER BY ex.doc_id $N1, eval_id $N1, n_shared_grams $N1""".stripMargin,
    // gram counts are over DISTINCT n-gram STRINGS (the Spark side
    // counts distinct 64-bit hashes — equal modulo ~2^-64 collisions);
    // BIGINT / BIGINT is float division in both engines, round(x,6)
    // equalizes
    "q_corpus_overlap" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+4],' ')
         |  for i in generate_series(1, len(t)-4)]) AS s FROM toks),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |ga AS (SELECT doc_id, g FROM ex WHERE doc_id < 300),
         |gb AS (SELECT DISTINCT g FROM ex WHERE doc_id >= 200),
         |da AS (SELECT DISTINCT g FROM ga),
         |c AS (SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM da) AS grams_a,
         |  (SELECT CAST(count(*) AS BIGINT) FROM gb) AS grams_b,
         |  (SELECT CAST(count(*) AS BIGINT) FROM da JOIN gb USING (g)) AS shared_grams,
         |  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM ga JOIN gb USING (g)) AS docs_a_overlap,
         |  (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id < 300) AS docs_a)
         |SELECT grams_a, grams_b, shared_grams,
         |  round(shared_grams / (grams_a + grams_b - shared_grams), 6) AS gram_jaccard,
         |  round(shared_grams / grams_a, 6) AS containment_a,
         |  round(shared_grams / grams_b, 6) AS containment_b,
         |  docs_a, docs_a_overlap,
         |  round(docs_a_overlap / docs_a, 6) AS doc_overlap_rate_a
         |FROM c""".stripMargin,

    "q_corpus_overlap_matrix" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+4],' ')
         |  for i in generate_series(1, len(t)-4)]) AS s FROM toks),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |gs AS (SELECT DISTINCT d.source AS grp, e.g FROM ex e JOIN documents d USING (doc_id)),
         |tot AS (SELECT grp, CAST(count(*) AS BIGINT) AS grams FROM gs GROUP BY grp),
         |pr AS (SELECT a.grp AS group_a, b.grp AS group_b,
         |         CAST(count(*) AS BIGINT) AS shared_grams
         |       FROM gs a JOIN gs b USING (g) WHERE a.grp < b.grp GROUP BY 1, 2)
         |SELECT group_a, group_b, ta.grams AS grams_a, tb.grams AS grams_b,
         |  shared_grams,
         |  round(shared_grams / (ta.grams + tb.grams - shared_grams), 6) AS gram_jaccard
         |FROM pr JOIN tot ta ON pr.group_a = ta.grp JOIN tot tb ON pr.group_b = tb.grp
         |ORDER BY group_a $N1, group_b $N1, grams_a $N1, grams_b $N1,
         |  shared_grams $N1, gram_jaccard $N1""".stripMargin,

    "q_dedup_incremental" -> oracleIncrementalSql,

    // the indexed delta must agree with the live delta to the row — one
    // oracle text, two execution paths
    "q_dedup_incremental_indexed" -> oracleIncrementalSql,

    // ...and the APPEND-built index must agree with both: one oracle
    // text, three execution paths (live, one-shot index, build+append)
    "q_dedup_index_append" -> oracleIncrementalSql,
    "q_dedup_index_compact" -> oracleIncrementalSql,

    // the whole pretrain pipeline, composed from the SAME oracle
    // fragments its stages grade against individually: clean CTEs ->
    // full-corpus jaccard closure restricted to cleaned membership ->
    // 13-gram decontamination -> hash split -> per-lang token budget ->
    // packing arithmetic (all parameters mirror the Spark composition)
    "q_pipeline_pretrain" ->
      s"""WITH RECURSIVE $cleanCtes,
         |cleanids AS (SELECT ld.doc_id FROM ld JOIN rep ON ld.doc_id = rep.doc_id
         |  WHERE $cleanKeep),
         |$jaccardCte,
         |pr AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |reach(id, r) AS (SELECT a, b FROM edges
         |  UNION SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
         |comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
         |mem AS (SELECT c.doc_id, coalesce(comp.component, c.doc_id) AS component
         |        FROM cleanids c LEFT JOIN comp ON comp.id = c.doc_id),
         |surv AS (SELECT doc_id FROM mem
         |  QUALIFY row_number() OVER (PARTITION BY component ORDER BY doc_id) = 1),
         |toks13 AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |sh13 AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+12],' ')
         |  for i in generate_series(1, len(t)-12)]) AS s FROM toks13),
         |ex13 AS (SELECT doc_id, unnest(s) AS g FROM sh13),
         |eg13 AS (SELECT DISTINCT g FROM ex13 WHERE doc_id % 97 = 0),
         |bad13 AS (SELECT DISTINCT ex13.doc_id FROM ex13 JOIN eg13 USING (g)),
         |train AS (SELECT doc_id FROM surv
         |  WHERE doc_id NOT IN (SELECT doc_id FROM bad13)
         |    AND ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |        / 4294967296.0 < 0.8),
         |tb AS (SELECT d.doc_id, d.lang,
         |    coalesce(len(regexp_extract_all(d.text, '\\S+')), 0) AS sz,
         |    ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      / 4294967296.0 AS uni
         |  FROM documents d JOIN train USING (doc_id)),
         |cb AS (SELECT *, sum(sz) OVER (PARTITION BY lang ORDER BY uni, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM tb),
         |samp AS (SELECT doc_id FROM cb WHERE cum - sz < 2000),
         |pk AS (SELECT d.doc_id, CAST(d.doc_id % 4 AS INT) AS shard,
         |    len(regexp_extract_all(d.text, '\\S+')) AS n_tokens
         |  FROM documents d JOIN samp USING (doc_id)),
         |pc AS (SELECT doc_id, shard, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM pk)
         |SELECT doc_id, shard,
         |  CAST(floor(CAST(cum - n_tokens AS DOUBLE)/512) AS BIGINT) AS seq_id,
         |  CAST(cum - n_tokens AS BIGINT) AS tok_offset, n_tokens
         |FROM pc ORDER BY doc_id $N1, shard $N1, seq_id $N1, tok_offset $N1,
         |n_tokens $N1""".stripMargin,

    // transitive closure of the near-dup pair graph via recursive CTE:
    // component = min reachable id; keep each component's min plus all
    // docs outside the pair graph
    "q_dedup_windows" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+7],' ')
         |       for i in generate_series(1, len(t)-7)]) AS s FROM toks),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |dup AS (SELECT g FROM ex GROUP BY g HAVING count(*) >= 2),
         |cnt AS (SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS dup_windows
         |        FROM ex JOIN dup USING (g) GROUP BY ex.doc_id)
         |SELECT sh.doc_id, CAST(len(sh.s) AS BIGINT) AS n_windows,
         |  coalesce(cnt.dup_windows, 0) AS dup_windows,
         |  CASE WHEN len(sh.s) > 0 THEN
         |    round(CAST(coalesce(cnt.dup_windows, 0) AS DOUBLE) / len(sh.s), 6)
         |  END AS dup_ratio
         |FROM sh LEFT JOIN cnt ON cnt.doc_id = sh.doc_id
         |ORDER BY sh.doc_id $N1, n_windows $N1, dup_windows $N1, dup_ratio $N1""".stripMargin,
    // same planted construction, line-positional struct unnest, blank
    // lines excluded from dedup, first occurrence by (doc_id, pos)
    // survives, survivors re-joined with newlines — mirrors
    // removeDuplicatedLines exactly (line strings here vs xxhash64 in
    // Spark: injective in practice, the standing argument)
    "q_dedup_lines" ->
      s"""WITH planted AS (SELECT doc_id, text || chr(10) || 'footer ' || source ||
         |    chr(10) || 'sig ' || CAST(doc_id % 7 AS VARCHAR) AS text FROM documents),
         |toks AS (SELECT doc_id, string_split(text, chr(10)) AS t FROM planted),
         |linepos AS (SELECT doc_id, u.pos AS pos, u.l AS l FROM (
         |  SELECT doc_id, unnest([{'pos': i, 'l': t[i]}
         |    for i in generate_series(1, len(t))]) AS u FROM toks)),
         |occ AS (SELECT doc_id, pos, l FROM linepos WHERE trim(l) != ''),
         |bad AS (SELECT doc_id, pos FROM occ
         |  QUALIFY count(*) OVER (PARTITION BY l) >= 2
         |      AND row_number() OVER (PARTITION BY l ORDER BY doc_id, pos) > 1),
         |kept AS (SELECT lp.doc_id,
         |    array_to_string(list(lp.l ORDER BY lp.pos), chr(10)) AS text
         |  FROM linepos lp LEFT JOIN bad ON bad.doc_id = lp.doc_id AND bad.pos = lp.pos
         |  WHERE bad.pos IS NULL GROUP BY lp.doc_id)
         |SELECT p.doc_id,
         |  CASE WHEN p.text IS NULL THEN NULL ELSE coalesce(k.text, '') END AS text
         |FROM planted p LEFT JOIN kept k ON k.doc_id = p.doc_id
         |ORDER BY p.doc_id $N1, text $N1""".stripMargin,
    // positional windows (struct unnest keeps 1-based start positions),
    // occurrence count >= 2 over ALL occurrences (same-doc repeats
    // included), canonical = first by (doc_id, pos), covered token
    // positions removed, survivors re-joined — mirrors
    // removeDuplicatedWindows exactly (hashes vs strings: injective in
    // practice, same argument as the jaccard oracles)
    "q_dedup_window_removal" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |occ AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM (
         |  SELECT doc_id, unnest([{'pos': i, 'g': array_to_string(t[i:i+7],' ')}
         |    for i in generate_series(1, len(t)-7)]) AS u FROM toks)),
         |bad AS (SELECT doc_id, pos FROM occ
         |  QUALIFY count(*) OVER (PARTITION BY g) >= 2
         |      AND row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) > 1),
         |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos+7)) AS tp
         |        FROM bad),
         |tokpos AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
         |  SELECT doc_id, unnest([{'pos': i, 'tok': t[i]}
         |    for i in generate_series(1, len(t))]) AS u FROM toks)),
         |kept AS (SELECT tp.doc_id,
         |    array_to_string(list(tp.tok ORDER BY tp.pos), ' ') AS text
         |  FROM tokpos tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.tp = tp.pos
         |  WHERE cov.tp IS NULL GROUP BY tp.doc_id)
         |SELECT d.doc_id, coalesce(k.text, '') AS text
         |FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
         |ORDER BY d.doc_id $N1, text $N1""".stripMargin,
    // GENERATED oracle: DuckDB re-derives every token hash with its own
    // XXH64 (HUGEINT wrapping arithmetic) and rebuilds the 63-bit
    // vote fingerprint — see SimhashOracle/Xxh64Sql
    "q_dedup_simhash" -> SimhashOracle,
    // same \S+ tokens, 1-based inclusive slices, md5-hex lexicographic
    // minima as the Spark side; short docs (>= k tokens, < window
    // grams) take the min over all grams via the greatest(1, ...) floor
    "q_dedup_winnow" ->
      s"""WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t
         |              FROM documents),
         |g AS (SELECT doc_id,
         |        [md5(array_to_string(t[i:i+4], ' '))
         |         for i in generate_series(1, len(t)-4)] AS gs
         |      FROM toks WHERE len(t) >= 5),
         |w AS (SELECT doc_id,
         |        [list_min(gs[i:i+3])
         |         for i in generate_series(1, greatest(1, len(gs)-3))] AS fps
         |      FROM g)
         |SELECT DISTINCT doc_id, unnest(fps) AS fingerprint FROM w
         |ORDER BY doc_id $N1, fingerprint $N1""".stripMargin,
    "q_dedup_lineage" ->
      s"""WITH RECURSIVE $jaccardCte,
         |pr AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |reach(id, r) AS (SELECT a, b FROM edges
         |  UNION SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
         |comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
         |mem AS (SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS component
         |        FROM documents d LEFT JOIN comp ON comp.id = d.doc_id),
         |st AS (SELECT component, min(doc_id) AS survivor_id,
         |       CAST(count(*) AS BIGINT) AS n_members FROM mem GROUP BY component)
         |SELECT st.survivor_id, st.n_members,
         |  coalesce(string_agg(CASE WHEN m.doc_id <> st.survivor_id
         |    THEN CAST(m.doc_id AS VARCHAR) END, ',' ORDER BY m.doc_id), '')
         |    AS removed_ids
         |FROM st JOIN mem m ON m.component = st.component
         |GROUP BY st.survivor_id, st.n_members
         |ORDER BY survivor_id $N1, n_members $N1, removed_ids $N1""".stripMargin,
    "q_dedup_collapse_best" ->
      s"""WITH RECURSIVE $jaccardCte,
         |pr AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |reach(id, r) AS (SELECT a, b FROM edges
         |  UNION SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
         |comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
         |mem AS (SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS component,
         |        d.n_chars FROM documents d LEFT JOIN comp ON comp.id = d.doc_id),
         |best AS (SELECT component, doc_id FROM mem
         |  QUALIFY row_number() OVER (PARTITION BY component
         |    ORDER BY n_chars DESC, doc_id) = 1)
         |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         |FROM documents d JOIN best ON best.doc_id = d.doc_id
         |ORDER BY d.doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin,
    "q_dedup_collapse" ->
      s"""WITH RECURSIVE $jaccardCte,
         |pr AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |reach(id, r) AS (SELECT a, b FROM edges
         |  UNION SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
         |comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id)
         |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         |FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
         |WHERE d.doc_id = coalesce(comp.component, d.doc_id)
         |ORDER BY doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin,
    // Golden-literal oracles: DuckDB cannot recompute the Spark-side
    // hashing these gates measure, but the measured values are
    // DETERMINISTIC (fixed seeds, fixed 250-query sample, exact integer
    // hits), so the oracle pins them — a recall/coverage regression
    // becomes a CORRECTNESS hash mismatch. Values measured at sf0.01;
    // update alongside any intentional parameter change.
    // ann_ivf_auto re-pinned for round 6's asymmetric IVF candidates
    // (recall 0.9864 at the 0.7 worst-case auto probe fraction — the
    // round-5 symmetric model's 1.0 was bought with 99.6%-of-all-pairs
    // candidate volume, i.e. no pruning; see ivfCandidatePairs).
    "q_gate_ann_recall" ->
      s"""SELECT * FROM (VALUES
         |  ('ann_ivf_auto', CAST(1233 AS BIGINT), CAST(1250 AS BIGINT), CAST(0.9864 AS DOUBLE)),
         |  ('ann_lsh_12x6', CAST(570 AS BIGINT), CAST(1250 AS BIGINT), CAST(0.456 AS DOUBLE)),
         |  ('ann_lsh_32x3', CAST(1249 AS BIGINT), CAST(1250 AS BIGINT), CAST(0.9992 AS DOUBLE))
         |) AS t(method, hits, total, recall)
         |ORDER BY method $N1, hits $N1, total $N1, recall $N1""".stripMargin,
    "q_gate_simhash" ->
      s"""SELECT CAST(25 AS BIGINT) AS strong_pairs, CAST(25 AS BIGINT) AS covered_pairs,
         |CAST(1.0 AS DOUBLE) AS coverage""".stripMargin,
    // Seeded planted-cluster frame (SF-invariant): asymmetric IVF at
    // nprobe=4 over 32 cells prunes the clustered corpus 5.98x vs
    // all-pairs at recall 1.0 — the exact values SimilaritySpec's
    // clustered test measures.
    // spherical k-means with farthest-first init recovers the planted
    // 20-cluster partition exactly (measured stable across runs)
    "q_gate_kmeans" ->
      s"""SELECT CAST(20 AS BIGINT) AS n_clusters, CAST(1.0 AS DOUBLE) AS purity""",
    // PCA on the planted-subspace frame: axis alignment 1.0 / 1.0 at 3
    // decimals, explained variance 0.9884 (measured, byte-stable runs)
    "q_gate_pca" ->
      s"""SELECT CAST(1.0 AS DOUBLE) AS align1, CAST(1.0 AS DOUBLE) AS align2,
         |CAST(0.9884 AS DOUBLE) AS evr""".stripMargin,
    // PQ (m=8, 16 codes) on the planted frame: all 200x5 compressed
    // neighbors in the correct cluster (measured; SF-invariant frame)
    "q_gate_pq" ->
      s"""SELECT CAST(1000 AS BIGINT) AS pairs, CAST(1.0 AS DOUBLE) AS cluster_purity""",
    // composed IVF-PQ on the same frame: adaptive nprobe <= 8 pruning,
    // purity intact (measured; SF-invariant frame)
    "q_gate_ivfpq" ->
      s"""SELECT CAST(1000 AS BIGINT) AS pairs, CAST(1.0 AS DOUBLE) AS cluster_purity""",
    // logistic GD recovers the planted separable concept exactly
    "q_gate_classifier" ->
      s"""SELECT CAST(1.0 AS DOUBLE) AS accuracy""",
    // hashed-text logistic GD recovers the planted vocab split exactly
    "q_gate_textclf" ->
      s"""SELECT CAST(1.0 AS DOUBLE) AS accuracy""",
    // hand-computed Viterbi segmentations of the planted strings
    "q_text_unigram_encode" ->
      s"""SELECT * FROM (VALUES
         |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT),
         |   CAST(1.0 AS DOUBLE)),
         |  (CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT),
         |   CAST(3.0 AS DOUBLE)),
         |  (CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT),
         |   CAST(2.0 AS DOUBLE)),
         |  (CAST(4 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |   CAST(NULL AS DOUBLE)))
         |  AS t(doc_id, n_tokens, n_pieces, pieces_per_token)
         |ORDER BY doc_id $N1, n_tokens $N1, n_pieces $N1, pieces_per_token $N1""".stripMargin,
    // EM converges to {aaaa, bbbb, a, b}: 4 pieces, full mass, fertility
    // (50*1 + 50*1 + 20*2) / 120 = 1.166667
    "q_gate_unigram" ->
      s"""SELECT CAST(4 AS INT) AS n_pieces, CAST(1.0 AS DOUBLE) AS prob_mass,
         |CAST(1.166667 AS DOUBLE) AS mean_fertility""".stripMargin,
    // char-n-gram one-vs-rest langid recovers the language EXACTLY on
    // 2-word stopword-free eval docs where the profile path scores 0.0
    // (every doc falls through to "unknown") — the pinned pair IS the
    // short-text upgrade claim
    "q_gate_langid" ->
      s"""SELECT CAST(1.0 AS DOUBLE) AS accuracy, CAST(0.0 AS DOUBLE) AS profile_accuracy""",
    "q_gate_ivf_clustered" ->
      s"""SELECT CAST(83550 AS BIGINT) AS candidates, CAST(499500 AS BIGINT) AS all_pairs,
         |CAST(5.98 AS DOUBLE) AS pruning_factor, CAST(1.0 AS DOUBLE) AS recall""".stripMargin,
    "q_dedup_embedding" ->
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round($cosSql, 6) AS cos_sim
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE $cosSql >= 0.45
         |ORDER BY vec_a $N1, vec_b $N1, cos_sim $N1""".stripMargin,
    "q_decontaminate_semantic" ->
      s"""WITH bad AS (SELECT DISTINCT a.vec_id
         |  FROM embeddings a JOIN embeddings b ON b.vec_id % 97 = 0
         |  WHERE $cosSql >= 0.45)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM bad)
         |ORDER BY vec_id $N1, label $N1""".stripMargin,
    "q_dedup_semantic" ->
      s"""WITH RECURSIVE pr AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |  WHERE $cosSql >= 0.45),
         |edges AS (SELECT va AS a, vb AS b FROM pr
         |          UNION SELECT vb, va FROM pr),
         |reach(id, r) AS (SELECT a, b FROM edges
         |  UNION SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
         |comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id)
         |SELECT v.vec_id, v.label
         |FROM embeddings v LEFT JOIN comp ON comp.id = v.vec_id
         |WHERE v.vec_id = coalesce(comp.component, v.vec_id)
         |ORDER BY vec_id $N1, label $N1""".stripMargin,
    // zipped unnest + generate_subscripts (0-based in Spark's posexplode
    // -> i-1 here); per-dim avg rounded to 6 like the Spark side
    // sigmoid(dot + bias) with the weight array generated from the
    // same fixture; pred from the RAW score, round-6 published
    "q_emb_score" -> {
      val ws = EmbScoreWeights.map(w => s"CAST($w AS DOUBLE)").mkString(", ")
      s"""WITH sc AS (SELECT vec_id,
         |  CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) +
         |    exp(-(list_dot_product(embedding, [$ws])
         |          + CAST($EmbScoreBias AS DOUBLE)))) AS s
         |  FROM embeddings)
         |SELECT vec_id, round(s, 6) AS score, CAST(s >= 0.5 AS INT) AS pred
         |FROM sc
         |ORDER BY vec_id $N1, score $N1, pred $N1""".stripMargin
    },
    // same sigmoid replay as q_emb_score, round-6 BEFORE the bin floor
    "q_clf_calibration" -> {
      val ws = EmbScoreWeights.map(w => s"CAST($w AS DOUBLE)").mkString(", ")
      s"""WITH sc AS (SELECT
         |  round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) +
         |    exp(-(list_dot_product(embedding, [$ws])
         |          + CAST($EmbScoreBias AS DOUBLE)))), 6) AS score,
         |  label % 2 AS target
         |  FROM embeddings)
         |SELECT CAST(least(9, floor(score * 10)) AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n,
         |  round(avg(score), 6) AS mean_score,
         |  round(avg(CAST(target AS DOUBLE)), 6) AS observed_rate,
         |  round(avg(score) - avg(CAST(target AS DOUBLE)), 6) AS gap
         |FROM sc GROUP BY 1
         |ORDER BY bin $N1, n $N1, mean_score $N1, observed_rate $N1, gap $N1""".stripMargin
    },
    // prefix slice + L2 renormalize, per-element rows
    "q_emb_truncate" ->
      s"""WITH p AS (SELECT vec_id, (embedding[1:16])::DOUBLE[] AS pre
         |  FROM embeddings),
         |n AS (SELECT vec_id, pre,
         |  sqrt(list_dot_product(pre, pre)) AS nn FROM p),
         |s AS (SELECT vec_id,
         |  unnest(list_transform(pre, x ->
         |    round(CASE WHEN nn > 0 THEN x / nn ELSE 0.0 END, 6))) AS value,
         |  generate_subscripts(pre, 1) - 1 AS dim FROM n)
         |SELECT vec_id, CAST(dim AS INT) AS dim, value FROM s
         |ORDER BY vec_id $N1, dim $N1, value $N1""".stripMargin,
    "q_emb_centroids" ->
      s"""WITH e AS (SELECT label, unnest(embedding::DOUBLE[]) AS x,
         |    generate_subscripts(embedding, 1) AS i FROM embeddings),
         |m AS (SELECT label, i, round(avg(x), 6) AS v, count(*) AS c
         |      FROM e GROUP BY label, i),
         |n AS (SELECT label, CAST(max(c) AS BIGINT) AS n_vectors FROM m GROUP BY label)
         |SELECT m.label, n.n_vectors, CAST(m.i - 1 AS INT) AS dim, m.v AS value
         |FROM m JOIN n ON n.label = m.label
         |ORDER BY m.label $N1, n_vectors $N1, dim $N1, value $N1""".stripMargin,
    // centroids from the same per-(label, dim) round-6 means, cosine in
    // the cosSql double shape, argmax ties to the lowest centroid id
    "q_emb_route" ->
      s"""WITH e AS (SELECT label, unnest(embedding::DOUBLE[]) AS x,
         |    generate_subscripts(embedding, 1) AS i FROM embeddings),
         |m AS (SELECT label, i, round(avg(x), 6) AS v FROM e GROUP BY label, i),
         |cent AS (SELECT label AS cid, list(v ORDER BY i) AS c FROM m GROUP BY label),
         |s AS (SELECT a.vec_id, cent.cid,
         |    list_dot_product(a.embedding::DOUBLE[], cent.c) /
         |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
         |       sqrt(list_dot_product(cent.c, cent.c))) AS cos
         |  FROM embeddings a CROSS JOIN cent)
         |SELECT vec_id, cid AS nearest, round(cos, 6) AS cos_sim FROM s
         |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) = 1
         |ORDER BY vec_id $N1, nearest $N1, cos_sim $N1""".stripMargin,
    // int8 scalar quantization replayed exactly: floor(x/n*127+0.5) is
    // the same double op both sides; the fold-ordered dots match
    // list_dot_product bit-for-bit; rank on the ROUNDED score.
    "q_sim_sq" ->
      s"""WITH nq AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
         |    x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS qv
         |  FROM embeddings WHERE vec_id < 20),
         |cc AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
         |    x -> floor(x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * 127.0 + 0.5)) AS codes
         |  FROM embeddings),
         |p AS (SELECT q.vec_id, c.vec_id AS neighbor_id,
         |   round(list_dot_product(q.qv, c.codes) / sqrt(list_dot_product(c.codes, c.codes)), 6) AS sq_score
         |   FROM nq q JOIN cc c ON c.vec_id != q.vec_id),
         |r AS (SELECT vec_id, neighbor_id, sq_score, row_number() OVER
         |  (PARTITION BY vec_id ORDER BY sq_score DESC, neighbor_id) AS rank FROM p)
         |SELECT vec_id, neighbor_id, rank, sq_score FROM r WHERE rank <= 5
         |ORDER BY vec_id $N1, neighbor_id $N1, rank $N1, sq_score $N1""".stripMargin,
    // replay of bqEncodeColumn (32-bit sign words via exact 2^j sums) +
    // bqHamming (xor/bit_count) — all-integer arithmetic both engines
    // execute identically
    "q_sim_bq" ->
      s"""WITH enc AS (SELECT vec_id,
         |    list_transform(range(0, CAST(ceil(len(embedding) / 32.0) AS INT)), w ->
         |      CAST(list_sum(list_transform(range(0, 32), j ->
         |        CASE WHEN 32*w + j < len(embedding) AND embedding[32*w + j + 1] > 0
         |             THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT)) AS bits
         |  FROM embeddings),
         |p AS (SELECT q.vec_id, c.vec_id AS neighbor_id,
         |    CAST(list_sum(list_transform(range(1, len(q.bits) + 1), i ->
         |      bit_count(xor(q.bits[i], c.bits[i])))) AS BIGINT) AS hamming
         |  FROM enc q JOIN enc c ON c.vec_id != q.vec_id
         |  WHERE q.vec_id < 20),
         |r AS (SELECT vec_id, neighbor_id, hamming, row_number() OVER
         |  (PARTITION BY vec_id ORDER BY hamming, neighbor_id) AS rank FROM p)
         |SELECT vec_id, neighbor_id, rank, hamming FROM r WHERE rank <= 5
         |ORDER BY vec_id $N1, neighbor_id $N1, rank $N1, hamming $N1""".stripMargin,
    "q_sim_hard_negatives" ->
      s"""WITH p AS (SELECT a.vec_id, b.vec_id AS neighbor_id, $cosSql AS cos
         |  FROM embeddings a JOIN embeddings b ON b.label != a.label
         |  WHERE a.vec_id < 20),
         |r AS (SELECT vec_id, neighbor_id, cos, row_number() OVER
         |  (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank FROM p)
         |SELECT vec_id, neighbor_id, rank, round(cos, 6) AS cos_sim
         |FROM r WHERE rank <= 5
         |ORDER BY vec_id $N1, neighbor_id $N1, rank $N1, cos_sim $N1""".stripMargin,

    "q_sim_bitext" ->
      s"""WITH s AS (SELECT vec_id, embedding FROM embeddings
         |           WHERE label % 2 = 0 AND vec_id < 50),
         |t AS (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 1),
         |p AS (SELECT a.vec_id AS src_id, b.vec_id AS tgt_id, $cosSql AS cos
         |      FROM s a CROSS JOIN t b),
         |f AS (SELECT *, row_number() OVER
         |      (PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rk FROM p),
         |bk AS (SELECT *, row_number() OVER
         |      (PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS rk FROM p),
         |ms AS (SELECT src_id, round(sum(cos)/4, 6) AS m FROM f
         |       WHERE rk <= 4 GROUP BY src_id),
         |mt AS (SELECT tgt_id, round(sum(cos)/4, 6) AS m FROM bk
         |       WHERE rk <= 4 GROUP BY tgt_id),
         |cand AS (SELECT src_id, tgt_id, cos FROM f WHERE rk <= 4
         |         UNION SELECT src_id, tgt_id, cos FROM bk WHERE rk <= 4),
         |sc AS (SELECT c.src_id, c.tgt_id, c.cos,
         |         2*c.cos/(ms.m + mt.m) AS margin
         |       FROM cand c JOIN ms USING (src_id) JOIN mt USING (tgt_id))
         |SELECT src_id, tgt_id, round(cos, 6) AS cos_sim,
         |       round(margin, 6) AS margin
         |FROM sc WHERE margin >= 1.05
         |ORDER BY src_id $N1, tgt_id $N1, cos_sim $N1, margin $N1""".stripMargin,
    // GENERATED plane-literal oracle (see AnnLshOracle): DuckDB
    // recomputes SRP bucketing, banding join and exact rerank itself
    "q_sim_ann_lsh" -> AnnLshOracle,
    // graduated r16 (VERDICT r15 #8): generated replay over the
    // deterministic planted fixture — see IvfClusteredOracle
    "q_sim_ann_ivf_clustered" -> IvfClusteredOracle,
    // graduated r16 (beyond the verdict ask): zero-literal replay —
    // DuckDB derives the draw, centroids, tightness and probe count
    // entirely from the embeddings table — see AnnIvfOracle
    "q_sim_ann_ivf" -> AnnIvfOracle,
    "q_sim_topk" ->
      s"""WITH p AS (SELECT a.vec_id, b.vec_id AS neighbor_id, $cosSql AS cos
         |  FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
         |  WHERE a.vec_id < 20),
         |r AS (SELECT vec_id, neighbor_id, row_number() OVER
         |  (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank FROM p)
         |SELECT vec_id, neighbor_id, rank FROM r WHERE rank <= 5
         |ORDER BY vec_id $N1, neighbor_id $N1, rank $N1""".stripMargin,
    // same text graded twice: the two-window lag plan AND Spark's
    // native session_window grouping (+1us gap reconciling strict
    // overlap with the <= rule)
    "q_events_sessionize" -> SessionizeOracle,
    "q_events_sessionize_native" -> SessionizeOracle,
    "q_events_sessionize_skewed" -> SessionizeOracle,
    // the snapshot CTE + latest-change-per-key window + full join:
    // delete drops, upsert wins, untouched keys keep the base row
    "q_events_cdc_apply" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         |   arg_max(event_type, event_id) AS v
         |  FROM events GROUP BY 1, 2),
         |c AS (SELECT user_id, ts, v,
         |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts,
         |   lag(v) OVER (PARTITION BY user_id ORDER BY ts) AS pv
         |  FROM e),
         |k AS (SELECT user_id, ts AS valid_from, v FROM c
         |  WHERE pts IS NULL OR v IS DISTINCT FROM pv),
         |i AS (SELECT user_id, valid_from,
         |   lead(valid_from) OVER (PARTITION BY user_id
         |     ORDER BY valid_from) AS valid_to, v
         |  FROM k),
         |snap AS (SELECT user_id, v AS bv FROM i
         |  WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
         |    AND (valid_to IS NULL
         |         OR valid_to > TIMESTAMP '2024-01-15 00:00:00')),
         |ch AS (SELECT user_id, event_type, event_id,
         |   CAST(ts AS TIMESTAMP) AS ts FROM events
         |  WHERE CAST(ts AS TIMESTAMP) > TIMESTAMP '2024-01-15 00:00:00'),
         |l2 AS (SELECT user_id, event_type AS nv, row_number() OVER
         |   (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM ch),
         |lt AS (SELECT user_id, nv FROM l2 WHERE rn = 1)
         |SELECT COALESCE(s.user_id, lt.user_id) AS user_id,
         |  CASE WHEN lt.user_id IS NOT NULL THEN lt.nv ELSE s.bv END
         |    AS event_type
         |FROM snap s FULL JOIN lt ON s.user_id = lt.user_id
         |WHERE lt.user_id IS NULL OR lt.nv != 'error'
         |ORDER BY user_id $N1, event_type $N1""".stripMargin,
    // ntile matches across engines given the total (metric, key)
    // ordering; recency via the corpus-max scalar
    "q_events_rfm" ->
      s"""WITH per AS (SELECT user_id,
         |   max(CAST(ts AS TIMESTAMP)) AS last_ts,
         |   CAST(count(*) AS BIGINT) AS frequency,
         |   round(sum(value), 2) AS monetary
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |  GROUP BY user_id),
         |m AS (SELECT max(last_ts) AS cmax FROM per),
         |r AS (SELECT user_id,
         |   round(epoch(m.cmax) - epoch(last_ts), 6) AS recency_sec,
         |   frequency, monetary
         |  FROM per CROSS JOIN m)
         |SELECT user_id, recency_sec, frequency, monetary,
         |  CAST(ntile(5) OVER (ORDER BY recency_sec ASC, user_id ASC)
         |    AS INTEGER) AS r_score,
         |  CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id ASC)
         |    AS INTEGER) AS f_score,
         |  CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id ASC)
         |    AS INTEGER) AS m_score
         |FROM r
         |ORDER BY user_id $N1, recency_sec $N1, frequency $N1, monetary $N1,
         |  r_score $N1, f_score $N1, m_score $N1""".stripMargin,
    // the q_events_rfm text over the derived STRING key — VARCHAR
    // tie-breaks everywhere (binary collation on both engines), so the
    // tile assignment is genuinely string-ordered
    "q_events_rfm_strkey" ->
      s"""WITH per AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS user_key,
         |   max(CAST(ts AS TIMESTAMP)) AS last_ts,
         |   CAST(count(*) AS BIGINT) AS frequency,
         |   round(sum(value), 2) AS monetary
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |  GROUP BY 1),
         |m AS (SELECT max(last_ts) AS cmax FROM per),
         |r AS (SELECT user_key,
         |   round(epoch(m.cmax) - epoch(last_ts), 6) AS recency_sec,
         |   frequency, monetary
         |  FROM per CROSS JOIN m)
         |SELECT user_key, recency_sec, frequency, monetary,
         |  CAST(ntile(5) OVER (ORDER BY recency_sec ASC, user_key ASC)
         |    AS INTEGER) AS r_score,
         |  CAST(ntile(5) OVER (ORDER BY frequency DESC, user_key ASC)
         |    AS INTEGER) AS f_score,
         |  CAST(ntile(5) OVER (ORDER BY monetary DESC, user_key ASC)
         |    AS INTEGER) AS m_score
         |FROM r
         |ORDER BY user_key $N1, recency_sec $N1, frequency $N1, monetary $N1,
         |  r_score $N1, f_score $N1, m_score $N1""".stripMargin,
    // the strkey text over a 9-byte SHARED-PREFIX key (r19) — the
    // LCP-strip regime, same VARCHAR tie-breaks
    "q_events_rfm_strkey_prefixed" ->
      s"""WITH per AS (SELECT 'customer_' || CAST(user_id AS VARCHAR)
         |     AS user_key,
         |   max(CAST(ts AS TIMESTAMP)) AS last_ts,
         |   CAST(count(*) AS BIGINT) AS frequency,
         |   round(sum(value), 2) AS monetary
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |  GROUP BY 1),
         |m AS (SELECT max(last_ts) AS cmax FROM per),
         |r AS (SELECT user_key,
         |   round(epoch(m.cmax) - epoch(last_ts), 6) AS recency_sec,
         |   frequency, monetary
         |  FROM per CROSS JOIN m)
         |SELECT user_key, recency_sec, frequency, monetary,
         |  CAST(ntile(5) OVER (ORDER BY recency_sec ASC, user_key ASC)
         |    AS INTEGER) AS r_score,
         |  CAST(ntile(5) OVER (ORDER BY frequency DESC, user_key ASC)
         |    AS INTEGER) AS f_score,
         |  CAST(ntile(5) OVER (ORDER BY monetary DESC, user_key ASC)
         |    AS INTEGER) AS m_score
         |FROM r
         |ORDER BY user_key $N1, recency_sec $N1, frequency $N1, monetary $N1,
         |  r_score $N1, f_score $N1, m_score $N1""".stripMargin,
    // the strkey text over a MIXED population (r20): customer_*
    // prefixed ids plus planted outlier keys — the outlier-LCP regime,
    // same VARCHAR tie-breaks
    "q_events_rfm_strkey_mixed" ->
      s"""WITH per AS (SELECT
         |   CASE WHEN user_id % 997 = 0 THEN 'admin'
         |        WHEN user_id % 997 = 1 THEN ''
         |        WHEN user_id % 997 = 2 THEN 'zzz'
         |        ELSE 'customer_' || CAST(user_id AS VARCHAR) END
         |     AS user_key,
         |   max(CAST(ts AS TIMESTAMP)) AS last_ts,
         |   CAST(count(*) AS BIGINT) AS frequency,
         |   round(sum(value), 2) AS monetary
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |  GROUP BY 1),
         |m AS (SELECT max(last_ts) AS cmax FROM per),
         |r AS (SELECT user_key,
         |   round(epoch(m.cmax) - epoch(last_ts), 6) AS recency_sec,
         |   frequency, monetary
         |  FROM per CROSS JOIN m)
         |SELECT user_key, recency_sec, frequency, monetary,
         |  CAST(ntile(5) OVER (ORDER BY recency_sec ASC, user_key ASC)
         |    AS INTEGER) AS r_score,
         |  CAST(ntile(5) OVER (ORDER BY frequency DESC, user_key ASC)
         |    AS INTEGER) AS f_score,
         |  CAST(ntile(5) OVER (ORDER BY monetary DESC, user_key ASC)
         |    AS INTEGER) AS m_score
         |FROM r
         |ORDER BY user_key $N1, recency_sec $N1, frequency $N1, monetary $N1,
         |  r_score $N1, f_score $N1, m_score $N1""".stripMargin,
    // same pair CTE; U-shaped weights spelled as the SAME double
    // expression (1.0 - 2*0.4) so constant folding is IEEE-identical
    "q_events_attribution_pos" ->
      s"""WITH c AS (SELECT user_id, event_id AS conv_id, value AS conv_value,
         |   epoch(CAST(ts AS TIMESTAMP)) - 86400.0 AS f,
         |   epoch(CAST(ts AS TIMESTAMP)) AS t
         |  FROM events WHERE event_type = 'purchase'),
         |tc AS (SELECT user_id, event_id AS touch_id,
         |   event_type AS touch_type, epoch(CAST(ts AS TIMESTAMP)) AS tt
         |  FROM events WHERE event_type IN ('view', 'click')),
         |p AS (SELECT tc.touch_id, tc.touch_type, tc.tt, c.conv_id,
         |   c.conv_value
         |  FROM tc JOIN c ON tc.user_id = c.user_id
         |    AND tc.tt BETWEEN c.f AND c.t),
         |w AS (SELECT touch_id, touch_type, conv_id, conv_value,
         |   count(*) OVER (PARTITION BY conv_id) AS n,
         |   row_number() OVER (PARTITION BY conv_id
         |     ORDER BY tt, touch_id) AS rk FROM p),
         |x AS (SELECT touch_id, touch_type, conv_id, conv_value,
         |   CASE WHEN n = 1 THEN 1.0 WHEN n = 2 THEN 0.5
         |        WHEN rk = 1 OR rk = n THEN 0.4
         |        ELSE (1.0 - 2 * 0.4) / (n - 2) END AS wt FROM w)
         |SELECT touch_id, touch_type,
         |  CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions_touched,
         |  round(sum(conv_value * wt), 6) AS credit_value
         |FROM x GROUP BY touch_id, touch_type
         |ORDER BY touch_id $N1, touch_type $N1, n_conversions_touched $N1,
         |  credit_value $N1""".stripMargin,
    // the SCD2 chain + containment at the snapshot instant
    "q_events_snapshot" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         |   arg_max(event_type, event_id) AS v
         |  FROM events GROUP BY 1, 2),
         |c AS (SELECT user_id, ts, v,
         |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts,
         |   lag(v) OVER (PARTITION BY user_id ORDER BY ts) AS pv
         |  FROM e),
         |k AS (SELECT user_id, ts AS valid_from, v FROM c
         |  WHERE pts IS NULL OR v IS DISTINCT FROM pv),
         |i AS (SELECT user_id, valid_from,
         |   lead(valid_from) OVER (PARTITION BY user_id
         |     ORDER BY valid_from) AS valid_to,
         |   v AS event_type,
         |   CAST(row_number() OVER (PARTITION BY user_id
         |     ORDER BY valid_from) AS BIGINT) AS version
         |  FROM k)
         |SELECT user_id, valid_from, event_type, version FROM i
         |WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
         |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
         |ORDER BY user_id $N1, valid_from $N1, event_type $N1,
         |  version $N1""".stripMargin,
    // per-conversion touch counts via a window over the pairs, then
    // the equal-split credit sums (epoch doubles, round-6)
    "q_events_attribution" ->
      s"""WITH c AS (SELECT user_id, event_id AS conv_id, value AS conv_value,
         |   epoch(CAST(ts AS TIMESTAMP)) - 86400.0 AS f,
         |   epoch(CAST(ts AS TIMESTAMP)) AS t
         |  FROM events WHERE event_type = 'purchase'),
         |tc AS (SELECT user_id, event_id AS touch_id,
         |   event_type AS touch_type, epoch(CAST(ts AS TIMESTAMP)) AS tt
         |  FROM events WHERE event_type IN ('view', 'click')),
         |p AS (SELECT tc.touch_id, tc.touch_type, c.conv_id, c.conv_value
         |  FROM tc JOIN c ON tc.user_id = c.user_id
         |    AND tc.tt BETWEEN c.f AND c.t),
         |w AS (SELECT touch_id, touch_type, conv_id, conv_value,
         |   count(*) OVER (PARTITION BY conv_id) AS n FROM p)
         |SELECT touch_id, touch_type,
         |  CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions_touched,
         |  round(sum(conv_value / n), 6) AS credit_value
         |FROM w GROUP BY touch_id, touch_type
         |ORDER BY touch_id $N1, touch_type $N1, n_conversions_touched $N1,
         |  credit_value $N1""".stripMargin,
    // the proven fragments composed: ASOF attribution CTE + the
    // sessionize chain + BETWEEN containment + one card aggregate
    "q_pipeline_events" -> PipelineEventsOracle,
    "q_pipeline_events_skew_config" -> PipelineEventsOracle,
    // micros timestamps make round-6 the identity on gap seconds, so
    // the rounded filter equals the raw one
    "q_events_gaps" ->
      s"""WITH l AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         |   lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
         |     ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
         |SELECT user_id, prev AS gap_start, ts AS gap_end,
         |  round(epoch(ts) - epoch(prev), 6) AS gap_sec
         |FROM l WHERE round(epoch(ts) - epoch(prev), 6) > 172800
         |ORDER BY user_id $N1, gap_start $N1, gap_end $N1,
         |  gap_sec $N1""".stripMargin,
    "q_events_hourly_quantiles" ->
      s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  round(quantile_cont(value, 0.5), 6) AS p50,
         |  round(quantile_cont(value, 0.95), 6) AS p95,
         |  round(quantile_cont(value, 0.99), 6) AS p99
         |FROM events GROUP BY 1
         |ORDER BY bucket $N1, n_events $N1, p50 $N1, p95 $N1,
         |  p99 $N1""".stripMargin,
    // endpoints via full-frame first/last windows (all rows in a
    // group agree, min/max collapses them) — composite arg_min
    // ordering is not portable, the window formulation is
    "q_events_ohlc" ->
      s"""WITH e AS (SELECT event_type,
         |   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket, value,
         |   CAST(ts AS TIMESTAMP) AS tts, event_id FROM events),
         |w AS (SELECT event_type, bucket, value,
         |   first_value(value) OVER (PARTITION BY event_type, bucket
         |     ORDER BY tts, event_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |     AS o,
         |   last_value(value) OVER (PARTITION BY event_type, bucket
         |     ORDER BY tts, event_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |     AS c
         |  FROM e)
         |SELECT event_type, bucket, min(o) AS open, max(value) AS high,
         |  min(value) AS low, min(c) AS close,
         |  CAST(count(*) AS BIGINT) AS n_points
         |FROM w GROUP BY event_type, bucket
         |ORDER BY event_type $N1, bucket $N1, open $N1, high $N1, low $N1,
         |  close $N1, n_points $N1""".stripMargin,
    "q_events_rollup" ->
      s"""SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  round(sum(value), 2) AS sum_value
         |FROM events
         |GROUP BY ROLLUP(event_type, day)
         |ORDER BY event_type $N1, day $N1, n_events $N1,
         |  sum_value $N1""".stripMargin,
    // the same window count + floor filter (a JOIN-back formulation
    // would drop NULL quasi groups — they ARE groups under k-anon)
    "q_privacy_kanon" ->
      s"""WITH g AS (SELECT event_id, event_type,
         |   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
         |   CAST(count(*) OVER (PARTITION BY event_type,
         |     date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
         |     AS group_size
         |  FROM events)
         |SELECT event_id, event_type, hour, group_size FROM g
         |WHERE group_size >= 5
         |ORDER BY event_id $N1, event_type $N1, hour $N1,
         |  group_size $N1""".stripMargin,
    "q_events_variant" ->
      s"""SELECT event_id,
         |  CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k_val
         |FROM events
         |ORDER BY event_id $N1, k_val $N1""".stripMargin,
    "q_events_pivot" ->
      s"""SELECT user_id,
         |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
         |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
         |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
         |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
         |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
         |FROM events GROUP BY user_id
         |ORDER BY user_id $N1, click $N1, error $N1, purchase $N1,
         |  signup $N1, view $N1""".stripMargin,
    // the melt keeps zero cells: users x the 5 literal types,
    // left-joined counts, zero-coalesced
    "q_events_unpivot" ->
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |t AS (SELECT unnest(['click', 'error', 'purchase', 'signup',
         |   'view']) AS event_type),
         |c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2)
         |SELECT u.user_id, t.event_type,
         |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
         |FROM u CROSS JOIN t
         |LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type
         |ORDER BY u.user_id $N1, t.event_type $N1, n_events $N1""".stripMargin,
    "q_events_rolling" -> RollingOracle,
    "q_events_rolling_skewed" -> RollingOracle,
    // running sum over the bucket-cardinality card; CAST the window
    // sum (DuckDB widens sum(BIGINT) OVER to HUGEINT — the
    // q_chat_spans class)
    "q_events_cumulative_users" ->
      s"""WITH f AS (SELECT user_id,
         |   min(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS bucket
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |  GROUP BY user_id),
         |n AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_new
         |  FROM f GROUP BY bucket)
         |SELECT bucket, n_new,
         |  CAST(sum(n_new) OVER (ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS n_cumulative
         |FROM n
         |ORDER BY bucket $N1, n_new $N1, n_cumulative $N1""".stripMargin,
    // epoch-aligned hop membership reproduced with integer epoch
    // arithmetic: starts are the slide multiples in (ts-width, ts]
    "q_events_sliding" ->
      s"""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
         |  FROM events),
         |x AS (SELECT event_type, value, unnest(generate_series(
         |   make_timestamp((CAST(floor((epoch(ts) - 86400) / 21600)
         |     AS BIGINT) + 1) * 21600 * 1000000),
         |   make_timestamp(CAST(floor(epoch(ts) / 21600) AS BIGINT)
         |     * 21600 * 1000000),
         |   INTERVAL 21600 SECOND)) AS window_start FROM e)
         |SELECT window_start,
         |  window_start + INTERVAL 86400 SECOND AS window_end,
         |  event_type, CAST(count(*) AS BIGINT) AS n_events,
         |  round(sum(value), 2) AS sum_value
         |FROM x GROUP BY window_start, event_type
         |ORDER BY window_start $N1, window_end $N1, event_type $N1,
         |  n_events $N1, sum_value $N1""".stripMargin,
    "q_events_hourly" ->
      s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket, event_type,
         |count(*) AS n_events, round(sum(value), 2) AS sum_value
         |FROM events GROUP BY 1, 2
         |ORDER BY bucket $N1, event_type $N1, n_events $N1, sum_value $N1""".stripMargin,
    // same step CTE chain; per-pair join + latency aggregate
    "q_events_funnel_timings" ->
      s"""WITH s0 AS (SELECT user_id, min(ts) AS t FROM events
         |  WHERE event_type = 'view' GROUP BY user_id),
         |s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
         |  JOIN s0 ON e.user_id = s0.user_id
         |  WHERE e.event_type = 'click' AND e.ts >= s0.t GROUP BY e.user_id),
         |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
         |  JOIN s1 ON e.user_id = s1.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts >= s1.t
         |  GROUP BY e.user_id),
         |p0 AS (SELECT epoch(s1.t) - epoch(s0.t) AS dt FROM s0
         |  JOIN s1 ON s0.user_id = s1.user_id),
         |p1 AS (SELECT epoch(s2.t) - epoch(s1.t) AS dt FROM s1
         |  JOIN s2 ON s1.user_id = s2.user_id),
         |c AS (SELECT CAST(0 AS BIGINT) AS step_idx, 'view' AS from_step,
         |    'click' AS to_step, CAST(count(*) AS BIGINT) AS n_users,
         |    round(avg(dt), 6) AS avg_sec,
         |    round(quantile_cont(dt, 0.5), 6) AS p50_sec,
         |    round(max(dt), 6) AS max_sec FROM p0
         |  UNION ALL SELECT 1, 'click', 'purchase', count(*),
         |    round(avg(dt), 6), round(quantile_cont(dt, 0.5), 6),
         |    round(max(dt), 6) FROM p1)
         |SELECT * FROM c
         |ORDER BY step_idx $N1, from_step $N1, to_step $N1, n_users $N1,
         |  avg_sec $N1, p50_sec $N1, max_sec $N1""".stripMargin,
    // the sessionize CTE chain + one aggregate; durations via epoch()
    // (fractional seconds — matches Spark's timestamp->double cast)
    "q_events_session_stats" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
         |  FROM events),
         |l AS (SELECT user_id, ts, event_id,
         |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM e),
         |f AS (SELECT user_id, ts, event_id,
         |   CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 7200
         |        THEN 1 ELSE 0 END AS nw FROM l),
         |s AS (SELECT user_id, ts,
         |   sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
         |  FROM f),
         |g AS (SELECT count(*) AS n_events,
         |   epoch(max(ts)) - epoch(min(ts)) AS dur
         |  FROM s GROUP BY user_id, sid)
         |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_bounce_sessions,
         |  round(avg(n_events), 6) AS avg_events,
         |  round(avg(dur), 6) AS avg_duration_sec,
         |  round(quantile_cont(dur, 0.5), 6) AS p50_duration_sec,
         |  round(max(dur), 6) AS max_duration_sec
         |FROM g
         |ORDER BY n_sessions $N1, n_bounce_sessions $N1, avg_events $N1,
         |  avg_duration_sec $N1, p50_duration_sec $N1,
         |  max_duration_sec $N1""".stripMargin,
    // DuckDB's NATIVE ASOF JOIN as the independent implementation
    // (the engine's union+window plan never materializes a join);
    // right side unique per (user, ts) so the match is deterministic.
    // Same text graded twice: window plan + broadcast plan.
    "q_events_asof" -> AsofBackwardOracle,
    "q_events_asof_broadcast" -> AsofBackwardOracle,
    "q_events_asof_exec" -> AsofBackwardOracle,
    "q_events_asof_skewed" -> AsofBackwardOracle,
    // both ASOF directions composed, closer side picked row-locally
    // (epoch doubles; distance ties -> backward, like the engine)
    "q_events_asof_nearest" ->
      s"""WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
         |  FROM events WHERE event_type = 'click'),
         |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         |   arg_max(value, event_id) AS view_value
         |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
         |b AS (SELECT c.event_id, v.ts AS bts, v.view_value AS bval
         |  FROM c ASOF LEFT JOIN v
         |    ON c.user_id = v.user_id AND c.ts >= v.ts),
         |f AS (SELECT c.event_id, v.ts AS fts, v.view_value AS fval
         |  FROM c ASOF LEFT JOIN v
         |    ON c.user_id = v.user_id AND c.ts <= v.ts)
         |SELECT c.event_id, c.user_id, c.ts,
         |  CASE WHEN bts IS NULL THEN fts
         |       WHEN fts IS NULL THEN bts
         |       WHEN epoch(c.ts) - epoch(bts) <= epoch(fts) - epoch(c.ts)
         |         THEN bts ELSE fts END AS asof_ts,
         |  CASE WHEN bts IS NULL THEN fval
         |       WHEN fts IS NULL THEN bval
         |       WHEN epoch(c.ts) - epoch(bts) <= epoch(fts) - epoch(c.ts)
         |         THEN bval ELSE fval END AS view_value
         |FROM c JOIN b ON c.event_id = b.event_id
         |       JOIN f ON c.event_id = f.event_id
         |ORDER BY c.event_id $N1, c.user_id $N1, c.ts $N1, asof_ts $N1,
         |  view_value $N1""".stripMargin,
    "q_events_asof_forward" ->
      s"""WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
         |  FROM events WHERE event_type = 'click'),
         |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         |   arg_max(value, event_id) AS view_value
         |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
         |SELECT c.event_id, c.user_id, c.ts, v.ts AS asof_ts, v.view_value
         |FROM c ASOF LEFT JOIN v
         |  ON c.user_id = v.user_id AND c.ts <= v.ts
         |ORDER BY event_id $N1, c.user_id $N1, c.ts $N1, asof_ts $N1,
         |  view_value $N1""".stripMargin,
    // staleness bound applied AFTER the asof match (epoch() doubles =
    // micros/1e6 in both engines — the comparison is IEEE-exact)
    "q_events_asof_tolerance" ->
      s"""WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
         |  FROM events WHERE event_type = 'click'),
         |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         |   arg_max(value, event_id) AS view_value
         |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
         |m AS (SELECT c.event_id, c.user_id, c.ts, v.ts AS vts, v.view_value
         |  FROM c ASOF LEFT JOIN v
         |    ON c.user_id = v.user_id AND c.ts >= v.ts)
         |SELECT event_id, user_id, ts,
         |  CASE WHEN epoch(ts) - epoch(vts) <= 86400.0 THEN vts END AS asof_ts,
         |  CASE WHEN epoch(ts) - epoch(vts) <= 86400.0 THEN view_value END
         |    AS view_value
         |FROM m
         |ORDER BY event_id $N1, user_id $N1, ts $N1, asof_ts $N1,
         |  view_value $N1""".stripMargin,
    // generate_series daily grid per user + DuckDB's native ASOF for
    // the forward fill — the composition the engine builds from
    // sequence-explode + the union/window as-of
    "q_events_resample" -> ResampleOracle,
    "q_events_resample_skewed" -> ResampleOracle,
    // lead-duration weights; last point carries none; 0/0 -> NULL
    // (same text graded twice: per-key window plan + bucketed carry)
    "q_events_twa_skewed" -> TwaOracle,
    "q_events_twa" -> TwaOracle,
    // two sessionize chains + the plain ANSI overlap predicate
    "q_events_interval_join" ->
      s"""WITH ve AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
         |  FROM events WHERE event_type = 'view'),
         |vl AS (SELECT user_id, ts, event_id,
         |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM ve),
         |vf AS (SELECT user_id, ts, event_id,
         |   CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 86400
         |        THEN 1 ELSE 0 END AS nw FROM vl),
         |vs AS (SELECT user_id, ts,
         |   sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
         |  FROM vf),
         |vi AS (SELECT user_id, min(ts) AS v_start, max(ts) AS v_end,
         |   CAST(count(*) AS BIGINT) AS v_n FROM vs GROUP BY user_id, sid),
         |ce AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
         |  FROM events WHERE event_type = 'click'),
         |cl AS (SELECT user_id, ts, event_id,
         |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM ce),
         |cf AS (SELECT user_id, ts, event_id,
         |   CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 86400
         |        THEN 1 ELSE 0 END AS nw FROM cl),
         |cs AS (SELECT user_id, ts,
         |   sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
         |  FROM cf),
         |ci AS (SELECT user_id, min(ts) AS c_start, max(ts) AS c_end,
         |   CAST(count(*) AS BIGINT) AS c_n FROM cs GROUP BY user_id, sid)
         |SELECT vi.user_id, v_start, v_end, v_n, c_start, c_end, c_n
         |FROM vi JOIN ci ON vi.user_id = ci.user_id
         |  AND v_start <= c_end AND c_start <= v_end
         |ORDER BY vi.user_id $N1, v_start $N1, v_end $N1, v_n $N1,
         |  c_start $N1, c_end $N1, c_n $N1""".stripMargin,
    // arg_max same-ts dedup, IS DISTINCT FROM change filter, lead +
    // row_number over the episode frame — the lag/lead SCD2 canon
    "q_events_scd2" -> Scd2Oracle,
    "q_events_scd2_skewed" -> Scd2Oracle,
    // the q_events_sessionize CTE chain (1-day gap, views only) +
    // a plain containment join — DuckDB plans IEJoin, the engine
    // plans the bucketized equi-join; same pairs either way
    "q_events_range_join" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
         |  FROM events WHERE event_type = 'view'),
         |l AS (SELECT user_id, ts, event_id,
         |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM e),
         |f AS (SELECT user_id, ts, event_id,
         |   CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 86400
         |        THEN 1 ELSE 0 END AS nw FROM l),
         |s AS (SELECT user_id, ts,
         |   sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
         |  FROM f),
         |iv AS (SELECT user_id, min(ts) AS session_start,
         |   max(ts) AS session_end, CAST(count(*) AS BIGINT) AS n_events
         |  FROM s GROUP BY user_id, sid),
         |p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
         |  FROM events WHERE event_type = 'purchase')
         |SELECT p.event_id, p.user_id, p.ts, iv.session_start,
         |  iv.session_end, iv.n_events
         |FROM p JOIN iv ON p.user_id = iv.user_id
         |  AND p.ts BETWEEN iv.session_start AND iv.session_end
         |ORDER BY event_id $N1, p.user_id $N1, ts $N1, session_start $N1,
         |  session_end $N1, n_events $N1""".stripMargin,
    // per-step min-ts chains (>= admits same-timestamp chains), then
    // lag/first over the steps-row card
    "q_events_funnel" ->
      s"""WITH s0 AS (SELECT user_id, min(ts) AS t FROM events
         |  WHERE event_type = 'view' GROUP BY user_id),
         |s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
         |  JOIN s0 ON e.user_id = s0.user_id
         |  WHERE e.event_type = 'click' AND e.ts >= s0.t GROUP BY e.user_id),
         |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
         |  JOIN s1 ON e.user_id = s1.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts >= s1.t
         |  GROUP BY e.user_id),
         |c AS (SELECT CAST(0 AS BIGINT) AS step_idx, 'view' AS step,
         |    CAST(count(*) AS BIGINT) AS n_users FROM s0
         |  UNION ALL SELECT 1, 'click', count(*) FROM s1
         |  UNION ALL SELECT 2, 'purchase', count(*) FROM s2)
         |SELECT step_idx, step, n_users,
         |  CASE WHEN lag(n_users) OVER (ORDER BY step_idx) > 0
         |    THEN round(CAST(n_users AS DOUBLE) /
         |      lag(n_users) OVER (ORDER BY step_idx), 6) END AS conv_from_prev,
         |  CASE WHEN first_value(n_users) OVER (ORDER BY step_idx) > 0
         |    THEN round(CAST(n_users AS DOUBLE) /
         |      first_value(n_users) OVER (ORDER BY step_idx), 6) END
         |    AS conv_from_first
         |FROM c
         |ORDER BY step_idx $N1, step $N1, n_users $N1, conv_from_prev $N1,
         |  conv_from_first $N1""".stripMargin,
    // cohort = first-seen week, index = whole weeks since (both engines
    // truncate weeks to Monday; CALENDAR day-diff arithmetic — the
    // DST-immune formulation the operator uses)
    "q_events_retention" ->
      s"""WITH a AS (SELECT DISTINCT user_id AS u,
         |    date_trunc('week', CAST(ts AS TIMESTAMP)) AS b
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         |f AS (SELECT u, min(b) AS c FROM a GROUP BY u),
         |cs AS (SELECT c AS cohort, count(*) AS cohort_size FROM f GROUP BY c),
         |m AS (SELECT f.c AS cohort,
         |    CAST(floor(date_diff('day', CAST(f.c AS DATE), CAST(a.b AS DATE))
         |      / 7.0) AS BIGINT) AS period_index,
         |    count(DISTINCT a.u) AS n_active
         |  FROM a JOIN f USING (u) GROUP BY 1, 2)
         |SELECT m.cohort, m.period_index, CAST(m.n_active AS BIGINT) AS n_active,
         |  CAST(cs.cohort_size AS BIGINT) AS cohort_size,
         |  round(CAST(m.n_active AS DOUBLE) / CAST(cs.cohort_size AS DOUBLE), 6)
         |    AS retention_rate
         |FROM m JOIN cs ON cs.cohort = m.cohort
         |ORDER BY m.cohort $N1, period_index $N1, n_active $N1, cohort_size $N1,
         |  retention_rate $N1""".stripMargin,
    // the oracle recomputes the identical md5-derived uniform: first 8
    // hex chars as an int over 2^32 (<= 2^32 is exactly representable,
    // division by a power of two is exact -> bit-equal doubles)
    "q_sample_stratified" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      / 4294967296.0
         |      < CASE lang WHEN 'en' THEN 0.3 WHEN 'de' THEN 1.0 ELSE 0.5 END
         |ORDER BY doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin,
    "q_sample_topk" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |QUALIFY row_number() OVER (PARTITION BY lang, source
         |  ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |             / 4294967296.0, doc_id) <= 20
         |ORDER BY doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin,
    // quantile_cont shares Spark percentile's (n-1)*q interpolation
    "q_corpus_lengths" ->
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |round(quantile_cont(len(regexp_extract_all(text, '\\S+')), 0.5), 6)
         |  AS p50_tokens,
         |round(quantile_cont(len(regexp_extract_all(text, '\\S+')), 0.9), 6)
         |  AS p90_tokens
         |FROM documents GROUP BY lang
         |ORDER BY lang $N1, n_docs $N1, p50_tokens $N1, p90_tokens $N1""".stripMargin,
    // ln and double-division shapes mirror tfidfKeywords exactly; the
    // round(6) happens BEFORE ranking on both sides so ties break the
    // same way
    "q_text_tfidf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS token
         |        FROM documents)
         |  GROUP BY doc_id, token),
         |df AS (SELECT token, CAST(count(*) AS BIGINT) AS dfreq FROM tf
         |       GROUP BY token HAVING count(*) >= 2),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.token, tf.tf,
         |    round(tf.tf * ln((SELECT nd FROM n) / CAST(df.dfreq AS DOUBLE)), 6)
         |      AS score
         |  FROM tf JOIN df ON tf.token = df.token),
         |r AS (SELECT doc_id, token, tf, score,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, token) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT doc_id, token, tf, score, rank FROM r WHERE rank <= 5
         |ORDER BY doc_id $N1, token $N1, tf $N1, score $N1, rank $N1""".stripMargin,
    // the strip chain is GENERATED from MarkupPatterns — same patterns,
    // same order, 'g' = Spark's replace-all
    "q_text_strip_markup" -> {
      val planted = """'<div class="x"> <!-- c --> ' || text || """ +
        """' </div><br/>a &amp; b &lt;t&gt; &quot;q&quot; &#39;s&#39;&nbsp;end'"""
      val stripped = TextFunctions.MarkupPatterns.foldLeft(planted) {
        case (e, (pat, repl)) =>
          s"regexp_replace($e, '${pat.replace("'", "''")}', " +
            s"'${repl.replace("'", "''")}', 'g')"
      }
      s"""SELECT doc_id, trim($stripped) AS clean FROM documents
         |ORDER BY doc_id $N1, clean $N1""".stripMargin
    },
    "q_filter_blocklist" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |WHERE NOT (contains(lower(text), 'spark window')
         |        OR contains(lower(text), 'slow merge'))
         |ORDER BY doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin,
    // hottest key groups: count + share + deterministic rank
    "q_skew_card" ->
      s"""WITH c AS (SELECT lang, source, count(*) AS n_rows FROM documents
         |  GROUP BY lang, source),
         |t AS (SELECT CAST(sum(n_rows) AS DOUBLE) AS total FROM c),
         |r AS (SELECT lang, source, CAST(n_rows AS BIGINT) AS n_rows,
         |    round(n_rows / t.total, 6) AS share,
         |    CAST(row_number() OVER (ORDER BY n_rows DESC,
         |      lang NULLS FIRST, source NULLS FIRST) AS BIGINT) AS rank
         |  FROM c CROSS JOIN t)
         |SELECT lang, source, n_rows, share, rank FROM r WHERE rank <= 10
         |ORDER BY lang $N1, source $N1, n_rows $N1, share $N1, rank $N1""".stripMargin,

    // exact base quantiles (quantile_cont = Spark percentile), CASE-sum
    // binning, Laplace-smoothed shares — all-double arithmetic
    "q_text_psi" -> {
      val caseSum = (1 to 9)
        .map(i => s"(CASE WHEN v > es[$i] THEN 1 ELSE 0 END)").mkString(" + ")
      val pb = "((CAST(n_base AS DOUBLE) + 0.5) / (CAST(tb AS DOUBLE) + 0.5 * 10))"
      val pc = "((CAST(n_cand AS DOUBLE) + 0.5) / (CAST(tc AS DOUBLE) + 0.5 * 10))"
      s"""WITH b AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
         |  WHERE n_chars IS NOT NULL),
         |c AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
         |  WHERE lang = 'en' AND n_chars IS NOT NULL),
         |e AS (SELECT quantile_cont(v,
         |  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS es FROM b),
         |bb AS (SELECT CAST($caseSum AS BIGINT) AS bin FROM b CROSS JOIN e),
         |cc AS (SELECT CAST($caseSum AS BIGINT) AS bin FROM c CROSS JOIN e),
         |nb AS (SELECT bin, count(*) AS n FROM bb GROUP BY bin),
         |nc AS (SELECT bin, count(*) AS n FROM cc GROUP BY bin),
         |bins AS (SELECT unnest(range(0, 10)) AS bin),
         |j AS (SELECT bins.bin, CAST(coalesce(nb.n, 0) AS BIGINT) AS n_base,
         |        CAST(coalesce(nc.n, 0) AS BIGINT) AS n_cand
         |      FROM bins LEFT JOIN nb ON nb.bin = bins.bin
         |                LEFT JOIN nc ON nc.bin = bins.bin),
         |t AS (SELECT sum(n_base) AS tb, sum(n_cand) AS tc FROM j)
         |SELECT bin, n_base, n_cand,
         |  round($pb, 6) AS base_share,
         |  round($pc, 6) AS cand_share,
         |  round(($pc - $pb) * ln($pc / $pb), 6) AS psi
         |FROM j CROSS JOIN t
         |ORDER BY bin $N1, n_base $N1, n_cand $N1, base_share $N1,
         |  cand_share $N1, psi $N1""".stripMargin
    },

    // pattern + planted suffix both GENERATED from the shared constants
    "q_text_mojibake" ->
      s"""WITH planted AS (SELECT doc_id, text || '$MojibakeSuffix' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text,
         |    '${graft.functions.TextFunctions.MojibakePattern}')) AS BIGINT)
         |    AS mojibake_hits,
         |  round(CAST(len(regexp_extract_all(text,
         |    '${graft.functions.TextFunctions.MojibakePattern}')) AS DOUBLE)
         |    / len(text), 6) AS hits_per_char
         |FROM planted
         |ORDER BY doc_id $N1, mojibake_hits $N1, hits_per_char $N1""".stripMargin,

    // full replay of filterLines' rule chain (ASCII classes, double
    // ratios, boilerplate IN-list GENERATED from the same Seq)
    "q_filter_lines" -> {
      val boiler = graft.operators.CorpusClean.DefaultBoilerplateLines
        .map(p => s"'${p.toLowerCase}'").mkString(", ")
      s"""WITH planted AS (SELECT doc_id,
         |  text || chr(10) || 'BUY NOW CLICK HERE' || chr(10) || '12345 67890 424242'
         |    || chr(10) || '  Sign In  ' || chr(10) || 'ok'
         |    || chr(10) || 'closing paragraph for document ' || CAST(doc_id AS VARCHAR) AS text
         |  FROM documents),
         |l AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM planted),
         |k AS (SELECT doc_id, lines,
         |  list_filter(lines, x ->
         |    len(trim(x)) >= 5
         |    AND NOT (len(regexp_extract_all(x, '[A-Za-z]')) > 0
         |         AND CAST(len(regexp_extract_all(x, '[A-Z]')) AS DOUBLE)
         |             / len(regexp_extract_all(x, '[A-Za-z]')) > 0.6)
         |    AND NOT (len(x) > 0
         |         AND CAST(len(regexp_extract_all(x, '[0-9]')) AS DOUBLE) / len(x) > 0.5)
         |    AND NOT list_contains([$boiler], lower(trim(x)))) AS kept
         |  FROM l),
         |s AS (SELECT doc_id,
         |  array_to_string(kept, chr(10)) AS text,
         |  CAST(len(lines) AS BIGINT) AS n_lines,
         |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
         |  CASE WHEN COALESCE(list_sum(list_transform(lines, x -> len(x))), 0) > 0
         |    THEN round(CAST(COALESCE(list_sum(list_transform(lines, x -> len(x))), 0)
         |         - COALESCE(list_sum(list_transform(kept, x -> len(x))), 0) AS DOUBLE)
         |         / COALESCE(list_sum(list_transform(lines, x -> len(x))), 0), 6)
         |    ELSE 0.0 END AS removed_char_share
         |  FROM k)
         |SELECT doc_id, text, n_lines, n_lines_kept, removed_char_share FROM s
         |WHERE removed_char_share <= 0.5
         |ORDER BY doc_id $N1, text $N1, n_lines $N1, n_lines_kept $N1, removed_char_share $N1""".stripMargin
    },
    // word-bigram occurrences (every position, not per-doc distinct),
    // rank per language by (count desc, gram asc)
    // string_split(text,' ') — the ShingleHashes kernel's token
    // definition (bigram strings here vs 64-bit window hashes in
    // Spark: the standing injectivity argument)
    "q_text_top_ngrams" ->
      s"""WITH toks AS (SELECT lang, string_split(text, ' ') AS t
         |  FROM documents),
         |g AS (SELECT lang, unnest([array_to_string(t[i:i+1], ' ')
         |  for i in generate_series(1, len(t)-1)]) AS ngram FROM toks),
         |c AS (SELECT lang, ngram, CAST(count(*) AS BIGINT) AS n_occurrences
         |  FROM g GROUP BY lang, ngram),
         |r AS (SELECT lang, ngram, n_occurrences,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY n_occurrences DESC, ngram) AS BIGINT) AS rank
         |  FROM c)
         |SELECT lang, ngram, n_occurrences, rank FROM r WHERE rank <= 5
         |ORDER BY lang $N1, ngram $N1, n_occurrences $N1, rank $N1""".stripMargin,
    // PMI replay: string pair/unigram counts (the standing injectivity
    // argument vs Spark's 8-byte window hashes), pre-floor totals,
    // round-6 before ranking
    "q_text_collocations" ->
      s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
         |u AS (SELECT unnest(t) AS w FROM toks),
         |c1 AS (SELECT w, count(*) AS c FROM u GROUP BY w),
         |n1 AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM c1),
         |g AS (SELECT unnest([array_to_string(t[i:i+1], ' ')
         |  for i in generate_series(1, len(t)-1)]) AS ng FROM toks),
         |n2 AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM g),
         |c2 AS (SELECT ng, count(*) AS c2 FROM g GROUP BY ng
         |  HAVING count(*) >= 5),
         |p AS (SELECT split_part(c2.ng, ' ', 1) AS w1,
         |    split_part(c2.ng, ' ', 2) AS w2,
         |    CAST(c2.c2 AS BIGINT) AS n_pair,
         |    round(log10((CAST(c2.c2 AS DOUBLE) / n2.n) /
         |      ((CAST(a.c AS DOUBLE) / n1.n) * (CAST(b.c AS DOUBLE) / n1.n))), 6) AS pmi
         |  FROM c2
         |  JOIN c1 a ON a.w = split_part(c2.ng, ' ', 1)
         |  JOIN c1 b ON b.w = split_part(c2.ng, ' ', 2)
         |  CROSS JOIN n1 CROSS JOIN n2),
         |r AS (SELECT w1, w2, n_pair, pmi,
         |    CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS BIGINT) AS rank
         |  FROM p)
         |SELECT w1, w2, n_pair, pmi, rank FROM r WHERE rank <= 20
         |ORDER BY w1 $N1, w2 $N1, n_pair $N1, pmi $N1, rank $N1""".stripMargin,
    // same BM25 arithmetic SHAPE as the Spark side (left-assoc, same
    // double casts); round(score, 6) before ranking is the cross-engine
    // equalizer for the per-term double sums. Lens excludes token-less
    // docs exactly like the Spark side's (doc,token)-aggregate-derived
    // lengths; k1=1.2, b=0.75 -> the folded constants 2.2 / 0.25 / 0.75
    "q_text_bm25" ->
      s"""WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t
         |  FROM documents),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(t) AS token FROM toks)
         |  GROUP BY doc_id, token),
         |lens AS (SELECT doc_id, len(t) AS dl FROM toks WHERE len(t) > 0),
         |st AS (SELECT CAST(sum(dl) AS DOUBLE) AS tot,
         |  CAST(count(*) AS DOUBLE) AS nd FROM lens),
         |q AS (SELECT doc_id AS query_id,
         |    unnest(list_distinct(regexp_extract_all(text, '\\S+'))) AS token
         |  FROM documents WHERE doc_id < 3),
         |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf
         |  WHERE token IN (SELECT DISTINCT token FROM q) GROUP BY token),
         |m AS (SELECT q.query_id, tf.doc_id,
         |    ln(((SELECT nd FROM st) - dfq.df + CAST(0.5 AS DOUBLE))
         |        / (dfq.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) *
         |      (tf.tf * CAST(2.2 AS DOUBLE)) /
         |      (tf.tf + CAST(1.2 AS DOUBLE) *
         |        (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * lens.dl
         |          / ((SELECT tot FROM st) / (SELECT nd FROM st)))) AS ts
         |  FROM tf JOIN q USING (token) JOIN dfq ON tf.token = dfq.token
         |  JOIN lens ON lens.doc_id = tf.doc_id),
         |sc AS (SELECT query_id, doc_id, round(sum(ts), 6) AS score
         |  FROM m GROUP BY query_id, doc_id),
         |r AS (SELECT query_id, doc_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM sc)
         |SELECT query_id, doc_id, score, rank FROM r WHERE rank <= 10
         |ORDER BY query_id $N1, doc_id $N1, score $N1, rank $N1""".stripMargin,
    // the bm25 and jaccard oracle bodies composed, then the RRF
    // arithmetic: 1/(60+rank) summed per (query, doc), round-6 before
    // the fused rank (<= 2 summands -> order-stable)
    "q_sim_hybrid_rrf" ->
      s"""WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t
         |  FROM documents),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(t) AS token FROM toks)
         |  GROUP BY doc_id, token),
         |lens AS (SELECT doc_id, len(t) AS dl FROM toks WHERE len(t) > 0),
         |st AS (SELECT CAST(sum(dl) AS DOUBLE) AS tot,
         |  CAST(count(*) AS DOUBLE) AS nd FROM lens),
         |q AS (SELECT doc_id AS query_id,
         |    unnest(list_distinct(regexp_extract_all(text, '\\S+'))) AS token
         |  FROM documents WHERE doc_id < 3),
         |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf
         |  WHERE token IN (SELECT DISTINCT token FROM q) GROUP BY token),
         |m AS (SELECT q.query_id, tf.doc_id,
         |    ln(((SELECT nd FROM st) - dfq.df + CAST(0.5 AS DOUBLE))
         |        / (dfq.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) *
         |      (tf.tf * CAST(2.2 AS DOUBLE)) /
         |      (tf.tf + CAST(1.2 AS DOUBLE) *
         |        (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * lens.dl
         |          / ((SELECT tot FROM st) / (SELECT nd FROM st)))) AS ts
         |  FROM tf JOIN q USING (token) JOIN dfq ON tf.token = dfq.token
         |  JOIN lens ON lens.doc_id = tf.doc_id),
         |sc AS (SELECT query_id, doc_id, round(sum(ts), 6) AS score
         |  FROM m GROUP BY query_id, doc_id),
         |r1 AS (SELECT query_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM sc),
         |jtoks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+4],' ')
         |  for i in generate_series(1, len(t)-4)]) AS s FROM jtoks),
         |p AS (SELECT q.doc_id, c.doc_id AS neighbor_id,
         |    CAST(len(list_intersect(q.s, c.s)) AS DOUBLE) /
         |      len(list_distinct(list_concat(q.s, c.s))) AS jaccard
         |  FROM sh q JOIN sh c ON c.doc_id != q.doc_id WHERE q.doc_id < 3),
         |r2 AS (SELECT doc_id AS query_id, neighbor_id AS doc_id,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY jaccard DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM p WHERE jaccard > 0),
         |u AS (SELECT query_id, doc_id,
         |    CAST(1.0 AS DOUBLE) / (60 + rank) AS c FROM r1 WHERE rank <= 10
         |  UNION ALL SELECT query_id, doc_id,
         |    CAST(1.0 AS DOUBLE) / (60 + rank) AS c FROM r2 WHERE rank <= 10),
         |f AS (SELECT query_id, doc_id, round(sum(c), 6) AS rrf_score,
         |    CAST(count(*) AS BIGINT) AS n_lists FROM u GROUP BY query_id, doc_id),
         |fr AS (SELECT query_id, doc_id, rrf_score, n_lists,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank FROM f)
         |SELECT query_id, doc_id, rrf_score, n_lists, rank FROM fr
         |WHERE rank <= 10
         |ORDER BY query_id $N1, doc_id $N1, rrf_score $N1, n_lists $N1,
         |rank $N1""".stripMargin,
    "q_sample_weighted" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      / 4294967296.0
         |      < least(1.0, greatest(0.0, CAST(n_chars AS DOUBLE) / 400.0))
         |ORDER BY doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin,
    // the oracle recomputes the identical fraction arithmetic in DOUBLE
    // (explicit casts — DuckDB's bare 0.5 literal is DECIMAL): n_max =
    // min(cnt/share), frac = least(1, n_max*share/cnt), then the same
    // md5 uniform as every sampler
    "q_sample_rebalance" ->
      s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents
         |  WHERE lang IN ('en','de','fr') GROUP BY lang),
         |tgt AS (SELECT * FROM (VALUES
         |  ('en', CAST(0.5 AS DOUBLE)), ('de', CAST(0.3 AS DOUBLE)),
         |  ('fr', CAST(0.2 AS DOUBLE))) t(lang, share)),
         |nm AS (SELECT min(cnt / share) AS n FROM c JOIN tgt USING (lang)),
         |f AS (SELECT c.lang, least(1.0, (SELECT n FROM nm) * share / cnt) AS frac
         |      FROM c JOIN tgt USING (lang))
         |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         |FROM documents d JOIN f ON d.lang = f.lang
         |WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      / 4294967296.0 < f.frac
         |ORDER BY d.doc_id $N1, text $N1, d.lang $N1, source $N1, n_chars $N1""".stripMargin,
    // mirrors the operator's driver arithmetic shape-for-shape:
    // share = cnt^0.5 / Σ cnt^0.5, nMax = min(cnt/share),
    // frac = floor(least(1, nMax*share/cnt)*1e9)/1e9 (the operator's
    // documented 1e-9 quantization makes the cut engine-stable)
    "q_sample_temperature" ->
      s"""WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS cnt FROM documents
         |  WHERE lang IS NOT NULL GROUP BY lang),
         |w AS (SELECT lang, cnt, power(cnt, CAST(0.5 AS DOUBLE)) AS wt FROM c),
         |t AS (SELECT lang, cnt, wt / (SELECT sum(wt) FROM w) AS share FROM w),
         |nm AS (SELECT min(cnt / share) AS n FROM t),
         |f AS (SELECT lang,
         |  floor(least(CAST(1.0 AS DOUBLE), (SELECT n FROM nm) * share / cnt) * 1e9) / 1e9 AS frac
         |  FROM t)
         |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         |FROM documents d JOIN f ON d.lang = f.lang
         |WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      / 4294967296.0 < f.frac
         |ORDER BY d.doc_id $N1, text $N1, d.lang $N1, source $N1, n_chars $N1""".stripMargin,

    "q_sample_split_leaksafe" ->
      s"""WITH RECURSIVE $jaccardCte,
         |pr AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |reach(id, r) AS (SELECT a, b FROM edges
         |  UNION SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
         |comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
         |u AS (SELECT d.doc_id,
         |  ('0x' || substring(md5(CAST(coalesce(comp.component, d.doc_id) AS VARCHAR)), 1, 8))::BIGINT
         |    / 4294967296.0 AS uni
         |  FROM documents d LEFT JOIN comp ON comp.id = d.doc_id)
         |SELECT doc_id, CASE WHEN uni < 0.8 THEN 'train'
         |  WHEN uni < 0.8 + 0.1 THEN 'valid'
         |  WHEN uni < 0.8 + 0.1 + 0.1 THEN 'test' ELSE NULL END AS split
         |FROM u ORDER BY doc_id $N1, split $N1""".stripMargin,

    "q_sample_split" ->
      s"""WITH u AS (SELECT doc_id,
         |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |    / 4294967296.0 AS uni FROM documents)
         |SELECT doc_id, CASE WHEN uni < 0.8 THEN 'train'
         |  WHEN uni < 0.8 + 0.1 THEN 'valid'
         |  WHEN uni < 0.8 + 0.1 + 0.1 THEN 'test' ELSE NULL END AS split
         |FROM u ORDER BY doc_id $N1, split $N1""".stripMargin,
    // seeded shuffle address: uniform from md5 chars 1-8, shard from
    // chars 9-16 (mod shards), pos = rank of (uniform, key) in shard
    "q_sample_shuffle" ->
      s"""WITH h AS (SELECT doc_id, md5('42#' || CAST(doc_id AS VARCHAR)) AS m
         |  FROM documents),
         |a AS (SELECT doc_id,
         |  ('0x' || substring(m, 1, 8))::BIGINT / 4294967296.0 AS uni,
         |  CAST(('0x' || substring(m, 9, 8))::BIGINT % 8 AS INT) AS shard
         |  FROM h)
         |SELECT doc_id, shard,
         |  row_number() OVER (PARTITION BY shard ORDER BY uni, doc_id) - 1 AS pos
         |FROM a ORDER BY doc_id $N1, shard $N1, pos $N1""".stripMargin,
    // CASE-budget twin of q_sample_budget: unlisted langs budget 0
    // (cum - sz < 0 never holds, the stratum drops)
    "q_sample_budget_map" ->
      s"""WITH t AS (SELECT doc_id, text, lang, source, n_chars,
         |  coalesce(len(regexp_extract_all(text, '\\S+')), 0) AS sz,
         |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |    / 4294967296.0 AS uni
         |  FROM documents),
         |c AS (SELECT *, sum(sz) OVER (PARTITION BY lang ORDER BY uni, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         |SELECT doc_id, text, lang, source, n_chars FROM c
         |WHERE cum - sz < CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 1000
         |                 ELSE 0 END
         |ORDER BY doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin,
    "q_sample_budget" ->
      s"""WITH t AS (SELECT doc_id, text, lang, source, n_chars,
         |  coalesce(len(regexp_extract_all(text, '\\S+')), 0) AS sz,
         |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |    / 4294967296.0 AS uni
         |  FROM documents),
         |c AS (SELECT *, sum(sz) OVER (PARTITION BY lang ORDER BY uni, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         |SELECT doc_id, text, lang, source, n_chars FROM c WHERE cum - sz < 2000
         |ORDER BY doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin,
    // the kernel-counted budget: subword sizes re-derived through the
    // replace-chain replay (the q_text_bpe_bytes_encode machinery),
    // then the q_sample_budget cumulative-rank sampler verbatim
    "q_sample_budget_bpe" -> {
      val base = "regexp_replace(hex(encode(tok)), '(..)', " +
        "chr(1) || '\\1' || chr(2), 'g')"
      val folded = ByteBpeFixtureMerges.foldLeft(base) { case (e, (l, r)) =>
        s"replace($e, chr(1) || '$l' || chr(2) || chr(1) || '$r' || chr(2)," +
          s" chr(1) || '$l$r' || chr(2))"
      }
      s"""WITH bptoks AS (SELECT doc_id,
         |    unnest(regexp_extract_all(text, '$BytePretokenSql')) AS tok
         |  FROM documents),
         |bpfld AS (SELECT doc_id, $folded AS f FROM bptoks),
         |bpenc AS (SELECT doc_id,
         |    CAST(sum(len(f) - len(replace(f, chr(1), ''))) AS BIGINT) AS ns
         |  FROM bpfld GROUP BY doc_id),
         |t AS (SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
         |  coalesce(e.ns, 0) AS sz,
         |  ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |    / 4294967296.0 AS uni
         |  FROM documents d LEFT JOIN bpenc e USING (doc_id)),
         |c AS (SELECT *, sum(sz) OVER (PARTITION BY lang ORDER BY uni, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         |SELECT doc_id, text, lang, source, n_chars FROM c WHERE cum - sz < 4000
         |ORDER BY doc_id $N1, text $N1, lang $N1, source $N1, n_chars $N1""".stripMargin
    },
    "q_text_sentences" ->
      s"""WITH ss AS (SELECT doc_id, regexp_extract_all(
         |      text || '. Planted one! Planted' || CAST(doc_id AS VARCHAR)
         |           || '? tail without terminator',
         |      '[^.!?]+[.!?]+') AS s FROM documents),
         |u AS (SELECT doc_id, unnest([{'i': i, 's': s[i]}
         |    for i in generate_series(1, len(s))]) AS u FROM ss)
         |SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS sent_idx,
         |  trim(u.s) AS sentence,
         |  CAST(len(regexp_extract_all(trim(u.s), '\\S+')) AS BIGINT) AS n_tokens
         |FROM u
         |ORDER BY doc_id $N1, sent_idx $N1, sentence $N1, n_tokens $N1""".stripMargin,
    "q_sample_length_batches" ->
      s"""WITH a AS (SELECT doc_id, n_chars,
         |  CASE WHEN n_chars IS NULL THEN NULL ELSE
         |  (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END +
         |   CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END +
         |   CASE WHEN n_chars >= 600 THEN 1 ELSE 0 END) END AS bucket,
         |  CAST(('0x' || substring(md5('7#' || CAST(doc_id AS VARCHAR)), 9, 8))
         |    ::BIGINT % 4 AS INT) AS shard
         |  FROM documents)
         |SELECT doc_id, n_chars, bucket, shard,
         |  CAST(floor((row_number() OVER (PARTITION BY shard, bucket
         |    ORDER BY n_chars, doc_id) - 1) / 16.0) AS BIGINT) AS batch_idx
         |FROM a
         |ORDER BY doc_id $N1, n_chars $N1, bucket $N1, shard $N1,
         |batch_idx $N1""".stripMargin,
    // the md5 shard replay of q_sample_shuffle, ordered by the score
    // (NULLS FIRST = Spark's ascending default) instead of the uniform
    "q_sample_curriculum" ->
      s"""WITH a AS (SELECT doc_id, n_chars,
         |  CAST(('0x' || substring(md5('42#' || CAST(doc_id AS VARCHAR)), 9, 8))
         |    ::BIGINT % 8 AS INT) AS shard
         |  FROM documents)
         |SELECT doc_id, n_chars, shard,
         |  row_number() OVER (PARTITION BY shard
         |    ORDER BY n_chars NULLS FIRST, doc_id) - 1 AS pos
         |FROM a ORDER BY doc_id $N1, n_chars $N1, shard $N1, pos $N1""".stripMargin,
    "q_sample_epoch_plan" ->
      s"""WITH a AS (SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
         |      AS avail_tokens
         |  FROM documents WHERE source IS NOT NULL GROUP BY source),
         |t AS (SELECT sum(pow(CAST(avail_tokens AS DOUBLE), 0.5)) AS wsum
         |      FROM a WHERE avail_tokens > 0),
         |b AS (SELECT stratum, n_docs, avail_tokens,
         |    CASE WHEN avail_tokens > 0
         |      THEN pow(CAST(avail_tokens AS DOUBLE), 0.5) / (SELECT wsum FROM t)
         |      ELSE 0 END AS share FROM a),
         |c AS (SELECT *, CASE WHEN avail_tokens > 0
         |      THEN least(3.0, (100000 * share) / avail_tokens) END AS epochs
         |  FROM b)
         |SELECT stratum, n_docs, avail_tokens, round(share, 6) AS share,
         |  round(epochs, 6) AS epochs,
         |  round(epochs * avail_tokens, 6) AS planned_tokens
         |FROM c
         |ORDER BY stratum $N1, n_docs $N1, avail_tokens $N1, share $N1,
         |epochs $N1, planned_tokens $N1""".stripMargin,
    "q_text_vocabulary" ->
      s"""SELECT token, count(*) AS n_occurrences
         |FROM (SELECT unnest(regexp_extract_all(text, '\\S+')) AS token
         |      FROM documents)
         |GROUP BY token HAVING count(*) >= 5
         |ORDER BY token $N1, n_occurrences $N1""".stripMargin,
    // token-level formulation (rank every distinct token, min rank
    // crossing the integer threshold): equals the Spark side's
    // count-histogram arithmetic exactly — tokens sharing a count are
    // interchangeable, so min(rk) and min(cum) land on the same prefix
    "q_text_vocab_coverage" ->
      s"""WITH toks AS (SELECT unnest(regexp_extract_all(text, '\\S+')) AS token
         |              FROM documents),
         |v AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY token),
         |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
         |r AS (SELECT cnt, token,
         |        row_number() OVER (ORDER BY cnt DESC, token) AS rk,
         |        sum(cnt) OVER (ORDER BY cnt DESC, token
         |                       ROWS UNBOUNDED PRECEDING) AS cum FROM v)
         |SELECT p.pct AS coverage_pct, CAST(min(rk) AS BIGINT) AS vocab_size,
         |       CAST(min(cum) AS BIGINT) AS covered_occurrences
         |FROM r, t, (VALUES (50),(90),(99)) p(pct)
         |WHERE 100*cum >= p.pct*total
         |GROUP BY p.pct
         |ORDER BY coverage_pct $N1, vocab_size $N1, covered_occurrences $N1""".stripMargin,
    "q_text_bpe_pairs" ->
      s"""WITH toks AS (SELECT unnest(regexp_extract_all(text, '\\S+')) AS token
         |              FROM documents),
         |v AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY token),
         |p AS (SELECT substring(token, unnest(range(1, length(token))), 2) AS pair,
         |             cnt FROM v WHERE length(token) > 1)
         |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n_occurrences
         |FROM p GROUP BY pair HAVING sum(cnt) >= 10
         |ORDER BY pair $N1, n_occurrences $N1""".stripMargin,
    // merge sequence determined by hand arithmetic on the planted
    // word-frequency table (hug:10 pug:5 pun:12 bun:4 hugs:5), the
    // rank-5 tie (p+ug vs hug+s, both 5) broken by pair ascending
    "q_text_bpe_merges" ->
      s"""SELECT * FROM (VALUES
         |  (CAST(1 AS BIGINT), 'u', 'g', CAST(20 AS BIGINT)),
         |  (CAST(2 AS BIGINT), 'u', 'n', CAST(16 AS BIGINT)),
         |  (CAST(3 AS BIGINT), 'h', 'ug', CAST(15 AS BIGINT)),
         |  (CAST(4 AS BIGINT), 'p', 'un', CAST(12 AS BIGINT)),
         |  (CAST(5 AS BIGINT), 'hug', 's', CAST(5 AS BIGINT)))
         |  AS t(merge_rank, lhs, rhs, n_occurrences)
         |ORDER BY merge_rank $N1, lhs $N1, rhs $N1, n_occurrences $N1""".stripMargin,
    // encode replayed on the SAME paired-sentinel symbol encoding as
    // applyBpe: each char wrapped chr(1)..chr(2), merge (l,r) replaces
    // chr(1) l chr(2) chr(1) r chr(2) -> chr(1) lr chr(2) in training
    // order; symbol count = count of open sentinels
    "q_text_bpe_encode" -> {
      val base = "regexp_replace(tok, '(.)', chr(1) || '\\1' || chr(2), 'g')"
      val folded = BpeFixtureMerges.foldLeft(base) { case (e, (l, r)) =>
        s"replace($e, chr(1) || '$l' || chr(2) || chr(1) || '$r' || chr(2)," +
          s" chr(1) || '$l$r' || chr(2))"
      }
      s"""WITH toks AS (SELECT doc_id,
         |    unnest(regexp_extract_all(text, '\\S+')) AS tok FROM documents),
         |fld AS (SELECT doc_id, $folded AS f FROM toks),
         |enc AS (SELECT doc_id,
         |    len(f) - len(replace(f, chr(1), '')) AS ns FROM fld),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(ns) AS BIGINT) AS n_subwords FROM enc GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
         |  coalesce(a.n_subwords, 0) AS n_subwords
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id $N1, n_tokens $N1, n_subwords $N1""".stripMargin
    },
    // byte-level training replay, hand-computed over UTF-8 bytes of the
    // planted word-frequency table (hug:10 pug:5 pun:12 bun:4 hugs:5
    // café:3, GPT-2-style pre-tokens so all but the first word carry a
    // leading 20 byte): ug(20) ␠p(17) un(16) h+ug(15) ␠+hug(14 — both
    // ␠hug and ␠hugs contribute) ␠p+un(12), then the count-5/4/3 tiers
    // with hex-ascending tie-breaks (20687567+73 before 2070+7567),
    // ending in ␠café fully merged through its C3 A9 bytes
    "q_text_bpe_bytes_merges" ->
      s"""SELECT * FROM (VALUES
         |  (CAST(1 AS BIGINT), '75', '67', CAST(20 AS BIGINT)),
         |  (CAST(2 AS BIGINT), '20', '70', CAST(17 AS BIGINT)),
         |  (CAST(3 AS BIGINT), '75', '6E', CAST(16 AS BIGINT)),
         |  (CAST(4 AS BIGINT), '68', '7567', CAST(15 AS BIGINT)),
         |  (CAST(5 AS BIGINT), '20', '687567', CAST(14 AS BIGINT)),
         |  (CAST(6 AS BIGINT), '2070', '756E', CAST(12 AS BIGINT)),
         |  (CAST(7 AS BIGINT), '20687567', '73', CAST(5 AS BIGINT)),
         |  (CAST(8 AS BIGINT), '2070', '7567', CAST(5 AS BIGINT)),
         |  (CAST(9 AS BIGINT), '20', '62', CAST(4 AS BIGINT)),
         |  (CAST(10 AS BIGINT), '2062', '756E', CAST(4 AS BIGINT)),
         |  (CAST(11 AS BIGINT), '20', '63', CAST(3 AS BIGINT)),
         |  (CAST(12 AS BIGINT), '2063', '61', CAST(3 AS BIGINT)),
         |  (CAST(13 AS BIGINT), '206361', '66', CAST(3 AS BIGINT)),
         |  (CAST(14 AS BIGINT), '20636166', 'C3', CAST(3 AS BIGINT)),
         |  (CAST(15 AS BIGINT), '20636166C3', 'A9', CAST(3 AS BIGINT)))
         |  AS t(merge_rank, lhs, rhs, n_occurrences)
         |ORDER BY merge_rank $N1, lhs $N1, rhs $N1, n_occurrences $N1""".stripMargin,
    // byte-level encode replay: byte symbols re-derived from
    // hex(encode(tok)) digit pairs, sentinel-wrapped, and a replace
    // chain generated from the engine's merge list — the training-order
    // semantics the engine's greedy-by-rank kernel must reproduce
    "q_text_bpe_bytes_encode" -> {
      val base = "regexp_replace(hex(encode(tok)), '(..)', " +
        "chr(1) || '\\1' || chr(2), 'g')"
      val folded = ByteBpeFixtureMerges.foldLeft(base) { case (e, (l, r)) =>
        s"replace($e, chr(1) || '$l' || chr(2) || chr(1) || '$r' || chr(2)," +
          s" chr(1) || '$l$r' || chr(2))"
      }
      s"""WITH toks AS (SELECT doc_id,
         |    unnest(regexp_extract_all(text, '$BytePretokenSql')) AS tok
         |  FROM documents),
         |fld AS (SELECT doc_id, $folded AS f FROM toks),
         |enc AS (SELECT doc_id,
         |    len(f) - len(replace(f, chr(1), '')) AS ns FROM fld),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pretokens,
         |    CAST(sum(ns) AS BIGINT) AS n_subwords FROM enc GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.n_pretokens, 0) AS n_pretokens,
         |  coalesce(a.n_subwords, 0) AS n_subwords
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id $N1, n_pretokens $N1, n_subwords $N1""".stripMargin
    },
    // pieces replay: the same folded sentinel string, outer sentinels
    // stripped, split on close+open seams, flattened across pre-tokens —
    // then unnested to (doc_id, pos, piece) scalar rows (zipped
    // generate_subscripts/unnest = Spark posexplode; 0-based pos)
    "q_text_bpe_bytes_pieces" -> BytePiecesOracleSql,
    // the kernel's column API grades against the IDENTICAL oracle text —
    // one oracle, two entry points to the greedy-by-rank kernel
    "q_text_bpe_kernel_pieces" -> BytePiecesOracleSql,
    // FIM replay: every hash draw recomputed (md5-uniform convention;
    // the uniform is mantissa-exact, ::DOUBLE keeps the cut arithmetic
    // off DuckDB's DECIMAL path), 1-based inclusive slices, the same
    // concat_ws render (NULL-skipping, empty-keeping on both engines)
    "q_text_fim" -> {
      def u(salt: String) =
        s"(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '$salt'), 1, 8))::BIGINT" +
          " / 4294967296.0::DOUBLE)"
      s"""WITH t AS (SELECT doc_id, text,
         |    regexp_extract_all(text, '\\S+') AS toks FROM documents),
         |c AS (SELECT doc_id, text, toks, len(toks) AS n,
         |    ${u("#fim")} AS uf, ${u("#fim_mode")} AS um,
         |    CAST(floor(${u("#fim_c1")} * (len(toks) + 1)) AS INTEGER) AS c1,
         |    CAST(floor(${u("#fim_c2")} * (len(toks) + 1)) AS INTEGER) AS c2
         |  FROM t),
         |r AS (SELECT doc_id, text,
         |    uf < 0.5 AND n >= 3 AS part, um < 0.5 AS spm,
         |    coalesce(array_to_string(toks[1:least(c1, c2)], ' '), '') AS pre,
         |    coalesce(array_to_string(
         |      toks[least(c1, c2)+1:greatest(c1, c2)], ' '), '') AS mid,
         |    coalesce(array_to_string(toks[greatest(c1, c2)+1:n], ' '), '') AS suf
         |  FROM c)
         |SELECT doc_id,
         |  CASE WHEN part THEN (CASE WHEN spm THEN 'SPM' ELSE 'PSM' END)
         |       ELSE 'none' END AS fim_mode,
         |  CASE WHEN part THEN
         |    CASE WHEN spm THEN concat_ws(' ', '<|fim_suffix|>', suf,
         |           '<|fim_prefix|>', pre, '<|fim_middle|>', mid)
         |         ELSE concat_ws(' ', '<|fim_prefix|>', pre,
         |           '<|fim_suffix|>', suf, '<|fim_middle|>', mid) END
         |  ELSE text END AS text
         |FROM r
         |ORDER BY doc_id $N1, fim_mode $N1, text $N1""".stripMargin
    },
    // span-corruption replay: integer segment boundaries (// — equal
    // to Spark's floor(double-div) for these magnitudes), per-(doc, k)
    // md5-uniform length/offset draws, DuckDB's inclusive list slices
    // (empty when start > stop, no guards needed), ORDER BY k list
    // aggregation for the sentinel renderings — the CTE chain is
    // GENERATED (SpanCorruptCtes) and shared with the q_text_denoiser
    // oracle's R/X branches so the three replays can never drift
    "q_text_span_corrupt" ->
      s"""WITH t AS (SELECT doc_id, text,
         |    regexp_extract_all(text, '\\S+') AS toks FROM documents),
         |c AS (SELECT doc_id, text, toks, CAST(len(toks) AS BIGINT) AS n
         |  FROM t),
         |${spanCorruptCtes("", "0.15", 3, "#sc_len#", "#sc_pos#")}
         |SELECT c.doc_id, c.n AS n_tokens,
         |  CASE WHEN c.n >= 2 THEN g.n_spans ELSE 0 END AS n_spans,
         |  CASE WHEN c.n >= 2 THEN g.n_corrupted ELSE 0 END AS n_corrupted,
         |  CASE WHEN c.n >= 2 THEN g.inputs ELSE c.text END AS inputs,
         |  CASE WHEN c.n >= 2 THEN g.targets
         |       WHEN c.text IS NOT NULL THEN '' END AS targets
         |FROM c LEFT JOIN agg g USING (doc_id)
         |ORDER BY doc_id $N1, n_tokens $N1, n_spans $N1, n_corrupted $N1,
         |  inputs $N1, targets $N1""".stripMargin,

    // UL2 mixture replay: the SAME generated span chains at the R and
    // X parameters, the prefix-LM cut, and the binary-exact routing
    // thresholds (3/8, 3/8, 1/4)
    "q_text_denoiser_mix" -> denoiserMixSql("SELECT doc_id, text FROM documents"),

    // the config-compiled composition (dedup_exact -> denoiser_mix
    // terminal stage): the SAME denoiser replay over the md5-dedup
    // survivor set — the q_pipeline_pretrain convention for the new
    // augmentation stages
    "q_pipeline_denoiser_config" -> denoiserMixSql(
      """SELECT doc_id, text FROM documents
        |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1"""
        .stripMargin),

    // the vocabulary DERIVED independently: printf over range(0,256)
    // for the byte rows, generated VALUES at 256+rank for the merges
    "q_text_bpe_bytes_vocab" -> {
      val mergeRows = ByteBpeFixtureMerges.zipWithIndex.map {
        case ((l, r), i) => s"('$l$r', CAST(${256 + i} AS BIGINT))"
      }.mkString(",\n    ")
      s"""SELECT * FROM (
         |  SELECT printf('%02X', i) AS piece, CAST(i AS BIGINT) AS piece_id
         |  FROM range(0, 256) t(i)
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    $mergeRows) v(piece, piece_id))
         |ORDER BY piece $N1, piece_id $N1""".stripMargin
    },
    // ids replay: merge pieces by generated CASE arms at 256+rank,
    // single-byte pieces decoded from their own hex digits — then
    // unnested to (doc_id, pos, token_id) scalar rows like _pieces
    "q_text_bpe_bytes_ids" -> {
      val arms = ByteBpeFixtureMerges.zipWithIndex.map {
        case ((l, r), i) => s"WHEN '$l$r' THEN CAST(${256 + i} AS BIGINT)"
      }.mkString(" ")
      val hexByte = "CAST((strpos('0123456789ABCDEF', p[1:1]) - 1) * 16 + " +
        "strpos('0123456789ABCDEF', p[2:2]) - 1 AS BIGINT)"
      s"""WITH t AS (SELECT doc_id, list_transform($BytePiecesSql,
         |    p -> CASE p $arms ELSE $hexByte END) AS token_ids
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(generate_subscripts(token_ids, 1) - 1 AS BIGINT) AS pos,
         |  unnest(token_ids) AS token_id
         |FROM t
         |ORDER BY doc_id $N1, pos $N1, token_id $N1""".stripMargin
    },

    // the packed SFT id stream: per-turn template render (textually
    // renderChat's turnTemplate), the SAME ids replay per turn, mask 1
    // on assistant-turn ids, one EOS (mask 0) per conversation, then
    // the identical offsets + integer chop as the pretraining stream;
    // NULL-turn docs coalesce to the empty conversation (EOS only),
    // mirroring chatFromDocs' otherwise-empty-array
    // packed-stream document spans: the ids COUNT is the pieces count
    // + the eos, so the replay needs no id arms at all — offsets and
    // span bounds are integer arithmetic over the same chop geometry
    // as q_pack_token_ids (budget 128, shards 8)
    "q_pack_token_spans" -> {
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len($BytePiecesSql) + 1 AS BIGINT) AS n
         |  FROM documents WHERE text IS NOT NULL),
         |o AS (SELECT doc_id, doc_id % 8 AS shard, n,
         |    CAST(COALESCE(SUM(n) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS toff
         |  FROM t),
         |x AS (SELECT shard, doc_id, n, toff,
         |    unnest(range(toff // 128, (toff + n - 1) // 128 + 1)) AS seq_id
         |  FROM o)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(seq_id AS BIGINT) AS seq_id, doc_id,
         |  CAST(GREATEST(toff - seq_id * 128, 0) AS BIGINT) AS span_start,
         |  CAST(LEAST(n, (seq_id + 1) * 128 - toff)
         |    - GREATEST(seq_id * 128 - toff, 0) AS BIGINT) AS span_len
         |FROM x
         |ORDER BY shard $N1, seq_id $N1, doc_id $N1, span_start $N1,
         |  span_len $N1""".stripMargin
    },

    // pack-health datasheet: the q_pack_token_spans count chain
    // aggregated per window, then ONE summary row — fill/avg spelled
    // as the same single double division both engines execute
    "q_pack_datasheet" -> {
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len($BytePiecesSql) + 1 AS BIGINT) AS n
         |  FROM documents WHERE text IS NOT NULL),
         |o AS (SELECT doc_id, doc_id % 8 AS shard, n,
         |    CAST(COALESCE(SUM(n) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS toff
         |  FROM t),
         |x AS (SELECT shard, doc_id, n, toff,
         |    unnest(range(toff // 128, (toff + n - 1) // 128 + 1)) AS seq_id
         |  FROM o),
         |w AS (SELECT shard, seq_id,
         |    SUM(LEAST(n, (seq_id + 1) * 128 - toff)
         |      - GREATEST(seq_id * 128 - toff, 0)) AS nt,
         |    COUNT(*) AS nd
         |  FROM x GROUP BY shard, seq_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(count(DISTINCT shard) AS BIGINT) AS n_shards,
         |  CAST(sum(nt) AS BIGINT) AS total_tokens,
         |  round(CAST(sum(nt) AS DOUBLE) / CAST(count(*) * 128 AS DOUBLE), 6)
         |    AS fill_rate,
         |  CAST(sum(CASE WHEN nt = 128 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS full_windows,
         |  round(CAST(sum(nd) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         |    AS avg_docs_per_window,
         |  CAST(min(nd) AS BIGINT) AS min_docs_per_window,
         |  CAST(max(nd) AS BIGINT) AS max_docs_per_window,
         |  CAST(0 AS BIGINT) AS truncated_windows
         |FROM w
         |ORDER BY n_windows $N1""".stripMargin
    },

    // the no-split stream's conversation spans: the recursive next-fit
    // assignment chain + within-window offsets (a plain cumulative sum
    // over eff in doc order), one row per conversation
    "q_chat_pack_nosplit_spans" -> {
      s"""WITH RECURSIVE $chatCte,
         |$SftCellCtes,
         |s AS (SELECT doc_id, doc_id % 8 AS shard,
         |    LEAST(len(ids), 512) AS eff, len(ids) > 512 AS tr,
         |    row_number() OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id) AS ri
         |  FROM conv),
         |assign AS (
         |  SELECT shard, ri, doc_id, eff, tr,
         |    CAST(0 AS BIGINT) AS seq, CAST(eff AS BIGINT) AS used
         |  FROM s WHERE ri = 1
         |  UNION ALL
         |  SELECT s.shard, s.ri, s.doc_id, s.eff, s.tr,
         |    CASE WHEN a.used + s.eff > 512 THEN a.seq + 1
         |      ELSE a.seq END,
         |    CASE WHEN a.used + s.eff > 512 THEN CAST(s.eff AS BIGINT)
         |      ELSE a.used + s.eff END
         |  FROM assign a JOIN s ON s.shard = a.shard AND s.ri = a.ri + 1),
         |woff AS (SELECT shard, doc_id, seq, eff, tr,
         |    COALESCE(SUM(eff) OVER (PARTITION BY shard, seq
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS off
         |  FROM assign)
         |SELECT CAST(shard AS BIGINT) AS shard, CAST(seq AS BIGINT) AS seq_id,
         |  doc_id, CAST(off AS BIGINT) AS span_start,
         |  CAST(eff AS BIGINT) AS span_len, tr AS truncated
         |FROM woff
         |ORDER BY shard $N1, seq_id $N1, doc_id $N1, span_start $N1,
         |  span_len $N1, truncated $N1""".stripMargin
    },

    // the no-split packer's datasheet: the recursive next-fit replay's
    // per-window (eff sum, doc count, truncation max), summarized
    "q_chat_pack_nosplit_datasheet" -> {
      s"""WITH RECURSIVE $chatCte,
         |$SftCellCtes,
         |s AS (SELECT doc_id, doc_id % 8 AS shard,
         |    LEAST(len(ids), 512) AS eff, len(ids) > 512 AS tr,
         |    row_number() OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id) AS ri
         |  FROM conv),
         |assign AS (
         |  SELECT shard, ri, doc_id, eff, tr,
         |    CAST(0 AS BIGINT) AS seq, CAST(eff AS BIGINT) AS used
         |  FROM s WHERE ri = 1
         |  UNION ALL
         |  SELECT s.shard, s.ri, s.doc_id, s.eff, s.tr,
         |    CASE WHEN a.used + s.eff > 512 THEN a.seq + 1
         |      ELSE a.seq END,
         |    CASE WHEN a.used + s.eff > 512 THEN CAST(s.eff AS BIGINT)
         |      ELSE a.used + s.eff END
         |  FROM assign a JOIN s ON s.shard = a.shard AND s.ri = a.ri + 1),
         |w AS (SELECT shard, seq, SUM(eff) AS nt, COUNT(*) AS nd,
         |    MAX(CASE WHEN tr THEN 1 ELSE 0 END) AS wt
         |  FROM assign GROUP BY shard, seq)
         |SELECT CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(count(DISTINCT shard) AS BIGINT) AS n_shards,
         |  CAST(sum(nt) AS BIGINT) AS total_tokens,
         |  round(CAST(sum(nt) AS DOUBLE) / CAST(count(*) * 512 AS DOUBLE), 6)
         |    AS fill_rate,
         |  CAST(sum(CASE WHEN nt = 512 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS full_windows,
         |  round(CAST(sum(nd) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         |    AS avg_docs_per_window,
         |  CAST(min(nd) AS BIGINT) AS min_docs_per_window,
         |  CAST(max(nd) AS BIGINT) AS max_docs_per_window,
         |  CAST(sum(wt) AS BIGINT) AS truncated_windows
         |FROM w
         |ORDER BY n_windows $N1""".stripMargin
    },

    // the un-packed tokenize+mask surface: the shared cell chain
    // unnested directly (no packing arithmetic to replay)
    "q_chat_sft_tokenize" -> {
      s"""WITH $chatCte,
         |$SftCellCtes
         |SELECT doc_id,
         |  CAST(generate_subscripts(ids, 1) - 1 AS BIGINT) AS pos,
         |  unnest(ids) AS token_id, unnest(ms) AS loss_mask
         |FROM conv
         |ORDER BY doc_id $N1, pos $N1, token_id $N1, loss_mask $N1""".stripMargin
    },

    // no-split reader replay: the tokenize chain SLICED to the 512
    // budget (the max-seq-len rule the no-split packer applies);
    // everything else — pack, spans, unpack — happens Spark-side only
    "q_chat_sft_unpack_nosplit" -> {
      s"""WITH $chatCte,
         |$SftCellCtes,
         |trunc AS (SELECT doc_id, ids[1:512] AS ids, ms[1:512] AS ms FROM conv)
         |SELECT doc_id,
         |  CAST(generate_subscripts(ids, 1) - 1 AS BIGINT) AS pos,
         |  unnest(ids) AS token_id, unnest(ms) AS loss_mask
         |FROM trunc
         |ORDER BY doc_id $N1, pos $N1, token_id $N1, loss_mask $N1""".stripMargin
    },

    // packed-SFT conversation spans: the cell CTE's list LENGTH (the
    // eos cell is already in `ids`) + the same integer chop geometry
    // as q_pack_token_spans, budget 128 shards 8
    "q_chat_pack_sft_spans" -> {
      s"""WITH $chatCte,
         |$SftCellCtes,
         |t AS (SELECT doc_id, CAST(len(ids) AS BIGINT) AS n FROM conv),
         |o AS (SELECT doc_id, doc_id % 8 AS shard, n,
         |    CAST(COALESCE(SUM(n) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS toff
         |  FROM t),
         |x AS (SELECT shard, doc_id, n, toff,
         |    unnest(range(toff // 128, (toff + n - 1) // 128 + 1)) AS seq_id
         |  FROM o)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(seq_id AS BIGINT) AS seq_id, doc_id,
         |  CAST(GREATEST(toff - seq_id * 128, 0) AS BIGINT) AS span_start,
         |  CAST(LEAST(n, (seq_id + 1) * 128 - toff)
         |    - GREATEST(seq_id * 128 - toff, 0) AS BIGINT) AS span_len
         |FROM x
         |ORDER BY shard $N1, seq_id $N1, doc_id $N1, span_start $N1,
         |  span_len $N1""".stripMargin
    },

    // SFT window-mix replay: the chat spans chain joined to each
    // conversation's SOURCE document stratum, grouped to
    // window×stratum, shares via the per-window SUM OVER
    // the chat pack_store stage's validate() row (r19): file count
    // re-derived from the SFT pack geometry (cell sizes -> per-shard
    // offsets -> window range -> files of 4), reported twice with
    // zero mismatches by a healthy store
    "q_pipeline_chat_store_config" -> {
      s"""WITH $chatCte,
         |$SftCellCtes,
         |t AS (SELECT doc_id, CAST(len(ids) AS BIGINT) AS n FROM conv),
         |o AS (SELECT doc_id, doc_id % 8 AS shard, n,
         |    CAST(COALESCE(SUM(n) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS toff
         |  FROM t),
         |x AS (SELECT shard,
         |    unnest(range(toff // 128, (toff + n - 1) // 128 + 1)) AS seq_id
         |  FROM o),
         |wd AS (SELECT DISTINCT shard, seq_id FROM x),
         |f AS (SELECT DISTINCT shard, seq_id // 4 AS file_idx FROM x)
         |SELECT CAST(count(*) AS BIGINT) AS n_files_stored,
         |  CAST(count(*) AS BIGINT) AS n_files_recomputed,
         |  CAST(0 AS BIGINT) AS n_mismatched_files,
         |  (SELECT CAST(count(*) AS BIGINT) FROM wd) AS n_windows,
         |  CAST(0 AS BIGINT) AS n_bad_span_windows,
         |  CAST(0 AS BIGINT) AS n_epochs,
         |  CAST(0 AS BIGINT) AS n_bad_epochs,
         |  true AS ok
         |FROM f""".stripMargin
    },
    "q_chat_pack_window_mix" -> {
      s"""WITH $chatCte,
         |$SftCellCtes,
         |t AS (SELECT doc_id, CAST(len(ids) AS BIGINT) AS n FROM conv),
         |o AS (SELECT doc_id, doc_id % 8 AS shard, n,
         |    CAST(COALESCE(SUM(n) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS toff
         |  FROM t),
         |x AS (SELECT shard, doc_id, n, toff,
         |    unnest(range(toff // 128, (toff + n - 1) // 128 + 1)) AS seq_id
         |  FROM o),
         |sp AS (SELECT shard, seq_id, doc_id,
         |    LEAST(n, (seq_id + 1) * 128 - toff)
         |      - GREATEST(seq_id * 128 - toff, 0) AS sl
         |  FROM x),
         |j AS (SELECT sp.shard, sp.seq_id, dd.source AS stratum,
         |    CAST(SUM(sp.sl) AS BIGINT) AS n_tokens
         |  FROM sp JOIN documents dd USING (doc_id)
         |  GROUP BY sp.shard, sp.seq_id, dd.source)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(seq_id AS BIGINT) AS seq_id, stratum, n_tokens,
         |  round(CAST(n_tokens AS DOUBLE) /
         |    CAST(SUM(n_tokens) OVER (PARTITION BY shard, seq_id)
         |      AS DOUBLE), 6) AS share
         |FROM j
         |ORDER BY shard $N1, seq_id $N1, stratum $N1, n_tokens $N1,
         |  share $N1""".stripMargin
    },

    // next-fit no-split packing: the per-shard window assignment is a
    // RECURSIVE replay (one conversation per step; the running
    // remainder is not a prefix sum), then within-window offsets are a
    // plain cumulative sum and pad rows generate from each window's
    // total. eos=pad=264, budget 128, shards 8 — must mirror the
    // registration exactly.
    "q_chat_pack_sft_nosplit" -> {
      s"""WITH RECURSIVE $chatCte,
         |$SftCellCtes,
         |s AS (SELECT doc_id, doc_id % 8 AS shard, ids, ms,
         |    LEAST(len(ids), 512) AS eff,
         |    row_number() OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id) AS ri
         |  FROM conv),
         |assign AS (
         |  SELECT shard, ri, doc_id, eff,
         |    CAST(0 AS BIGINT) AS seq, CAST(eff AS BIGINT) AS used
         |  FROM s WHERE ri = 1
         |  UNION ALL
         |  SELECT s.shard, s.ri, s.doc_id, s.eff,
         |    CASE WHEN a.used + s.eff > 512 THEN a.seq + 1
         |      ELSE a.seq END,
         |    CASE WHEN a.used + s.eff > 512 THEN CAST(s.eff AS BIGINT)
         |      ELSE a.used + s.eff END
         |  FROM assign a JOIN s ON s.shard = a.shard AND s.ri = a.ri + 1),
         |woff AS (SELECT shard, doc_id, seq, eff,
         |    COALESCE(SUM(eff) OVER (PARTITION BY shard, seq
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS off
         |  FROM assign),
         |cells AS (SELECT o.shard, o.seq AS seq_id,
         |    o.off + generate_subscripts(c.ids[1:CAST(o.eff AS INT)], 1) - 1
         |      AS pos,
         |    unnest(c.ids[1:CAST(o.eff AS INT)]) AS token_id,
         |    unnest(c.ms[1:CAST(o.eff AS INT)]) AS loss_mask
         |  FROM woff o JOIN conv c USING (doc_id)),
         |tot AS (SELECT shard, seq AS seq_id, SUM(eff) AS t
         |  FROM assign GROUP BY shard, seq),
         |padr AS (SELECT shard, seq_id,
         |    t + unnest(range(0, CAST(512 - t AS BIGINT))) AS pos,
         |    CAST(264 AS BIGINT) AS token_id, CAST(0 AS BIGINT) AS loss_mask
         |  FROM tot),
         |allr AS (SELECT * FROM cells UNION ALL SELECT * FROM padr)
         |SELECT CAST(shard AS BIGINT) AS shard, seq_id,
         |  CAST(pos AS BIGINT) AS pos, token_id, loss_mask
         |FROM allr
         |ORDER BY shard $N1, seq_id $N1, pos $N1, token_id $N1,
         |  loss_mask $N1""".stripMargin
    },

    // no-split file manifest: the next-fit assignment replay's window
    // stats (real ids before padding, per-doc truncation flags joined
    // back) rolled up per (shard, seq // 4) file
    "q_chat_pack_nosplit_manifest" -> {
      s"""WITH RECURSIVE $chatCte,
         |$SftCellCtes,
         |s AS (SELECT doc_id, doc_id % 8 AS shard, ids, ms,
         |    LEAST(len(ids), 512) AS eff,
         |    len(ids) > 512 AS cut,
         |    row_number() OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id) AS ri
         |  FROM conv),
         |assign AS (
         |  SELECT shard, ri, doc_id, eff,
         |    CAST(0 AS BIGINT) AS seq, CAST(eff AS BIGINT) AS used
         |  FROM s WHERE ri = 1
         |  UNION ALL
         |  SELECT s.shard, s.ri, s.doc_id, s.eff,
         |    CASE WHEN a.used + s.eff > 512 THEN a.seq + 1
         |      ELSE a.seq END,
         |    CASE WHEN a.used + s.eff > 512 THEN CAST(s.eff AS BIGINT)
         |      ELSE a.used + s.eff END
         |  FROM assign a JOIN s ON s.shard = a.shard AND s.ri = a.ri + 1),
         |w AS (SELECT a.shard, a.seq,
         |    CAST(SUM(a.eff) AS BIGINT) AS nt,
         |    CAST(COUNT(*) AS BIGINT) AS nd,
         |    CAST(MAX(CASE WHEN s2.cut THEN 1 ELSE 0 END) AS BIGINT) AS tw
         |  FROM assign a JOIN s s2 USING (doc_id)
         |  GROUP BY a.shard, a.seq)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(seq // 4 AS BIGINT) AS file_idx,
         |  CAST(MIN(seq) AS BIGINT) AS seq_from,
         |  CAST(MAX(seq) AS BIGINT) AS seq_to,
         |  CAST(COUNT(*) AS BIGINT) AS n_windows,
         |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |  CAST(SUM(nd) AS BIGINT) AS n_docs,
         |  CAST(SUM(tw) AS BIGINT) AS truncated_windows
         |FROM w GROUP BY shard, seq // 4
         |ORDER BY shard $N1, file_idx $N1, seq_from $N1, seq_to $N1,
         |  n_windows $N1, n_tokens $N1, n_docs $N1,
         |  truncated_windows $N1""".stripMargin
    },

    "q_chat_pack_sft_ids" -> {
      s"""WITH $chatCte,
         |$SftCellCtes,
         |o AS (SELECT doc_id, doc_id % 8 AS shard, ids, ms,
         |    COALESCE(SUM(len(ids)) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS toff
         |  FROM conv),
         |x AS (SELECT shard,
         |    toff + generate_subscripts(ids, 1) - 1 AS gpos,
         |    unnest(ids) AS token_id, unnest(ms) AS loss_mask
         |  FROM o)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(gpos // 128 AS BIGINT) AS seq_id,
         |  CAST(gpos % 128 AS BIGINT) AS pos, token_id, loss_mask
         |FROM x
         |ORDER BY shard $N1, seq_id $N1, pos $N1, token_id $N1,
         |  loss_mask $N1""".stripMargin
    },

    // the packed pretraining id stream: the SAME ids replay, one EOS
    // (264 = 256 + |fixture merges|) appended per doc, per-shard
    // running offsets (scalar window), integer chop into 128-id
    // windows — a fully independent re-derivation of the operator's
    // address+slice arithmetic
    "q_pack_token_ids" -> {
      val arms = ByteBpeFixtureMerges.zipWithIndex.map {
        case ((l, r), i) => s"WHEN '$l$r' THEN CAST(${256 + i} AS BIGINT)"
      }.mkString(" ")
      val hexByte = "CAST((strpos('0123456789ABCDEF', p[1:1]) - 1) * 16 + " +
        "strpos('0123456789ABCDEF', p[2:2]) - 1 AS BIGINT)"
      val eos = 256 + ByteBpeFixtureMerges.size
      s"""WITH t AS (SELECT doc_id, list_concat(list_transform($BytePiecesSql,
         |    p -> CASE p $arms ELSE $hexByte END),
         |    [CAST($eos AS BIGINT)]) AS ids
         |  FROM documents WHERE text IS NOT NULL),
         |o AS (SELECT doc_id, doc_id % 8 AS shard, ids,
         |    COALESCE(SUM(len(ids)) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS toff
         |  FROM t),
         |x AS (SELECT shard,
         |    toff + generate_subscripts(ids, 1) - 1 AS gpos,
         |    unnest(ids) AS token_id
         |  FROM o)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(gpos // 128 AS BIGINT) AS seq_id,
         |  CAST(gpos % 128 AS BIGINT) AS pos, token_id
         |FROM x
         |ORDER BY shard $N1, seq_id $N1, pos $N1, token_id $N1""".stripMargin
    },
    // window-mix replay: the spans chain joined to each doc's source,
    // grouped to window×source, shares via a per-window SUM OVER —
    // the same single double division + round(6) both engines run
    "q_pack_window_mix" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len($BytePiecesSql) + 1 AS BIGINT) AS n
         |  FROM documents WHERE text IS NOT NULL),
         |o AS (SELECT doc_id, doc_id % 8 AS shard, n,
         |    CAST(COALESCE(SUM(n) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS toff
         |  FROM t),
         |x AS (SELECT shard, doc_id, n, toff,
         |    unnest(range(toff // 128, (toff + n - 1) // 128 + 1)) AS seq_id
         |  FROM o),
         |sp AS (SELECT shard, seq_id, doc_id,
         |    LEAST(n, (seq_id + 1) * 128 - toff)
         |      - GREATEST(seq_id * 128 - toff, 0) AS sl
         |  FROM x),
         |j AS (SELECT sp.shard, sp.seq_id, d.source AS stratum,
         |    CAST(SUM(sp.sl) AS BIGINT) AS n_tokens
         |  FROM sp JOIN documents d USING (doc_id)
         |  GROUP BY sp.shard, sp.seq_id, d.source)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(seq_id AS BIGINT) AS seq_id, stratum, n_tokens,
         |  round(CAST(n_tokens AS DOUBLE) /
         |    CAST(SUM(n_tokens) OVER (PARTITION BY shard, seq_id)
         |      AS DOUBLE), 6) AS share
         |FROM j
         |ORDER BY shard $N1, seq_id $N1, stratum $N1, n_tokens $N1,
         |  share $N1""".stripMargin,
    // file-manifest replay: the datasheet's per-window chain rolled
    // up per (shard, seq_id // 4) file with integer division
    "q_pack_file_manifest" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len($BytePiecesSql) + 1 AS BIGINT) AS n
         |  FROM documents WHERE text IS NOT NULL),
         |o AS (SELECT doc_id, doc_id % 8 AS shard, n,
         |    CAST(COALESCE(SUM(n) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS toff
         |  FROM t),
         |x AS (SELECT shard, doc_id, n, toff,
         |    unnest(range(toff // 128, (toff + n - 1) // 128 + 1)) AS seq_id
         |  FROM o),
         |w AS (SELECT shard, seq_id,
         |    SUM(LEAST(n, (seq_id + 1) * 128 - toff)
         |      - GREATEST(seq_id * 128 - toff, 0)) AS nt,
         |    COUNT(*) AS nd
         |  FROM x GROUP BY shard, seq_id)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(seq_id // 4 AS BIGINT) AS file_idx,
         |  CAST(min(seq_id) AS BIGINT) AS seq_from,
         |  CAST(max(seq_id) AS BIGINT) AS seq_to,
         |  CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  CAST(sum(nd) AS BIGINT) AS n_docs,
         |  CAST(0 AS BIGINT) AS truncated_windows
         |FROM w GROUP BY shard, seq_id // 4
         |ORDER BY shard $N1, file_idx $N1, seq_from $N1, seq_to $N1,
         |  n_windows $N1, n_tokens $N1, n_docs $N1,
         |  truncated_windows $N1""".stripMargin,
    // the pack_store stage's validate() row (r19): the oracle counts
    // the artifact's output files independently from the pack geometry
    // (windows from the chop arithmetic, files from seq_id // 4); a
    // healthy store must report that count twice with zero mismatches
    "q_pipeline_pack_store_config" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len($BytePiecesSql) + 1 AS BIGINT) AS n
         |  FROM documents WHERE text IS NOT NULL),
         |o AS (SELECT doc_id, doc_id % 8 AS shard, n,
         |    CAST(COALESCE(SUM(n) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS toff
         |  FROM t),
         |x AS (SELECT shard,
         |    unnest(range(toff // 128, (toff + n - 1) // 128 + 1)) AS seq_id
         |  FROM o),
         |wd AS (SELECT DISTINCT shard, seq_id FROM x),
         |f AS (SELECT DISTINCT shard, seq_id // 4 AS file_idx FROM x)
         |SELECT CAST(count(*) AS BIGINT) AS n_files_stored,
         |  CAST(count(*) AS BIGINT) AS n_files_recomputed,
         |  CAST(0 AS BIGINT) AS n_mismatched_files,
         |  (SELECT CAST(count(*) AS BIGINT) FROM wd) AS n_windows,
         |  CAST(0 AS BIGINT) AS n_bad_span_windows,
         |  CAST(0 AS BIGINT) AS n_epochs,
         |  CAST(0 AS BIGINT) AS n_bad_epochs,
         |  true AS ok
         |FROM f""".stripMargin,
    // one loader's slice of the persisted epoch stream (r20): the
    // geometry + md5 replay filtered by the same exact 32-bit integer
    // cut ((kb32 * nSlices) div 2^32 = slice) the reader applies
    "q_pack_store_ordered_slice" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len($BytePiecesSql) + 1 AS BIGINT) AS n
         |  FROM documents WHERE text IS NOT NULL),
         |o AS (SELECT doc_id, doc_id % 8 AS shard, n,
         |    CAST(COALESCE(SUM(n) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS toff
         |  FROM t),
         |wd AS (SELECT DISTINCT CAST(shard AS BIGINT) AS shard,
         |    CAST(seq_id AS BIGINT) AS seq_id FROM (
         |    SELECT shard,
         |      unnest(range(toff // 128, (toff + n - 1) // 128 + 1)) AS seq_id
         |    FROM o)),
         |k AS (SELECT shard, seq_id,
         |    md5(concat_ws(':', 42, 1, shard, seq_id)) AS order_key
         |  FROM wd)
         |SELECT shard, seq_id, order_key
         |FROM k
         |WHERE (('0x' || substr(order_key, 1, 8))::BIGINT * 3)
         |  // 4294967296 = 1
         |ORDER BY shard $N1, seq_id $N1, order_key $N1""".stripMargin,
    // the multi-store WFQ interleave (r20): both stores' chop
    // geometries replayed (budget 128/shards 8/seed 42 and budget 96/
    // shards 4/seed 7), epoch-1 md5 keys recomputed, the within-store
    // rank as a plain row_number (the engine's sharded-rank
    // decomposition equals it exactly — the cell cut is monotone in
    // the key), virtual finish time = (rank + 0.5) / weight
    "q_pack_stores_interleaved" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len($BytePiecesSql) + 1 AS BIGINT) AS n
         |  FROM documents WHERE text IS NOT NULL),
         |oa AS (SELECT doc_id, doc_id % 8 AS shard, n,
         |    CAST(COALESCE(SUM(n) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS toff
         |  FROM t),
         |wa AS (SELECT DISTINCT CAST(shard AS BIGINT) AS shard,
         |    CAST(seq_id AS BIGINT) AS seq_id FROM (
         |    SELECT shard,
         |      unnest(range(toff // 128, (toff + n - 1) // 128 + 1)) AS seq_id
         |    FROM oa)),
         |ob AS (SELECT doc_id, doc_id % 4 AS shard, n,
         |    CAST(COALESCE(SUM(n) OVER (PARTITION BY doc_id % 4
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS toff
         |  FROM t),
         |wb AS (SELECT DISTINCT CAST(shard AS BIGINT) AS shard,
         |    CAST(seq_id AS BIGINT) AS seq_id FROM (
         |    SELECT shard,
         |      unnest(range(toff // 96, (toff + n - 1) // 96 + 1)) AS seq_id
         |    FROM ob)),
         |k AS (
         |  SELECT CAST(0 AS BIGINT) AS store, shard, seq_id,
         |    md5(concat_ws(':', 42, 1, shard, seq_id)) AS order_key FROM wa
         |  UNION ALL
         |  SELECT CAST(1 AS BIGINT) AS store, shard, seq_id,
         |    md5(concat_ws(':', 7, 1, shard, seq_id)) AS order_key FROM wb),
         |rnk AS (SELECT store, shard, seq_id, order_key,
         |    CAST(row_number() OVER (PARTITION BY store
         |      ORDER BY order_key, shard, seq_id) - 1 AS BIGINT) AS r
         |  FROM k)
         |SELECT store, shard, seq_id, order_key,
         |  (CAST(r AS DOUBLE) + 0.5) /
         |    (CASE WHEN store = 0 THEN CAST(0.7 AS DOUBLE)
         |          ELSE CAST(0.3 AS DOUBLE) END) AS interleave_key
         |FROM rnk
         |ORDER BY store $N1, shard $N1, seq_id $N1, order_key $N1,
         |  interleave_key $N1""".stripMargin,
    // the persisted 2-epoch store's gate (r20): same geometry replay,
    // n_epochs = 2 (the packedStore fixture persists a 2-epoch order)
    "q_pack_store_validate" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len($BytePiecesSql) + 1 AS BIGINT) AS n
         |  FROM documents WHERE text IS NOT NULL),
         |o AS (SELECT doc_id, doc_id % 8 AS shard, n,
         |    CAST(COALESCE(SUM(n) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS toff
         |  FROM t),
         |x AS (SELECT shard,
         |    unnest(range(toff // 128, (toff + n - 1) // 128 + 1)) AS seq_id
         |  FROM o),
         |wd AS (SELECT DISTINCT shard, seq_id FROM x),
         |f AS (SELECT DISTINCT shard, seq_id // 4 AS file_idx FROM x)
         |SELECT CAST(count(*) AS BIGINT) AS n_files_stored,
         |  CAST(count(*) AS BIGINT) AS n_files_recomputed,
         |  CAST(0 AS BIGINT) AS n_mismatched_files,
         |  (SELECT CAST(count(*) AS BIGINT) FROM wd) AS n_windows,
         |  CAST(0 AS BIGINT) AS n_bad_span_windows,
         |  CAST(2 AS BIGINT) AS n_epochs,
         |  CAST(0 AS BIGINT) AS n_bad_epochs,
         |  true AS ok
         |FROM f""".stripMargin,
    // training-order replay: window keys from the pack geometry (the
    // spans oracle's seq ranges), epochs crossed in, md5 recomputed —
    // both engines' md5/concat_ws agree byte-for-byte
    "q_pack_training_order" -> {
      val arms = ByteBpeFixtureMerges.zipWithIndex.map {
        case ((l, r), i) => s"WHEN '$l$r' THEN CAST(${256 + i} AS BIGINT)"
      }.mkString(" ")
      val hexByte = "CAST((strpos('0123456789ABCDEF', p[1:1]) - 1) * 16 + " +
        "strpos('0123456789ABCDEF', p[2:2]) - 1 AS BIGINT)"
      val eos = 256 + ByteBpeFixtureMerges.size
      s"""WITH t AS (SELECT doc_id, list_concat(list_transform($BytePiecesSql,
         |    p -> CASE p $arms ELSE $hexByte END),
         |    [CAST($eos AS BIGINT)]) AS ids
         |  FROM documents WHERE text IS NOT NULL),
         |o AS (SELECT doc_id, doc_id % 8 AS shard,
         |    CAST(len(ids) AS BIGINT) AS n,
         |    CAST(COALESCE(SUM(len(ids)) OVER (PARTITION BY doc_id % 8
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS toff
         |  FROM t),
         |w AS (SELECT DISTINCT shard, seq_id FROM (
         |    SELECT CAST(shard AS BIGINT) AS shard,
         |      CAST(unnest(range(toff // 128, (toff + n - 1) // 128 + 1))
         |        AS BIGINT) AS seq_id
         |    FROM o)),
         |e AS (SELECT CAST(unnest(range(2)) AS BIGINT) AS epoch)
         |SELECT e.epoch, w.shard, w.seq_id,
         |  md5(concat_ws(':', 42, e.epoch, w.shard, w.seq_id)) AS order_key
         |FROM e, w
         |ORDER BY epoch $N1, shard $N1, seq_id $N1, order_key $N1""".stripMargin
    },
    // unpack replay: the oracle NEVER builds the packed form — it
    // tokenizes each doc directly (ids replay + EOS) and unnests; the
    // Spark side reconstructs the same stream from windows + spans
    "q_pack_unpack" -> {
      val arms = ByteBpeFixtureMerges.zipWithIndex.map {
        case ((l, r), i) => s"WHEN '$l$r' THEN CAST(${256 + i} AS BIGINT)"
      }.mkString(" ")
      val hexByte = "CAST((strpos('0123456789ABCDEF', p[1:1]) - 1) * 16 + " +
        "strpos('0123456789ABCDEF', p[2:2]) - 1 AS BIGINT)"
      val eos = 256 + ByteBpeFixtureMerges.size
      s"""WITH t AS (SELECT doc_id, list_concat(list_transform($BytePiecesSql,
         |    p -> CASE p $arms ELSE $hexByte END),
         |    [CAST($eos AS BIGINT)]) AS ids
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id,
         |  CAST(generate_subscripts(ids, 1) - 1 AS BIGINT) AS pos,
         |  unnest(ids) AS token_id
         |FROM t
         |ORDER BY doc_id $N1, pos $N1, token_id $N1""".stripMargin
    },
    // alignment replay: token ids from the pieces CASE (the pack
    // oracle's arms), byte_len from each hex piece's length, starts
    // from a running sum — spans must tile the UTF-8 bytes exactly
    "q_text_bpe_offsets" -> {
      val arms = ByteBpeFixtureMerges.zipWithIndex.map {
        case ((l, r), i) => s"WHEN '$l$r' THEN CAST(${256 + i} AS BIGINT)"
      }.mkString(" ")
      val hexByte = "CAST((strpos('0123456789ABCDEF', piece[1:1]) - 1) * 16" +
        " + strpos('0123456789ABCDEF', piece[2:2]) - 1 AS BIGINT)"
      s"""WITH t AS (SELECT doc_id, $BytePiecesSql AS pieces FROM documents),
         |x AS (SELECT doc_id,
         |    CAST(generate_subscripts(pieces, 1) - 1 AS BIGINT) AS pos,
         |    unnest(pieces) AS piece
         |  FROM t),
         |y AS (SELECT doc_id, pos,
         |    CASE piece $arms ELSE $hexByte END AS token_id,
         |    CAST(len(piece) // 2 AS BIGINT) AS byte_len
         |  FROM x)
         |SELECT doc_id, pos, token_id,
         |  CAST(COALESCE(SUM(byte_len) OVER (PARTITION BY doc_id
         |    ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS byte_start,
         |  byte_len
         |FROM y
         |ORDER BY doc_id $N1, pos $N1, token_id $N1, byte_start $N1,
         |  byte_len $N1""".stripMargin
    },
    // full-cycle round-trips: tokenize->pack->unpack->detokenize (and
    // plain decode(encode(text))) are the IDENTITY, so the oracle is
    // the source table itself — every byte of arithmetic is Spark-side
    "q_pack_roundtrip_text" ->
      s"""SELECT doc_id, text FROM documents WHERE text IS NOT NULL
         |ORDER BY doc_id $N1, text $N1""".stripMargin,
    "q_text_bpe_decode" ->
      s"""SELECT doc_id, text FROM documents
         |ORDER BY doc_id $N1, text $N1""".stripMargin,
    "q_text_bpe_decode_50k" ->
      s"""SELECT doc_id, text FROM documents
         |ORDER BY doc_id $N1, text $N1""".stripMargin,
    // the per-language fertility card under the byte-level tokenizer
    "q_text_fertility_bytes" -> {
      val base = "regexp_replace(hex(encode(tok)), '(..)', " +
        "chr(1) || '\\1' || chr(2), 'g')"
      val folded = ByteBpeFixtureMerges.foldLeft(base) { case (e, (l, r)) =>
        s"replace($e, chr(1) || '$l' || chr(2) || chr(1) || '$r' || chr(2)," +
          s" chr(1) || '$l$r' || chr(2))"
      }
      s"""WITH toks AS (SELECT doc_id,
         |    unnest(regexp_extract_all(text, '$BytePretokenSql')) AS tok
         |  FROM documents),
         |fld AS (SELECT doc_id, $folded AS f FROM toks),
         |enc AS (SELECT doc_id,
         |    CAST(sum(len(f) - len(replace(f, chr(1), ''))) AS BIGINT) AS ns
         |  FROM fld GROUP BY doc_id),
         |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
         |      AS total_words,
         |    CAST(sum(coalesce(e.ns, 0)) AS BIGINT) AS total_subwords,
         |    CAST(sum(strlen(text)) AS BIGINT) AS total_bytes
         |  FROM documents d LEFT JOIN enc e ON d.doc_id = e.doc_id
         |  GROUP BY lang)
         |SELECT lang, n_docs, total_words, total_subwords, total_bytes,
         |  CASE WHEN total_words > 0
         |    THEN round(CAST(total_subwords AS DOUBLE) / total_words, 6)
         |  END AS fertility,
         |  CASE WHEN total_subwords > 0
         |    THEN round(CAST(total_bytes AS DOUBLE) / total_subwords, 6)
         |  END AS bytes_per_subword
         |FROM a
         |ORDER BY lang $N1, n_docs $N1, total_words $N1, total_subwords $N1,
         |  total_bytes $N1, fertility $N1, bytes_per_subword $N1""".stripMargin
    },
    "q_text_stopwords" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id,
         |      unnest(regexp_extract_all(text, '\\S+')) AS token FROM documents),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS ndocs FROM documents)
         |SELECT token, CAST(count(*) AS BIGINT) AS df_docs
         |FROM dt, n GROUP BY token, ndocs HAVING 100*count(*) >= 50*ndocs
         |ORDER BY token $N1, df_docs $N1""".stripMargin,
    "q_text_logprob" ->
      s"""WITH toks AS (SELECT doc_id,
         |    unnest(regexp_extract_all(text, '\\S+')) AS token FROM documents),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM toks),
         |vocab AS (SELECT token, count(*) AS cnt FROM toks
         |          GROUP BY token HAVING count(*) >= 2),
         |scored AS (SELECT t.doc_id,
         |    log10(coalesce(CAST(v.cnt AS DOUBLE), 2.0) / (SELECT total FROM tot))
         |      AS lp
         |  FROM toks t LEFT JOIN vocab v ON t.token = v.token),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    round(avg(lp), 6) AS mean_logprob FROM scored GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(a.n_tokens, 0) AS n_tokens, a.mean_logprob
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id $N1, n_tokens $N1, mean_logprob $N1""".stripMargin,
    "q_text_logprob_ref" ->
      s"""WITH rt AS (SELECT unnest(regexp_extract_all(text, '\\S+')) AS token
         |            FROM documents WHERE source IN ('src0', 'src1')),
         |rv AS (SELECT token, count(*) AS cnt FROM rt GROUP BY token),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM rv),
         |vocab AS (SELECT token, cnt FROM rv WHERE cnt >= 2),
         |toks AS (SELECT doc_id,
         |    unnest(regexp_extract_all(text, '\\S+')) AS token FROM documents),
         |scored AS (SELECT t.doc_id,
         |    log10(coalesce(CAST(v.cnt AS DOUBLE), 2.0) / (SELECT total FROM tot))
         |      AS lp
         |  FROM toks t LEFT JOIN vocab v ON t.token = v.token),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    round(avg(lp), 6) AS mean_logprob FROM scored GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(a.n_tokens, 0) AS n_tokens, a.mean_logprob
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id $N1, n_tokens $N1, mean_logprob $N1""".stripMargin,
    // the q_text_logprob score chain + round-6 quantile_cont cuts (the
    // same (n-1)*q interpolation as Spark's percentile) + the CASE
    // bucketing; cut fractions cast to DOUBLE to mirror Scala's 1.0/3
    "q_sample_ppl_buckets" ->
      s"""WITH toks AS (SELECT doc_id,
         |    unnest(regexp_extract_all(text, '\\S+')) AS token FROM documents),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM toks),
         |vocab AS (SELECT token, count(*) AS cnt FROM toks
         |          GROUP BY token HAVING count(*) >= 2),
         |scored AS (SELECT t.doc_id,
         |    log10(coalesce(CAST(v.cnt AS DOUBLE), 2.0) / (SELECT total FROM tot))
         |      AS lp
         |  FROM toks t LEFT JOIN vocab v ON t.token = v.token),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    round(avg(lp), 6) AS mean_logprob FROM scored GROUP BY doc_id),
         |outp AS (SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
         |    a.mean_logprob FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id),
         |cuts AS (SELECT
         |    round(quantile_cont(mean_logprob, CAST(1 AS DOUBLE)/3), 6) AS c1,
         |    round(quantile_cont(mean_logprob, CAST(2 AS DOUBLE)/3), 6) AS c2
         |  FROM outp)
         |SELECT o.doc_id, o.n_tokens, o.mean_logprob,
         |  CAST(CASE WHEN o.mean_logprob IS NULL THEN NULL
         |    WHEN o.mean_logprob <= (SELECT c1 FROM cuts) THEN 0
         |    WHEN o.mean_logprob <= (SELECT c2 FROM cuts) THEN 1
         |    ELSE 2 END AS INT) AS bucket
         |FROM outp o
         |ORDER BY o.doc_id $N1, n_tokens $N1, mean_logprob $N1, bucket $N1""".stripMargin,
    // P(w2|w1) = c2/c1 for bigrams with c2 >= 2, floor 2/total_bigrams
    // otherwise; double casts mirror the Spark arithmetic exactly, and
    // tokenization is string_split(text,' ') — the ShingleHashes
    // kernel's definition (bigram strings here vs 64-bit window hashes
    // in Spark: the standing injectivity argument)
    "q_text_logprob_bigram" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents),
         |b AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
         |  SELECT doc_id, unnest([{'w1': t[i], 'w2': t[i+1]}
         |    for i in generate_series(1, len(t)-1)]) AS u FROM toks)),
         |c2 AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY w1, w2),
         |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
         |tot AS (SELECT count(*) AS total FROM b),
         |v AS (SELECT c2.w1, c2.w2, log10(CAST(c2.c2 AS DOUBLE) / c1.c1) AS lp
         |      FROM c2 JOIN c1 USING (w1) WHERE c2.c2 >= 2),
         |scored AS (SELECT b.doc_id,
         |    coalesce(v.lp, log10(CAST(2 AS DOUBLE) / (SELECT total FROM tot))) AS lp
         |  FROM b LEFT JOIN v ON b.w1 = v.w1 AND b.w2 = v.w2),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    round(avg(lp), 6) AS mean_logprob FROM scored GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, a.mean_logprob
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id $N1, n_bigrams $N1, mean_logprob $N1""".stripMargin,
    // stupid backoff replayed on n-gram STRINGS (space-joined tokens
    // are injective: tokens cannot contain the separator) vs Spark's
    // 64-bit window hashes — the standing injectivity argument; the
    // CASE mirrors the Spark arithmetic parenthesization exactly
    "q_text_logprob_trigram" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |tri AS (SELECT doc_id, u.g AS g, u.ctx AS ctx, u.bb AS bb,
         |    u.w2 AS w2, u.w3 AS w3 FROM (
         |  SELECT doc_id, unnest([{'g': t[i] || ' ' || t[i+1] || ' ' || t[i+2],
         |      'ctx': t[i] || ' ' || t[i+1], 'bb': t[i+1] || ' ' || t[i+2],
         |      'w2': t[i+1], 'w3': t[i+2]}
         |    for i in generate_series(1, len(t)-2)]) AS u FROM toks)),
         |bi AS (SELECT unnest([t[i] || ' ' || t[i+1]
         |    for i in generate_series(1, len(t)-1)]) AS g FROM toks),
         |uni AS (SELECT unnest(t) AS g FROM toks),
         |c3 AS (SELECT g, count(*) AS c FROM tri GROUP BY g HAVING count(*) >= 2),
         |c2 AS (SELECT g, count(*) AS c FROM bi GROUP BY g HAVING count(*) >= 2),
         |c1 AS (SELECT g, count(*) AS c FROM uni GROUP BY g HAVING count(*) >= 2),
         |tot AS (SELECT count(*) AS total FROM uni),
         |scored AS (SELECT tri.doc_id,
         |    CASE WHEN v3.c IS NOT NULL THEN log10(CAST(v3.c AS DOUBLE) / vc.c)
         |      WHEN vb.c IS NOT NULL THEN log10((0.4 * CAST(vb.c AS DOUBLE)) / u2.c)
         |      ELSE log10((0.16 * CAST(coalesce(u3.c, 2) AS DOUBLE))
         |                 / (SELECT total FROM tot))
         |    END AS lp
         |  FROM tri LEFT JOIN c3 v3 ON tri.g = v3.g
         |    LEFT JOIN c2 vc ON tri.ctx = vc.g
         |    LEFT JOIN c2 vb ON tri.bb = vb.g
         |    LEFT JOIN c1 u2 ON tri.w2 = u2.g
         |    LEFT JOIN c1 u3 ON tri.w3 = u3.g),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         |    round(avg(lp), 6) AS mean_logprob FROM scored GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.n_trigrams, 0) AS n_trigrams, a.mean_logprob
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id $N1, n_trigrams $N1, mean_logprob $N1""".stripMargin,
    // the md5 bucket hash is replayed bit-exactly: first 8 hex chars as
    // an unsigned 32-bit int, mod the bucket count
    "q_text_dsir" ->
      s"""WITH dt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |g AS (SELECT doc_id, unnest(t) AS gram FROM dt
         |  UNION ALL
         |  SELECT doc_id, unnest([t[i] || ' ' || t[i+1]
         |    for i in generate_series(1, len(t)-1)]) AS gram FROM dt),
         |gb AS (SELECT doc_id,
         |    ('0x' || substring(md5(gram), 1, 8))::BIGINT % 1024 AS b FROM g),
         |tt AS (SELECT string_split(text, ' ') AS t FROM documents
         |       WHERE source IN ('src0', 'src1')),
         |tg AS (SELECT unnest(t) AS gram FROM tt
         |  UNION ALL
         |  SELECT unnest([t[i] || ' ' || t[i+1]
         |    for i in generate_series(1, len(t)-1)]) AS gram FROM tt),
         |tb AS (SELECT ('0x' || substring(md5(gram), 1, 8))::BIGINT % 1024 AS b
         |       FROM tg),
         |p AS (SELECT b, count(*) AS pc FROM tb GROUP BY b),
         |pt AS (SELECT count(*) AS ptot FROM tb),
         |q AS (SELECT b, count(*) AS qc FROM gb GROUP BY b),
         |qt AS (SELECT count(*) AS qtot FROM gb),
         |scored AS (SELECT gb.doc_id,
         |    log10(CAST(coalesce(p.pc, 0) + 1 AS DOUBLE)
         |          / ((SELECT ptot FROM pt) + 1024))
         |  - log10(CAST(coalesce(q.qc, 0) + 1 AS DOUBLE)
         |          / ((SELECT qtot FROM qt) + 1024)) AS lr
         |  FROM gb LEFT JOIN p USING (b) LEFT JOIN q USING (b)),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    round(sum(lr), 6) AS dsir_logratio FROM scored GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.n_grams, 0) AS n_grams, a.dsir_logratio
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id $N1, n_grams $N1, dsir_logratio $N1""".stripMargin,
    "q_text_divergence" ->
      s"""WITH rt AS (SELECT unnest(regexp_extract_all(text, '\\S+')) AS token
         |            FROM documents WHERE source IN ('src0', 'src1')),
         |rv AS (SELECT token, count(*) AS rc FROM rt GROUP BY token),
         |vocab AS (SELECT token, rc FROM rv WHERE rc >= 2),
         |st AS (SELECT (SELECT sum(rc) FROM rv) AS rtot,
         |              (SELECT count(*) FROM vocab) AS v,
         |              (SELECT coalesce(sum(rc), 0) FROM vocab) AS vmass),
         |st2 AS (SELECT rtot - vmass AS oovmass,
         |               CAST(rtot + v + 1 AS DOUBLE) AS qden FROM st),
         |gt AS (SELECT source, unnest(regexp_extract_all(text, '\\S+')) AS token
         |       FROM documents),
         |gc AS (SELECT source, token, count(*) AS gcnt FROM gt GROUP BY source, token),
         |tot AS (SELECT source, sum(gcnt) AS gtot FROM gc GROUP BY source),
         |vt AS (SELECT g.source, sum(g.gcnt) AS voctok,
         |    sum((CAST(g.gcnt AS DOUBLE) / t.gtot) *
         |        log10((CAST(g.gcnt AS DOUBLE) / t.gtot) /
         |              (CAST(v.rc + 1 AS DOUBLE) / (SELECT qden FROM st2)))) AS klv,
         |    sum(-(CAST(g.gcnt AS DOUBLE) / t.gtot) *
         |        log10(CAST(v.rc + 1 AS DOUBLE) / (SELECT qden FROM st2))) AS cev
         |  FROM gc g JOIN vocab v USING (token) JOIN tot t USING (source)
         |  GROUP BY g.source),
         |fin AS (SELECT t.source, t.gtot,
         |    t.gtot - coalesce(vt.voctok, 0) AS goov,
         |    coalesce(vt.klv, 0) AS klv, coalesce(vt.cev, 0) AS cev
         |  FROM tot t LEFT JOIN vt ON t.source = vt.source)
         |SELECT source, CAST(gtot AS BIGINT) AS n_tokens,
         |  round(CAST(goov AS DOUBLE) / gtot, 6) AS oov_rate,
         |  round(klv + CASE WHEN goov > 0 THEN (CAST(goov AS DOUBLE) / gtot) *
         |      log10((CAST(goov AS DOUBLE) / gtot) /
         |            (CAST((SELECT oovmass FROM st2) + 1 AS DOUBLE)
         |             / (SELECT qden FROM st2)))
         |    ELSE 0 END, 6) AS kl_divergence,
         |  round(cev + CASE WHEN goov > 0 THEN -(CAST(goov AS DOUBLE) / gtot) *
         |      log10(CAST((SELECT oovmass FROM st2) + 1 AS DOUBLE)
         |            / (SELECT qden FROM st2))
         |    ELSE 0 END, 6) AS cross_entropy
         |FROM fin
         |ORDER BY source $N1, n_tokens $N1, oov_rate $N1, kl_divergence $N1,
         |cross_entropy $N1""".stripMargin,
    "q_multimodal_json" ->
      s"""SELECT event_type, count(*) AS n_events,
         |CAST(sum(json_extract(props,'$$.k')::BIGINT) AS BIGINT) AS sum_k,
         |round(sum(value), 2) AS sum_value
         |FROM events GROUP BY event_type
         |ORDER BY event_type $N1, n_events $N1, sum_k $N1, sum_value $N1""".stripMargin,
    "q_multimodal_binary" ->
      s"""SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_md5,
         |TRY_CAST(('0x' || substring(hex(encode(text)), 1, 2)) AS BIGINT) AS first_byte
         |FROM documents ORDER BY doc_id $N1, n_bytes $N1, content_md5 $N1, first_byte $N1""".stripMargin,
    // the release manifest's structural half: rows per shard, one file
    // per shard value (each partition value lands in exactly one task)
    "q_corpus_release" ->
      s"""SELECT doc_id % 4 AS shard, CAST(count(*) AS BIGINT) AS n_rows,
         |CAST(1 AS BIGINT) AS n_files
         |FROM documents GROUP BY 1
         |ORDER BY shard $N1, n_rows $N1, n_files $N1""".stripMargin,
    // hand-decoded header fields of the planted fixtures
    "q_multimodal_dims" ->
      s"""SELECT * FROM (VALUES
         |  (CAST(1 AS BIGINT), 'png',  CAST(800 AS INT),  CAST(600 AS INT)),
         |  (CAST(2 AS BIGINT), 'jpeg', CAST(1024 AS INT), CAST(768 AS INT)),
         |  (CAST(3 AS BIGINT), 'gif',  CAST(320 AS INT),  CAST(200 AS INT)),
         |  (CAST(4 AS BIGINT), 'bmp',  CAST(64 AS INT),   CAST(48 AS INT)),
         |  (CAST(5 AS BIGINT), 'png',  CAST(NULL AS INT), CAST(NULL AS INT)),
         |  (CAST(6 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS INT), CAST(NULL AS INT)))
         |  AS t(img_id, format, width, height)
         |ORDER BY img_id $N1, format $N1, width $N1, height $N1""".stripMargin,
    // hand-decoded header fields of the planted audio fixtures
    "q_multimodal_audio" ->
      s"""SELECT * FROM (VALUES
         |  (CAST(1 AS BIGINT), 'wav',  CAST(8000 AS INT),  CAST(1 AS INT),
         |   CAST(16 AS INT), CAST(1 AS BIGINT)),
         |  (CAST(2 AS BIGINT), 'flac', CAST(44100 AS INT), CAST(2 AS INT),
         |   CAST(16 AS INT), CAST(1000 AS BIGINT)),
         |  (CAST(3 AS BIGINT), 'wav',  CAST(NULL AS INT),  CAST(NULL AS INT),
         |   CAST(NULL AS INT), CAST(NULL AS BIGINT)),
         |  (CAST(4 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS INT),
         |   CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS BIGINT)))
         |  AS t(clip_id, format, sample_rate, channels, bits_per_sample, duration_ms)
         |ORDER BY clip_id $N1, format $N1, sample_rate $N1, channels $N1,
         |  bits_per_sample $N1, duration_ms $N1""".stripMargin,
    // hand-computed expectations for the real ImageIO decode: solid red
    // 8x5 png (mean gray = 1/3 exactly in the float pipeline -> .333333),
    // half-black/half-white 6x4 bmp (all means 0.5, gray spans [0,1]),
    // solid white 3x7 gif, and the degrade-to-zero garbage row
    "q_multimodal_decode" ->
      s"""SELECT * FROM (VALUES
         |  (CAST(1 AS BIGINT), 'png', CAST(8 AS INT), CAST(5 AS INT),
         |   CAST(8 AS INT), CAST(5 AS INT), CAST(1 AS INT),
         |   CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
         |   CAST(0.333333 AS DOUBLE), CAST(0.333333 AS DOUBLE),
         |   CAST(0.333333 AS DOUBLE)),
         |  (CAST(2 AS BIGINT), 'bmp', CAST(6 AS INT), CAST(4 AS INT),
         |   CAST(6 AS INT), CAST(4 AS INT), CAST(1 AS INT),
         |   CAST(0.5 AS DOUBLE), CAST(0.5 AS DOUBLE), CAST(0.5 AS DOUBLE),
         |   CAST(0.5 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)),
         |  (CAST(3 AS BIGINT), 'gif', CAST(3 AS INT), CAST(7 AS INT),
         |   CAST(3 AS INT), CAST(7 AS INT), CAST(1 AS INT),
         |   CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
         |   CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE)),
         |  (CAST(4 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS INT),
         |   CAST(NULL AS INT), CAST(0 AS INT), CAST(0 AS INT), CAST(0 AS INT),
         |   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         |   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)))
         |  AS t(img_id, format, w_hdr, h_hdr, w_dec, h_dec, n_frames,
         |       mean_r, mean_g, mean_b, mean_gray, min_gray, max_gray)
         |ORDER BY img_id $N1, format $N1, w_hdr $N1, h_hdr $N1, w_dec $N1,
         |  h_dec $N1, n_frames $N1, mean_r $N1, mean_g $N1, mean_b $N1,
         |  mean_gray $N1, min_gray $N1, max_gray $N1""".stripMargin,

    // ---- chat / SFT oracles: the cv CTE mirrors chatFrame, the list
    // lambdas mirror the operator's higher-order functions one-to-one
    "q_chat_validate" ->
      s"""WITH $chatCte,
         |ns AS (SELECT doc_id, turns,
         |    list_filter(turns, t -> t.role <> 'system') AS nsl FROM cv),
         |f AS (SELECT doc_id,
         |    COALESCE(nsl[1].role = 'user', FALSE) AS starts_user,
         |    len(list_filter(range(1, len(nsl)),
         |      i -> nsl[i].role = nsl[i+1].role)) = 0 AS alternates,
         |    COALESCE(turns[len(turns)].role = 'assistant', FALSE)
         |      AS ends_assistant,
         |    len(list_filter(turns, t -> trim(t.content) = '')) > 0
         |      AS has_empty_turn,
         |    len(list_filter(turns,
         |      t -> t.role NOT IN ('system','user','assistant'))) > 0
         |      AS has_bad_role,
         |    len(turns) > 0 AS nonempty
         |  FROM ns)
         |SELECT doc_id,
         |  nonempty AND starts_user AND alternates AND ends_assistant
         |    AND NOT has_empty_turn AND NOT has_bad_role AS chat_ok,
         |  starts_user, alternates, ends_assistant, has_empty_turn,
         |  has_bad_role
         |FROM f
         |ORDER BY doc_id $N1, chat_ok $N1, starts_user $N1, alternates $N1,
         |  ends_assistant $N1, has_empty_turn $N1, has_bad_role $N1""".stripMargin,
    "q_chat_render" ->
      s"""WITH $chatCte
         |SELECT doc_id, array_to_string(list_transform(turns,
         |    t -> '<|' || t.role || '|>' || chr(10) || t.content ||
         |         '<|end|>' || chr(10)), '') AS rendered
         |FROM cv
         |ORDER BY doc_id $N1, rendered $N1""".stripMargin,
    "q_chat_stats" ->
      s"""WITH $chatCte
         |SELECT doc_id,
         |  CAST(len(turns) AS BIGINT) AS n_turns,
         |  CAST(len(list_filter(turns, t -> t.role = 'user')) AS BIGINT)
         |    AS n_user_turns,
         |  CAST(len(list_filter(turns, t -> t.role = 'assistant')) AS BIGINT)
         |    AS n_assistant_turns,
         |  CAST(COALESCE(list_sum(list_transform(
         |      list_filter(turns, t -> t.role = 'user'),
         |      t -> len(regexp_extract_all(t.content, '\\S+')))), 0) AS BIGINT)
         |    AS n_user_tokens,
         |  CAST(COALESCE(list_sum(list_transform(
         |      list_filter(turns, t -> t.role = 'assistant'),
         |      t -> len(regexp_extract_all(t.content, '\\S+')))), 0) AS BIGINT)
         |    AS n_assistant_tokens,
         |  CAST(list_max(list_transform(turns,
         |      t -> len(regexp_extract_all(t.content, '\\S+')))) AS BIGINT)
         |    AS max_turn_tokens
         |FROM cv
         |ORDER BY doc_id $N1, n_turns $N1, n_user_turns $N1,
         |  n_assistant_turns $N1, n_user_tokens $N1, n_assistant_tokens $N1,
         |  max_turn_tokens $N1""".stripMargin,
    "q_chat_spans" ->
      s"""WITH $chatCte,
         |ex AS (SELECT doc_id, unnest(list_transform(range(1, len(turns)+1),
         |    i -> struct_pack(idx := i - 1, role := turns[i].role,
         |      n := CAST(len(regexp_extract_all(turns[i].content, '\\S+'))
         |           AS BIGINT)))) AS t
         |  FROM cv)
         |SELECT doc_id, t.idx AS turn_idx, t.role AS role,
         |  t.n AS n_turn_tokens,
         |  CAST(COALESCE(sum(t.n) OVER (PARTITION BY doc_id ORDER BY t.idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS start_tok,
         |  CAST(sum(t.n) OVER (PARTITION BY doc_id ORDER BY t.idx) AS BIGINT)
         |    AS end_tok
         |FROM ex
         |ORDER BY doc_id $N1, turn_idx $N1, role $N1, n_turn_tokens $N1,
         |  start_tok $N1, end_tok $N1""".stripMargin,
    // empty normalized answers (no assistant turns) carry no dedup
    // evidence: all kept, n_copies 1 — mirrored from the operator
    "q_chat_dedup" ->
      s"""WITH $chatCte,
         |fp AS (SELECT doc_id, trim(regexp_replace(lower(array_to_string(
         |    list_transform(list_filter(turns, t -> t.role = 'assistant'),
         |      t -> t.content), ' ')), '\\s+', ' ', 'g')) AS k FROM cv)
         |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
         |  CAST(count(*) AS BIGINT) AS n_copies
         |FROM fp WHERE k <> '' GROUP BY k
         |UNION ALL
         |SELECT CAST(doc_id AS BIGINT), CAST(1 AS BIGINT)
         |FROM fp WHERE k = ''
         |ORDER BY doc_id $N1, n_copies $N1""".stripMargin,
    // sliding token-window compare, overlap-counting — same window
    // definition as the operator (range is empty when len(toks) < 2)
    "q_text_phrase" ->
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
         |  FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(len(list_filter(range(1, len(toks) - 2 + 2),
         |      i -> array_to_string(toks[i:i+1], ' ') = 'fast merge'))
         |      AS BIGINT) AS n_matches
         |  FROM t WHERE len(toks) >= 2)
         |SELECT doc_id, n_matches FROM m WHERE n_matches > 0
         |ORDER BY doc_id $N1, n_matches $N1""".stripMargin,
    // the q_redact_pii planted-PII text run through the conversation
    // construction, with the SAME PiiPatterns chain applied inside the
    // render lambda — pattern chain and plants generated from the
    // shared constants, so the two sides cannot drift
    "q_chat_redact" -> {
      val planted = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || " +
        "'.7 ssn 123-45-6789 tel +14155550133'"
      val redacted = TextFunctions.PiiPatterns.foldLeft("t.content") {
        case (expr, (pat, repl)) => s"regexp_replace($expr, '$pat', '$repl', 'g')"
      }
      s"""WITH ${chatCteOver(planted)}
         |SELECT doc_id, array_to_string(list_transform(turns,
         |    t -> '<|' || t.role || '|>' || chr(10) || $redacted ||
         |         '<|end|>' || chr(10)), '') AS rendered
         |FROM cv
         |ORDER BY doc_id $N1, rendered $N1""".stripMargin
    },
    // the validate, dedup and render oracle fragments composed in
    // sequence — same list-lambda bodies as their standalone oracles
    "q_pipeline_chat" ->
      s"""WITH $chatCte,
         |ns AS (SELECT doc_id, turns,
         |    list_filter(turns, t -> t.role <> 'system') AS nsl FROM cv),
         |okf AS (SELECT doc_id, turns FROM ns
         |  WHERE len(turns) > 0
         |    AND COALESCE(nsl[1].role = 'user', FALSE)
         |    AND len(list_filter(range(1, len(nsl)),
         |      i -> nsl[i].role = nsl[i+1].role)) = 0
         |    AND COALESCE(turns[len(turns)].role = 'assistant', FALSE)
         |    AND NOT len(list_filter(turns, t -> trim(t.content) = '')) > 0
         |    AND NOT len(list_filter(turns,
         |      t -> t.role NOT IN ('system','user','assistant'))) > 0),
         |fp AS (SELECT doc_id, turns, trim(regexp_replace(lower(
         |    array_to_string(list_transform(
         |      list_filter(turns, t -> t.role = 'assistant'),
         |      t -> t.content), ' ')), '\\s+', ' ', 'g')) AS k FROM okf),
         |kept AS (SELECT min(doc_id) AS doc_id,
         |    CAST(count(*) AS BIGINT) AS n_copies
         |  FROM fp WHERE k <> '' GROUP BY k
         |  UNION ALL SELECT doc_id, CAST(1 AS BIGINT) FROM fp WHERE k = '')
         |SELECT f.doc_id, array_to_string(list_transform(f.turns,
         |    t -> '<|' || t.role || '|>' || chr(10) || t.content ||
         |         '<|end|>' || chr(10)), '') AS rendered, kept.n_copies
         |FROM fp f JOIN kept ON f.doc_id = kept.doc_id
         |ORDER BY f.doc_id $N1, rendered $N1, n_copies $N1""".stripMargin,
    // per-token first-appearance id, conditional sums per checkpoint
    "q_text_vocab_growth" ->
      s"""WITH f AS (SELECT tok, min(doc_id) AS first_id FROM (
         |    SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok
         |    FROM documents) GROUP BY tok)
         |SELECT CAST(c AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN first_id < c THEN 1 ELSE 0 END) AS BIGINT)
         |    AS vocab_size
         |FROM f CROSS JOIN (SELECT unnest([10, 50, 200, 500]) AS c)
         |GROUP BY c
         |ORDER BY n_docs $N1, vocab_size $N1""".stripMargin,
    // exact integer log2 bucketing replayed with the same power chain
    "q_text_length_hist" ->
      s"""WITH t AS (SELECT CAST(len(regexp_extract_all(text, '\\S+'))
         |    AS BIGINT) AS n FROM documents WHERE text IS NOT NULL),
         |b AS (SELECT CASE WHEN n = 0 THEN -1
         |    ELSE CAST(floor(log2(n)) AS BIGINT) END AS bucket FROM t),
         |c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM b GROUP BY bucket),
         |tt AS (SELECT sum(n_docs) AS tot FROM c)
         |SELECT bucket,
         |  CASE WHEN bucket >= 0 THEN CAST(power(2, bucket) AS BIGINT)
         |    ELSE 0 END AS bucket_lo,
         |  n_docs, round(CAST(n_docs AS DOUBLE) / tot, 6) AS share
         |FROM c CROSS JOIN tt
         |ORDER BY bucket $N1, bucket_lo $N1, n_docs $N1, share $N1""".stripMargin,
    "q_dedup_family_sizes" ->
      s"""WITH f AS (SELECT md5(text) AS fp, CAST(count(*) AS BIGINT)
         |    AS family_size FROM documents WHERE text IS NOT NULL
         |  GROUP BY md5(text)),
         |h AS (SELECT family_size, CAST(count(*) AS BIGINT) AS n_families,
         |    CAST(family_size * count(*) AS BIGINT) AS n_docs
         |  FROM f GROUP BY family_size),
         |t AS (SELECT sum(n_docs) AS tot FROM h)
         |SELECT family_size, n_families, n_docs,
         |  round(CAST(n_docs AS DOUBLE) / tot, 6) AS doc_share
         |FROM h CROSS JOIN t
         |ORDER BY family_size $N1, n_families $N1, n_docs $N1,
         |  doc_share $N1""".stripMargin,
    // per signal: the q_text_psi skeleton with cand = the 30% md5 hash
    // sample, summed over bins; generated per signal from one template
    "q_sample_fidelity" -> {
      val caseSum = (1 to 9)
        .map(i => s"(CASE WHEN v > es[$i] THEN 1 ELSE 0 END)").mkString(" + ")
      val pb = "((CAST(n_base AS DOUBLE) + 0.5) / (CAST(tb AS DOUBLE) + 0.5 * 10))"
      val pc = "((CAST(n_cand AS DOUBLE) + 0.5) / (CAST(tc AS DOUBLE) + 0.5 * 10))"
      def one(sig: String, expr: String) =
        s"""SELECT '$sig' AS signal, n_corpus, n_sample,
           |  round(CAST(n_sample AS DOUBLE) / n_corpus, 6) AS sample_rate, psi
           |FROM (
           |WITH b AS (SELECT CAST($expr AS DOUBLE) AS v FROM documents
           |  WHERE $expr IS NOT NULL),
           |c AS (SELECT CAST($expr AS DOUBLE) AS v FROM documents
           |  WHERE $expr IS NOT NULL AND
           |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           |      / 4294967296.0 < 0.3),
           |e AS (SELECT quantile_cont(v,
           |  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS es FROM b),
           |bb AS (SELECT CAST($caseSum AS BIGINT) AS bin FROM b CROSS JOIN e),
           |cc AS (SELECT CAST($caseSum AS BIGINT) AS bin FROM c CROSS JOIN e),
           |nb AS (SELECT bin, count(*) AS n FROM bb GROUP BY bin),
           |nc AS (SELECT bin, count(*) AS n FROM cc GROUP BY bin),
           |bins AS (SELECT unnest(range(0, 10)) AS bin),
           |j AS (SELECT bins.bin, CAST(coalesce(nb.n, 0) AS BIGINT) AS n_base,
           |        CAST(coalesce(nc.n, 0) AS BIGINT) AS n_cand
           |      FROM bins LEFT JOIN nb ON nb.bin = bins.bin
           |                LEFT JOIN nc ON nc.bin = bins.bin),
           |t AS (SELECT sum(n_base) AS tb, sum(n_cand) AS tc FROM j)
           |SELECT CAST(max(tb) AS BIGINT) AS n_corpus,
           |  CAST(max(tc) AS BIGINT) AS n_sample,
           |  round(sum(round(($pc - $pb) * ln($pc / $pb), 6)), 6) AS psi
           |FROM j CROSS JOIN t)""".stripMargin
      val tok = "len(regexp_extract_all(text, '\\S+'))"
      s"""${one("n_chars", "n_chars")}
         |UNION ALL
         |${one("n_tokens", tok)}
         |ORDER BY signal $N1, n_corpus $N1, n_sample $N1, sample_rate $N1,
         |  psi $N1""".stripMargin
    },
    // distinct md5 gram fingerprints both sides, left join, per-doc share
    "q_text_novelty" ->
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
         |  FROM documents),
         |dg AS (SELECT DISTINCT doc_id, md5(g) AS h FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      range(1, len(toks) - 8 + 2),
         |      i -> array_to_string(toks[i:i+7], ' '))) AS g
         |    FROM t WHERE len(toks) >= 8)),
         |rg AS (SELECT DISTINCT md5(g) AS h FROM (
         |    SELECT unnest(list_transform(
         |      range(1, len(toks) - 8 + 2),
         |      i -> array_to_string(toks[i:i+7], ' '))) AS g
         |    FROM t WHERE doc_id % 7 = 0 AND len(toks) >= 8)),
         |j AS (SELECT dg.doc_id, count(*) AS n_grams,
         |    sum(CASE WHEN rg.h IS NOT NULL THEN 1 ELSE 0 END) AS n_known
         |  FROM dg LEFT JOIN rg ON dg.h = rg.h GROUP BY dg.doc_id)
         |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         |  CAST(n_known AS BIGINT) AS n_known,
         |  round(1.0 - CAST(n_known AS DOUBLE) / n_grams, 6) AS novelty
         |FROM j
         |ORDER BY doc_id $N1, n_grams $N1, n_known $N1, novelty $N1""".stripMargin,
    // cv CTE + lang carried through; list-lambda stats collapsed per
    // language (same per-turn token definition as q_chat_stats)
    "q_chat_datasheet" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |    regexp_extract_all(text, '\\S+') AS toks FROM documents),
         |cv AS (SELECT doc_id, lang, list_transform(
         |    range(0, CAST(ceil(len(toks)/6.0) AS BIGINT)),
         |    i -> struct_pack(
         |      role := CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END,
         |      content := array_to_string(toks[i*6+1 : i*6+6], ' '))) AS turns
         |  FROM d),
         |st AS (SELECT doc_id, lang,
         |    CAST(len(turns) AS BIGINT) AS n_turns,
         |    CAST(COALESCE(list_sum(list_transform(
         |        list_filter(turns, t -> t.role = 'user'),
         |        t -> len(regexp_extract_all(t.content, '\\S+')))), 0)
         |      AS BIGINT) AS n_user_tokens,
         |    CAST(COALESCE(list_sum(list_transform(
         |        list_filter(turns, t -> t.role = 'assistant'),
         |        t -> len(regexp_extract_all(t.content, '\\S+')))), 0)
         |      AS BIGINT) AS n_assistant_tokens
         |  FROM cv)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_convs,
         |  CAST(sum(n_turns) AS BIGINT) AS total_turns,
         |  round(avg(n_turns), 6) AS avg_turns,
         |  CAST(sum(n_user_tokens) AS BIGINT) AS total_user_tokens,
         |  CAST(sum(n_assistant_tokens) AS BIGINT) AS total_assistant_tokens,
         |  round(CAST(sum(n_assistant_tokens) AS DOUBLE) /
         |    (sum(n_user_tokens) + sum(n_assistant_tokens)), 6)
         |    AS assistant_token_share
         |FROM st GROUP BY lang
         |ORDER BY lang $N1, n_convs $N1, total_turns $N1, avg_turns $N1,
         |  total_user_tokens $N1, total_assistant_tokens $N1,
         |  assistant_token_share $N1""".stripMargin,

    // header-pinned durations (k ms per wav) + the md5-first
    // cumulative-budget replay of q_sample_budget_map
    "q_multimodal_budget" ->
      s"""WITH t AS (SELECT * FROM (VALUES
         |    (1, 'wav', 1), (2, 'wav', 2), (3, 'wav', 3), (4, 'wav', 4),
         |    (5, 'wav', 5), (6, 'wav', 6), (7, 'flac', 1000))
         |    v(clip_id, format, duration_ms)),
         |h AS (SELECT *,
         |  ('0x' || substring(md5(CAST(clip_id AS VARCHAR)), 1, 8))::BIGINT
         |    / 4294967296.0 AS uni FROM t),
         |c AS (SELECT *, sum(duration_ms) OVER (PARTITION BY format
         |      ORDER BY uni, clip_id ROWS UNBOUNDED PRECEDING) AS cum FROM h)
         |SELECT CAST(clip_id AS BIGINT) AS clip_id, format,
         |  CAST(duration_ms AS BIGINT) AS duration_ms
         |FROM c
         |WHERE cum - duration_ms < CASE format WHEN 'wav' THEN 10 ELSE 0 END
         |ORDER BY clip_id $N1, format $N1, duration_ms $N1""".stripMargin,
    // hand-decoded MP4 box walk: 320x240 video track + 0x0 audio
    // track, mvhd 2500/1000s -> 2500 ms
    "q_multimodal_video" ->
      s"""SELECT * FROM (VALUES
         |  (CAST(1 AS BIGINT), 'mp4', CAST(320 AS INT), CAST(240 AS INT),
         |   CAST(2500 AS BIGINT), CAST(2 AS INT)),
         |  (CAST(2 AS BIGINT), 'mp4', CAST(NULL AS INT), CAST(NULL AS INT),
         |   CAST(NULL AS BIGINT), CAST(NULL AS INT)),
         |  (CAST(3 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS INT),
         |   CAST(NULL AS INT), CAST(NULL AS BIGINT), CAST(NULL AS INT)),
         |  (CAST(4 AS BIGINT), 'avi', CAST(640 AS INT), CAST(480 AS INT),
         |   CAST(10000 AS BIGINT), CAST(2 AS INT)),
         |  (CAST(5 AS BIGINT), 'webm', CAST(1920 AS INT), CAST(1080 AS INT),
         |   CAST(12000 AS BIGINT), CAST(2 AS INT)))
         |  AS t(vid_id, format, width, height, duration_ms, n_tracks)
         |ORDER BY vid_id $N1, format $N1, width $N1, height $N1,
         |  duration_ms $N1, n_tracks $N1""".stripMargin,
    // hand-decoded classification card for the planted mixed payloads
    "q_multimodal_classify" ->
      s"""SELECT * FROM (VALUES
         |  (CAST(1 AS BIGINT), 'image', 'png', CAST(800 AS INT),
         |   CAST(600 AS INT), CAST(NULL AS INT), CAST(NULL AS INT),
         |   CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(24 AS BIGINT)),
         |  (CAST(2 AS BIGINT), 'audio', 'wav', CAST(NULL AS INT),
         |   CAST(NULL AS INT), CAST(8000 AS INT), CAST(1 AS INT),
         |   CAST(1 AS BIGINT), CAST(NULL AS INT), CAST(60 AS BIGINT)),
         |  (CAST(3 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         |   CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS INT),
         |   CAST(NULL AS INT), CAST(NULL AS BIGINT), CAST(NULL AS INT),
         |   CAST(4 AS BIGINT)),
         |  (CAST(4 AS BIGINT), 'image', 'png', CAST(NULL AS INT),
         |   CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS INT),
         |   CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(8 AS BIGINT)),
         |  (CAST(5 AS BIGINT), 'video', 'mp4', CAST(320 AS INT),
         |   CAST(240 AS INT), CAST(NULL AS INT), CAST(NULL AS INT),
         |   CAST(2500 AS BIGINT), CAST(2 AS INT), CAST(332 AS BIGINT)))
         |  AS t(media_id, modality, format, width, height, sample_rate,
         |       channels, duration_ms, n_tracks, n_bytes)
         |ORDER BY media_id $N1, modality $N1, format $N1, width $N1,
         |  height $N1, sample_rate $N1, channels $N1, duration_ms $N1,
         |  n_tracks $N1, n_bytes $N1""".stripMargin,
    // hand-decided envelope families: {1,2} share samples, 3 differs,
    // 4 and 5 never decode
    "q_multimodal_audio_dedup" ->
      s"""SELECT * FROM (VALUES
         |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
         |  (CAST(3 AS BIGINT), CAST(1 AS BIGINT)),
         |  (CAST(4 AS BIGINT), CAST(1 AS BIGINT)),
         |  (CAST(5 AS BIGINT), CAST(1 AS BIGINT)))
         |  AS t(clip_id, n_copies)
         |ORDER BY clip_id $N1, n_copies $N1""".stripMargin,
    // hand-decided: re-encode of the indexed picture dropped, the new
    // picture and the no-evidence payload kept
    "q_multimodal_dedup_indexed" ->
      s"""SELECT * FROM (VALUES (CAST(2 AS BIGINT)), (CAST(3 AS BIGINT)))
         |  AS t(img_id)
         |ORDER BY img_id $N1""".stripMargin,
    // family {1,2,3} collapses to its min id; 4 and 5 are singletons
    "q_multimodal_collapse" ->
      s"""SELECT * FROM (VALUES (CAST(1 AS BIGINT)), (CAST(4 AS BIGINT)),
         |  (CAST(5 AS BIGINT))) AS t(img_id)
         |ORDER BY img_id $N1""".stripMargin,
    // hand-decided near-dup pairs: the hamming values are derived in
    // MultimodalSpec from the same pixel constructions
    "q_multimodal_phash_pairs" ->
      s"""SELECT * FROM (VALUES
         |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), 0),
         |  (CAST(1 AS BIGINT), CAST(3 AS BIGINT), 1),
         |  (CAST(2 AS BIGINT), CAST(3 AS BIGINT), 1))
         |  AS t(doc_a, doc_b, hamming)
         |ORDER BY doc_a $N1, doc_b $N1, hamming $N1""".stripMargin,
    // hand-decided dedup families: {1,2,5} share pixels, 3 differs,
    // 4 never decodes
    "q_multimodal_dedup_phash" ->
      s"""SELECT * FROM (VALUES
         |  (CAST(1 AS BIGINT), CAST(3 AS BIGINT)),
         |  (CAST(3 AS BIGINT), CAST(1 AS BIGINT)),
         |  (CAST(4 AS BIGINT), CAST(1 AS BIGINT)))
         |  AS t(img_id, n_copies)
         |ORDER BY img_id $N1, n_copies $N1""".stripMargin,

    // ---- preference-pair oracles: pf/pr CTEs mirror pairFrame, the
    // word-reversal comprehension mirrors reverse(split(chosen,' '))
    "q_pref_validate" ->
      s"""WITH $chatCte,
         |pf AS (SELECT doc_id, turns[1:len(turns)-1] AS prompt,
         |    turns[len(turns)].content AS chosen
         |  FROM cv WHERE len(turns) >= 1),
         |tk AS (SELECT doc_id, prompt, chosen,
         |    string_split(chosen, ' ') AS ct FROM pf),
         |pr AS (SELECT doc_id, prompt, chosen,
         |    CASE WHEN doc_id % 17 = 0 THEN chosen
         |    ELSE array_to_string([ct[i]
         |      for i in generate_series(len(ct), 1, -1)], ' ') END AS rejected
         |  FROM tk),
         |fl AS (SELECT doc_id,
         |    len(prompt) > 0 AS has_prompt,
         |    COALESCE(list_filter(prompt,
         |      t -> t.role != 'system')[1].role = 'user', false)
         |      AS prompt_starts_user,
         |    COALESCE(prompt[len(prompt)].role = 'user', false)
         |      AS prompt_ends_user,
         |    trim(regexp_replace(lower(chosen), '\\s+', ' ', 'g')) != ''
         |      AS nonempty_chosen,
         |    trim(regexp_replace(lower(rejected), '\\s+', ' ', 'g')) != ''
         |      AS nonempty_rejected,
         |    trim(regexp_replace(lower(chosen), '\\s+', ' ', 'g')) !=
         |      trim(regexp_replace(lower(rejected), '\\s+', ' ', 'g'))
         |      AS distinct_pair
         |  FROM pr)
         |SELECT doc_id, has_prompt, prompt_starts_user, prompt_ends_user,
         |  nonempty_chosen, nonempty_rejected, distinct_pair,
         |  (has_prompt AND prompt_starts_user AND prompt_ends_user AND
         |   nonempty_chosen AND nonempty_rejected AND distinct_pair)
         |    AS pair_ok
         |FROM fl
         |ORDER BY doc_id $N1, has_prompt $N1, prompt_starts_user $N1,
         |  prompt_ends_user $N1, nonempty_chosen $N1, nonempty_rejected $N1,
         |  distinct_pair $N1, pair_ok $N1""".stripMargin,
    // hand-decoded expectations for the planted two-sided transcripts
    "q_pref_validate_convs" ->
      s"""SELECT * FROM (VALUES
         |  (CAST(1 AS BIGINT), true,  true,  true),
         |  (CAST(2 AS BIGINT), false, true,  false),
         |  (CAST(3 AS BIGINT), true,  false, false),
         |  (CAST(4 AS BIGINT), false, true,  false),
         |  (CAST(5 AS BIGINT), true,  true,  true),
         |  (CAST(6 AS BIGINT), false, false, false))
         |  AS t(pair_id, shares_prefix, distinct_final, pair_conv_ok)
         |ORDER BY pair_id $N1, shares_prefix $N1, distinct_final $N1,
         |  pair_conv_ok $N1""".stripMargin,
    // (prompt, chosen) fingerprint families over the VALID pair slice;
    // grouping by the rendered key replays grouping by its sha2
    "q_pref_dedup" ->
      s"""WITH $chatCte,
         |pf0 AS (SELECT doc_id, turns[1:len(turns)-1] AS prompt,
         |    turns[len(turns)].content AS chosen
         |  FROM cv WHERE len(turns) >= 2
         |    AND turns[len(turns)].role = 'assistant'),
         |pf AS (SELECT * FROM pf0 UNION ALL
         |  SELECT doc_id + 10000, prompt, chosen FROM pf0
         |  WHERE doc_id % 10 = 0),
         |fp AS (SELECT doc_id,
         |    trim(regexp_replace(lower(array_to_string(list_transform(prompt,
         |      t -> t.role || ':' || t.content), chr(10))), '\\s+', ' ', 'g'))
         |    || chr(1) ||
         |    trim(regexp_replace(lower(chosen), '\\s+', ' ', 'g')) AS k
         |  FROM pf)
         |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
         |  CAST(count(*) AS BIGINT) AS n_copies
         |FROM fp GROUP BY k
         |ORDER BY doc_id $N1, n_copies $N1""".stripMargin,
    // list-lambda token sums mirror the aggregate fold; ratio NULL
    // when rejected is empty
    "q_pref_stats" ->
      s"""WITH $chatCte,
         |pf AS (SELECT doc_id, turns[1:len(turns)-1] AS prompt,
         |    turns[len(turns)].content AS chosen
         |  FROM cv WHERE len(turns) >= 1),
         |tk AS (SELECT doc_id, prompt, chosen,
         |    string_split(chosen, ' ') AS ct FROM pf),
         |pr AS (SELECT doc_id, prompt, chosen,
         |    CASE WHEN doc_id % 17 = 0 THEN chosen
         |    ELSE array_to_string([ct[i]
         |      for i in generate_series(len(ct), 1, -1)], ' ') END AS rejected
         |  FROM tk),
         |st AS (SELECT doc_id,
         |    CAST(COALESCE(list_sum(list_transform(prompt,
         |      t -> len(regexp_extract_all(t.content, '\\S+')))), 0) AS BIGINT)
         |      AS n_prompt_tokens,
         |    CAST(len(regexp_extract_all(chosen, '\\S+')) AS BIGINT)
         |      AS n_chosen_tokens,
         |    CAST(len(regexp_extract_all(rejected, '\\S+')) AS BIGINT)
         |      AS n_rejected_tokens
         |  FROM pr)
         |SELECT doc_id, n_prompt_tokens, n_chosen_tokens, n_rejected_tokens,
         |  n_prompt_tokens + n_chosen_tokens <= 20 AS fits_chosen,
         |  n_prompt_tokens + n_rejected_tokens <= 20 AS fits_rejected,
         |  (n_prompt_tokens + n_chosen_tokens <= 20 AND
         |   n_prompt_tokens + n_rejected_tokens <= 20) AS fits_pair,
         |  CASE WHEN n_rejected_tokens > 0 THEN
         |    round(CAST(n_chosen_tokens AS DOUBLE) / n_rejected_tokens, 6)
         |  END AS len_ratio
         |FROM st
         |ORDER BY doc_id $N1, n_prompt_tokens $N1, n_chosen_tokens $N1,
         |  n_rejected_tokens $N1, fits_chosen $N1, fits_rejected $N1,
         |  fits_pair $N1, len_ratio $N1""".stripMargin,
    // best-of-N replay: window row_numbers pin both tie-break rules
    // (score desc/asc, id asc), families on the normalized prompt key
    "q_pref_pairs_from_scored" ->
      s"""WITH $chatCte,
         |pf AS (SELECT doc_id, turns[1:len(turns)-1] AS prompt,
         |    turns[len(turns)].content AS chosen
         |  FROM cv WHERE len(turns) >= 2
         |    AND turns[len(turns)].role = 'assistant'),
         |tk AS (SELECT doc_id, prompt, chosen,
         |    string_split(chosen, ' ') AS ct FROM pf),
         |rs AS (SELECT doc_id, prompt, k,
         |    CASE WHEN k = 0 THEN chosen
         |      WHEN k = 1 THEN array_to_string([ct[i]
         |        for i in generate_series(len(ct), 1, -1)], ' ')
         |      ELSE chosen || ' indeed' END AS resp
         |  FROM tk, (VALUES (0), (1), (2)) ks(k)),
         |sc AS (SELECT doc_id * 4 + k AS resp_id,
         |    trim(regexp_replace(lower(array_to_string(list_transform(prompt,
         |      t -> t.role || ':' || t.content), chr(10))), '\\s+', ' ', 'g'))
         |      AS pk,
         |    resp,
         |    CAST((len(regexp_extract_all(resp, '\\S+')) * 7 + k * 3) % 13
         |      AS DOUBLE) AS score
         |  FROM rs),
         |rk AS (SELECT *,
         |    row_number() OVER (PARTITION BY pk
         |      ORDER BY score DESC, resp_id ASC) AS rbest,
         |    row_number() OVER (PARTITION BY pk
         |      ORDER BY score ASC, resp_id ASC) AS rworst,
         |    count(*) OVER (PARTITION BY pk) AS nc,
         |    max(score) OVER (PARTITION BY pk) AS mx,
         |    min(score) OVER (PARTITION BY pk) AS mn,
         |    min(resp_id) OVER (PARTITION BY pk) AS pid
         |  FROM sc)
         |SELECT CAST(pid AS BIGINT) AS pair_id,
         |  min(CASE WHEN rbest = 1 THEN resp END) AS chosen,
         |  min(CASE WHEN rworst = 1 THEN resp END) AS rejected,
         |  min(mx) AS chosen_score, min(mn) AS rejected_score,
         |  CAST(min(nc) AS BIGINT) AS n_candidates
         |FROM rk GROUP BY pk, pid
         |HAVING min(nc) >= 2 AND min(mx) > min(mn)
         |ORDER BY pair_id $N1, chosen $N1, rejected $N1, chosen_score $N1,
         |  rejected_score $N1, n_candidates $N1""".stripMargin,
    // margins = per-family (max - min) score; rank-definition
    // quantiles over them (the q_text_length_quantiles replay)
    "q_pref_margin_quantiles" ->
      s"""WITH $chatCte,
         |pf AS (SELECT doc_id, turns[1:len(turns)-1] AS prompt,
         |    turns[len(turns)].content AS chosen
         |  FROM cv WHERE len(turns) >= 2
         |    AND turns[len(turns)].role = 'assistant'),
         |tk AS (SELECT doc_id, prompt, chosen,
         |    string_split(chosen, ' ') AS ct FROM pf),
         |rs AS (SELECT doc_id, prompt, k,
         |    CASE WHEN k = 0 THEN chosen
         |      WHEN k = 1 THEN array_to_string([ct[i]
         |        for i in generate_series(len(ct), 1, -1)], ' ')
         |      ELSE chosen || ' indeed' END AS resp
         |  FROM tk, (VALUES (0), (1), (2)) ks(k)),
         |sc AS (SELECT
         |    trim(regexp_replace(lower(array_to_string(list_transform(prompt,
         |      t -> t.role || ':' || t.content), chr(10))), '\\s+', ' ', 'g'))
         |      AS pk,
         |    CAST((len(regexp_extract_all(resp, '\\S+')) * 7 + k * 3) % 13
         |      AS DOUBLE) AS score
         |  FROM rs),
         |ag AS (SELECT pk, count(*) AS nc, max(score) AS mx, min(score) AS mn
         |  FROM sc GROUP BY pk),
         |m AS (SELECT mx - mn AS margin FROM ag WHERE nc >= 2 AND mx > mn),
         |r AS (SELECT margin, row_number() OVER (ORDER BY margin) AS rk,
         |    count(*) OVER () AS nn FROM m)
         |SELECT CAST(min(nn) AS BIGINT) AS n_pairs,
         |  min(CASE WHEN rk = greatest(1, CAST(ceil(0.0::DOUBLE * nn) AS BIGINT))
         |    THEN margin END) AS margin_min,
         |  min(CASE WHEN rk = greatest(1, CAST(ceil(0.5::DOUBLE * nn) AS BIGINT))
         |    THEN margin END) AS margin_p50,
         |  min(CASE WHEN rk = greatest(1, CAST(ceil(1.0::DOUBLE * nn) AS BIGINT))
         |    THEN margin END) AS margin_max
         |FROM r""".stripMargin,
    // hashUniform over the normalized prompt render, same cuts as
    // q_sample_split
    "q_pref_split" ->
      s"""WITH $chatCte,
         |pf AS (SELECT doc_id, turns[1:len(turns)-1] AS prompt
         |  FROM cv WHERE len(turns) >= 2
         |    AND turns[len(turns)].role = 'assistant'),
         |u AS (SELECT doc_id,
         |    ('0x' || substring(md5(
         |      trim(regexp_replace(lower(array_to_string(list_transform(prompt,
         |        t -> t.role || ':' || t.content), chr(10))), '\\s+', ' ', 'g'))
         |    ), 1, 8))::BIGINT / 4294967296.0 AS uni
         |  FROM pf)
         |SELECT doc_id, CASE WHEN uni < 0.8 THEN 'train'
         |  WHEN uni < 0.8 + 0.1 THEN 'valid'
         |  WHEN uni < 0.8 + 0.1 + 0.1 THEN 'test' ELSE NULL END AS split
         |FROM u ORDER BY doc_id $N1, split $N1""".stripMargin,
    // rank-definition quantiles replayed with a row_number window:
    // q_p = the value at sorted position max(1, ceil(p*n)) per lang
    "q_text_length_quantiles" ->
      s"""WITH t AS (SELECT lang,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS v
         |  FROM documents),
         |r AS (SELECT lang, v,
         |    row_number() OVER (PARTITION BY lang ORDER BY v) AS rk,
         |    count(*) OVER (PARTITION BY lang) AS n FROM t)
         |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
         |  min(CASE WHEN rk = greatest(1, CAST(ceil(0.0::DOUBLE * n) AS BIGINT))
         |    THEN v END) AS q_min,
         |  min(CASE WHEN rk = greatest(1, CAST(ceil(0.25::DOUBLE * n) AS BIGINT))
         |    THEN v END) AS q25,
         |  min(CASE WHEN rk = greatest(1, CAST(ceil(0.5::DOUBLE * n) AS BIGINT))
         |    THEN v END) AS q50,
         |  min(CASE WHEN rk = greatest(1, CAST(ceil(0.75::DOUBLE * n) AS BIGINT))
         |    THEN v END) AS q75,
         |  min(CASE WHEN rk = greatest(1, CAST(ceil(0.875::DOUBLE * n) AS BIGINT))
         |    THEN v END) AS q875,
         |  min(CASE WHEN rk = greatest(1, CAST(ceil(1.0::DOUBLE * n) AS BIGINT))
         |    THEN v END) AS q_max
         |FROM r GROUP BY lang
         |ORDER BY lang $N1, n_docs $N1, q_min $N1, q25 $N1, q50 $N1,
         |  q75 $N1, q875 $N1, q_max $N1""".stripMargin,
    // conversation content stream (turn contents space-joined) vs the
    // eval slice's raw-text 13-grams — q_decontaminate's recipe on the
    // chat data model
    "q_chat_decontaminate" ->
      s"""WITH $chatCte,
         |fl AS (SELECT doc_id, array_to_string(list_transform(turns,
         |    t -> t.content), ' ') AS flat,
         |  CAST(len(turns) AS BIGINT) AS n_turns FROM cv),
         |ct AS (SELECT doc_id, n_turns, string_split(flat, ' ') AS t FROM fl),
         |cg AS (SELECT doc_id, unnest(list_distinct([array_to_string(t[i:i+12],' ')
         |    for i in generate_series(1, len(t)-12)])) AS g FROM ct),
         |ev AS (SELECT DISTINCT unnest([array_to_string(et[i:i+12],' ')
         |    for i in generate_series(1, len(et)-12)]) AS g
         |  FROM (SELECT string_split(text,' ') AS et FROM documents
         |        WHERE doc_id % 97 = 0)),
         |bad AS (SELECT DISTINCT cg.doc_id FROM cg
         |        WHERE cg.g IN (SELECT g FROM ev))
         |SELECT doc_id, n_turns FROM ct
         |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
         |ORDER BY doc_id $N1, n_turns $N1""".stripMargin,
    // per-turn q_decontaminate_scrub: turn = containment unit, 4-gram
    // windows, 1-based positions mirrored throughout
    "q_chat_scrub" ->
      s"""WITH $chatCte,
         |tn AS (SELECT doc_id, unnest(list_transform(range(1, len(turns)+1),
         |    i -> struct_pack(ti := i - 1, role := turns[i].role,
         |      t := string_split(turns[i].content, ' ')))) AS u
         |  FROM cv),
         |tt AS (SELECT doc_id, u.ti AS ti, u.role AS role, u.t AS t FROM tn),
         |ev AS (SELECT DISTINCT unnest([array_to_string(et[i:i+3],' ')
         |    for i in generate_series(1, len(et)-3)]) AS g
         |  FROM (SELECT string_split(text,' ') AS et FROM documents
         |        WHERE doc_id % 97 = 0)),
         |occ AS (SELECT doc_id, ti, unnest([{'pos': i,
         |      'g': array_to_string(t[i:i+3],' ')}
         |    for i in generate_series(1, len(t)-3)]) AS u FROM tt),
         |bad AS (SELECT doc_id, ti, u.pos AS pos FROM occ
         |        WHERE u.g IN (SELECT g FROM ev)),
         |cov AS (SELECT DISTINCT doc_id, ti,
         |    unnest(generate_series(pos, pos+3)) AS tp FROM bad),
         |tokpos AS (SELECT doc_id, ti, u.pos AS pos, u.tok AS tok FROM (
         |  SELECT doc_id, ti, unnest([{'pos': i, 'tok': t[i]}
         |    for i in generate_series(1, len(t))]) AS u FROM tt)),
         |kept AS (SELECT tp.doc_id, tp.ti,
         |    array_to_string(list(tp.tok ORDER BY tp.pos), ' ') AS content
         |  FROM tokpos tp LEFT JOIN cov ON cov.doc_id = tp.doc_id
         |    AND cov.ti = tp.ti AND cov.tp = tp.pos
         |  WHERE cov.tp IS NULL GROUP BY tp.doc_id, tp.ti)
         |SELECT t.doc_id, CAST(t.ti AS BIGINT) AS turn_idx, t.role AS role,
         |  coalesce(k.content, '') AS content
         |FROM tt t LEFT JOIN kept k ON k.doc_id = t.doc_id AND k.ti = t.ti
         |ORDER BY t.doc_id $N1, turn_idx $N1, role $N1, content $N1""".stripMargin,
    // per-phrase sliding-window counts over a VALUES phrase table
    "q_text_phrase_many" ->
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
         |  FROM documents),
         |p AS (SELECT * FROM (VALUES ('fast merge', 2), ('hash join', 2),
         |    ('the line sort', 3)) AS v(phrase, n)),
         |m AS (SELECT doc_id, phrase,
         |    CAST(len(list_filter(range(1, len(toks) - n + 2),
         |      i -> array_to_string(toks[i:i+n-1], ' ') = phrase))
         |      AS BIGINT) AS n_matches
         |  FROM t, p WHERE len(toks) >= n)
         |SELECT doc_id, phrase, n_matches FROM m WHERE n_matches > 0
         |ORDER BY doc_id $N1, phrase $N1, n_matches $N1""".stripMargin,
    // first-occurrence line keep (blank lines exempt), 2-word-chunk
    // multi-line construction mirrored from the Spark side
    "q_clean_dedup_lines" ->
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
         |  FROM documents),
         |ml AS (SELECT doc_id, array_to_string(list_transform(
         |    range(0, CAST(ceil(len(toks)/2.0) AS BIGINT)),
         |    i -> array_to_string(toks[i*2+1 : i*2+2], ' ')), chr(10)) AS text
         |  FROM t),
         |l AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM ml),
         |n AS (SELECT doc_id, lines, list_transform(lines,
         |    x -> trim(regexp_replace(lower(x), '\\s+', ' ', 'g'))) AS normed
         |  FROM l),
         |k AS (SELECT doc_id, lines, list_filter(range(1, len(lines)+1),
         |    i -> normed[i] = '' OR list_position(normed, normed[i]) = i)
         |    AS kept
         |  FROM n)
         |SELECT doc_id,
         |  array_to_string(list_transform(kept, i -> lines[i]), chr(10))
         |    AS text,
         |  CAST(len(lines) AS BIGINT) AS n_lines,
         |  CAST(len(lines) - len(kept) AS BIGINT) AS n_dup_lines_removed
         |FROM k
         |ORDER BY doc_id $N1, text $N1, n_lines $N1,
         |  n_dup_lines_removed $N1""".stripMargin,
    // the sketch is exact at k=64 >= 31 distinct tokens, so the oracle
    // is the plain exact top-10 by (count desc, token asc)
    "q_text_topk_sketch" ->
      s"""WITH v AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS count_min
         |  FROM (SELECT unnest(regexp_extract_all(text, '\\S+')) AS tok
         |        FROM documents) GROUP BY tok)
         |SELECT token, count_min FROM v
         |ORDER BY count_min DESC, token LIMIT 10""".stripMargin,
    "q_gate_topk_sketch" -> "SELECT CAST(1 AS INT) AS ok",
    "q_gate_hll" -> "SELECT CAST(1 AS INT) AS ok",
    // the sketch's sparse regime is exact-by-construction, so plain
    // count(DISTINCT) is the oracle (same \\S+ tokenization)
    // H = log2(T) - sum(c*log2 c)/T over per-(lang, token) counts;
    // output sums CAST to BIGINT (HUGEINT trap), doubles round-6
    "q_text_diversity" ->
      s"""WITH t AS (SELECT lang,
         |   unnest(regexp_extract_all(text, '\\S+')) AS tok
         |  FROM documents),
         |c AS (SELECT lang, tok, count(*) AS cnt FROM t GROUP BY 1, 2)
         |SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_types,
         |  round(count(*) / CAST(sum(cnt) AS DOUBLE), 6) AS type_token_ratio,
         |  round(log2(sum(cnt)) - sum(cnt * log2(cnt)) / sum(cnt), 6)
         |    AS entropy_bits,
         |  round(pow(2.0, log2(sum(cnt)) - sum(cnt * log2(cnt)) / sum(cnt)), 6)
         |    AS perplexity
         |FROM c GROUP BY lang
         |ORDER BY lang $N1, n_tokens $N1, n_types $N1, type_token_ratio $N1,
         |  entropy_bits $N1, perplexity $N1""".stripMargin,
    "q_star_revenue" ->
      s"""SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_items,
         |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP(r_name, n_name)
         |ORDER BY r_name $N1, n_name $N1, n_items $N1,
         |  revenue $N1""".stripMargin,
    // the same 32 shift/mask/or terms, generated: bit j of column i
    // lands at position j*2+i
    "q_layout_zorder" -> {
      val terms = (for { j <- 0 until 16; i <- 0 until 2 } yield {
        val c = if (i == 0) "l_orderkey" else "l_partkey"
        s"((($c >> $j) & 1) << ${j * 2 + i})"
      }).mkString(" | ")
      s"""SELECT l_orderkey, l_partkey, CAST($terms AS BIGINT) AS z
         |FROM lineitem
         |ORDER BY l_orderkey $N1, l_partkey $N1, z $N1""".stripMargin
    },
    // CMS never undercounts and the fixed-seed overcount bound is
    // deterministic on this corpus -> the boolean is a constant true
    "q_text_freq_bounds" ->
      s"""WITH toks AS (SELECT unnest(regexp_extract_all(text, '\\S+')) AS tok
         |  FROM documents),
         |t AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_true FROM toks
         |      GROUP BY tok ORDER BY n_true DESC, tok LIMIT 20)
         |SELECT tok, n_true, true AS within_bounds FROM t
         |ORDER BY tok $N1, n_true $N1, within_bounds $N1""".stripMargin,
    "q_text_distinct_by_lang" ->
      s"""SELECT lang, CAST(count(DISTINCT token) AS BIGINT)
         |    AS n_distinct_tokens, true AS exact
         |FROM (SELECT lang, unnest(regexp_extract_all(text, '\\S+')) AS token
         |      FROM documents)
         |GROUP BY lang
         |ORDER BY lang $N1, n_distinct_tokens $N1, exact $N1""".stripMargin,
    "q_text_distinct_incremental" ->
      s"""WITH toks AS (SELECT source,
         |   unnest(regexp_extract_all(text, '\\S+')) AS token
         |  FROM documents)
         |SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(count(DISTINCT token) AS BIGINT) AS n_distinct_tokens,
         |  true AS exact
         |FROM toks
         |ORDER BY n_sources $N1, n_distinct_tokens $N1, exact $N1""".stripMargin,
    // exact top-10 bigrams (k >= distinct bigrams makes the sketch exact)
    "q_text_topk_ngrams" ->
      s"""WITH t AS (SELECT regexp_extract_all(text, '\\S+') AS toks
         |  FROM documents),
         |g AS (SELECT unnest(list_transform(range(1, len(toks)),
         |    i -> array_to_string(toks[i:i+1], ' '))) AS ngram
         |  FROM t WHERE len(toks) >= 2),
         |v AS (SELECT ngram, CAST(count(*) AS BIGINT) AS count_min
         |  FROM g GROUP BY ngram)
         |SELECT ngram, count_min FROM v
         |ORDER BY count_min DESC, ngram LIMIT 10""".stripMargin,
    // norm stats + per-dim means (round-6 staging mirrored), anisotropy
    "q_emb_geometry" ->
      s"""WITH v AS (SELECT round(sqrt(list_sum(list_transform(embedding,
         |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS n
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         |    round(avg(n), 6) AS mean_norm,
         |    round(stddev_samp(n), 6) AS std_norm,
         |    min(n) AS min_norm, max(n) AS max_norm FROM v),
         |d AS (SELECT generate_subscripts(embedding, 1) AS i,
         |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |m AS (SELECT i, round(avg(x), 6) AS mv FROM d GROUP BY i),
         |mn AS (SELECT round(sqrt(sum(mv*mv)), 6) AS mean_vec_norm FROM m)
         |SELECT s.n_vectors, s.mean_norm, s.std_norm, s.min_norm, s.max_norm,
         |  mn.mean_vec_norm,
         |  CASE WHEN s.mean_norm > 0
         |    THEN round(mn.mean_vec_norm / s.mean_norm, 6) END AS anisotropy
         |FROM s, mn
         |ORDER BY n_vectors $N1, mean_norm $N1, std_norm $N1, min_norm $N1,
         |  max_norm $N1, mean_vec_norm $N1, anisotropy $N1""".stripMargin,
    // per-lang exact top-5 (k >= per-stratum vocab), rank by (count
    // desc, token asc) inside each language
    "q_text_topk_by_lang" ->
      s"""WITH v AS (SELECT lang, tok AS token,
         |    CAST(count(*) AS BIGINT) AS count_min
         |  FROM (SELECT lang, unnest(regexp_extract_all(text, '\\S+')) AS tok
         |        FROM documents) GROUP BY lang, tok),
         |r AS (SELECT lang, token, count_min, row_number() OVER (
         |    PARTITION BY lang ORDER BY count_min DESC, token) AS rk FROM v)
         |SELECT lang, token, count_min FROM r WHERE rk <= 5
         |ORDER BY lang $N1, token $N1, count_min $N1""".stripMargin,
    // the md5 shard/uniform replay of q_sample_shuffle, ranked within
    // each stratum by (shard, uniform, key) — exactly the operator's
    // sharded-rank decomposition — then the WFQ virtual finish time
    "q_sample_interleave" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |    md5('42#' || CAST(doc_id AS VARCHAR)) AS m FROM documents),
         |a AS (SELECT doc_id, lang,
         |    ('0x' || substring(m, 1, 8))::BIGINT / 4294967296.0 AS uni,
         |    CAST(('0x' || substring(m, 9, 8))::BIGINT % 8 AS INT) AS shard,
         |    CASE lang WHEN 'en' THEN 4.0 WHEN 'de' THEN 2.0
         |      WHEN 'fr' THEN 1.0 ELSE 0.0 END AS w
         |  FROM h),
         |r AS (SELECT doc_id, lang, w,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY shard, uni, doc_id) - 1 AS BIGINT) AS sr
         |  FROM a WHERE w > 0)
         |SELECT doc_id, lang, sr AS stratum_rank,
         |  (CAST(sr AS DOUBLE) + 0.5) / w AS interleave_key
         |FROM r
         |ORDER BY doc_id $N1, lang $N1, stratum_rank $N1,
         |  interleave_key $N1""".stripMargin,
  )

  // A DEF, not a val: the static aliases below are fixed, but the
  // byte-BPE kernel replays (q_text_bpe_kernel_10k/_50k) and the r18
  // fixed-codebook search replays (q_sim_pq/q_sim_pq_ivf/q_emb_pca)
  // are generated from per-dir trained artifacts that only exist after
  // the queries run — Verify dumps oracle_sql.json last, so accessing
  // this then picks them up (see dynamicBpeOracles/dynamicSimOracles).
  def oracleSql: Map[String, String] =
    oracleSqlStatic ++ dynamicBpeOracles ++ dynamicSimOracles

  /** The fixed-codebook/fixed-basis search replays — dynamic like
    * [[dynamicBpeOracles]] (same size-1 ambiguity fallback: a filtered
    * local run that never trained the model simply stays rows-only). */
  private def dynamicSimOracles: Map[String, String] = {
    def one[T](cache: java.util.concurrent.ConcurrentHashMap[String, T],
               name: String)(gen: T => String): Map[String, String] =
      if (cache.size != 1) Map.empty
      else Map(name -> gen(cache.values.iterator.next()))
    one(pqModelCache, "q_sim_pq")(pqSearchOracle) ++
      one(pqModelCache, "q_sim_pq_ivf")(pqIvfOracle) ++
      one(pcaModelCache, "q_emb_pca")(pcaProjectOracle)
  }

  // the config-compiled pipeline must be bit-identical to the
  // hand-composed one: SAME oracle text, two construction paths
  private val oracleSqlStatic: Map[String, String] = oracleSqlBase
    .updated("q_pipeline_config", oracleSqlBase("q_pipeline_pretrain"))
    // parse(render(conv)) must grade identically to the direct stats
    // path: one oracle, two construction paths
    .updated("q_chat_roundtrip", oracleSqlBase("q_chat_stats"))
    // gzip-JSONL nested interchange must grade identically too — the
    // third construction path through the same stats oracle
    .updated("q_chat_jsonl_roundtrip", oracleSqlBase("q_chat_stats"))
    // the YAML-compiled chat pipeline must be bit-identical to the
    // hand-composed one: SAME oracle text, two construction paths
    .updated("q_pipeline_chat_config", oracleSqlBase("q_pipeline_chat"))
    // the monster-family dedup rows (r17), graded on the SAME oracle
    // texts as their plain twins: the groupBy-count + SHUFFLE_HASH
    // join-back plan of duplicationWeightsSkewed is a second execution
    // path; the chat and pair rows run their operator's one min_by
    // exemplar aggregate, the plan they were added to grade
    .updated("q_dedup_softweights_skewed", oracleSqlBase("q_dedup_softweights"))
    .updated("q_chat_dedup_skewed", oracleSqlBase("q_chat_dedup"))
    .updated("q_pref_dedup_skewed", oracleSqlBase("q_pref_dedup"))
    // the YAML-declared TWA job (r17): third execution path (config
    // -> bucketed plan) on the q_events_twa oracle text
    .updated("q_events_twa_config", oracleSqlBase("q_events_twa"))
    // the billion-key sharded-rank RFM card (r17): second execution
    // path on the q_events_rfm oracle text; the YAML-declared job
    // (compiled to rfmCard) is the third
    .updated("q_events_rfm_sharded", oracleSqlBase("q_events_rfm"))
    .updated("q_events_rfm_config", oracleSqlBase("q_events_rfm"))
    // the YAML-declared production-tokenizer budget (r17): the config
    // surface must be bit-identical to the programmatic composition
    .updated("q_pipeline_budget_bpe_config", oracleSqlBase("q_sample_budget_bpe"))
    // the YAML-declared packed id stream (r17): second construction
    // path on the q_pack_token_ids oracle text
    // the SFT reader (r18): unpack(pack) == tokenize — the SAME oracle
    // text as the un-packed tokenize surface, third construction path
    .updated("q_chat_sft_unpack", oracleSqlBase("q_chat_sft_tokenize"))
    .updated("q_pipeline_pack_ids_config", oracleSqlBase("q_pack_token_ids"))
    // the span address books from YAML grade on the programmatic rows'
    // oracle texts (r18): one oracle, two construction paths
    .updated("q_pipeline_pack_spans_config", oracleSqlBase("q_pack_token_spans"))
    .updated("q_pipeline_sft_spans_config", oracleSqlBase("q_chat_pack_sft_spans"))
    .updated("q_pipeline_pack_datasheet_config", oracleSqlBase("q_pack_datasheet"))
    .updated("q_pipeline_pack_manifest_config",
      oracleSqlBase("q_pack_file_manifest"))
    // the PERSISTED store rows (r19): the same oracle texts as the
    // in-memory pack family, graded over what is actually on disk —
    // manifest (derived by write() from the just-written windows),
    // unpack (windows+spans read back through the store) and the
    // order/ surface (a restarted job's replay source)
    .updated("q_pack_store_manifest", oracleSqlBase("q_pack_file_manifest"))
    .updated("q_pack_store_unpack", oracleSqlBase("q_pack_unpack"))
    .updated("q_pack_store_order", oracleSqlBase("q_pack_training_order"))
    // the mix over PERSISTED spans grades on the in-memory row's
    // oracle: one oracle, the spans' third construction path
    .updated("q_chat_pack_window_mix_stored",
      oracleSqlBase("q_chat_pack_window_mix"))
    // the persisted SFT unpack grades on the tokenize oracle like its
    // in-memory twin: unpack(store(pack)) == tokenize; the no-split
    // persisted twins grade on the in-memory rows' own oracle texts
    .updated("q_chat_sft_unpack_stored", oracleSqlBase("q_chat_sft_tokenize"))
    .updated("q_chat_sft_unpack_nosplit_stored",
      oracleSqlBase("q_chat_sft_unpack_nosplit"))
    .updated("q_chat_store_nosplit_manifest",
      oracleSqlBase("q_chat_pack_nosplit_manifest"))
    .updated("q_pipeline_sft_nosplit_config",
      oracleSqlBase("q_chat_pack_sft_nosplit"))
    .updated("q_pipeline_sft_nosplit_spans_config",
      oracleSqlBase("q_chat_pack_nosplit_spans"))
    // the YAML-declared SFT pack (r17): second construction path on
    // the q_chat_pack_sft_ids oracle text
    .updated("q_pipeline_sft_pack_config", oracleSqlBase("q_chat_pack_sft_ids"))
    // the from_store MOUNT path (r20, VERDICT r19 #3): the YAML read
    // surfaces grade on the programmatic persisted-path rows' oracle
    // texts — one oracle, a construction path that goes YAML ->
    // StoreReadConfig -> the loader-side reader
    .updated("q_pipeline_store_unpack_config", oracleSqlBase("q_pack_unpack"))
    .updated("q_pipeline_store_mix_config",
      oracleSqlBase("q_chat_pack_window_mix"))
    .updated("q_pipeline_store_validate_config",
      oracleSqlBase("q_pack_store_validate"))
    // the SFT arm of the from_store unpack: unpack(mount(pack)) ==
    // tokenize, the same text as every other SFT-unpack path
    .updated("q_pipeline_store_sft_unpack_config",
      oracleSqlBase("q_chat_sft_tokenize"))
    // the multi-corpus mount from YAML: the interleave oracle text,
    // second construction path
    .updated("q_pipeline_stores_interleave_config",
      oracleSqlBase("q_pack_stores_interleaved"))
}
