package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native byte-level (GPT-2-style) BPE ENCODE kernel — THE encode path
 * behind every byte-BPE surface ([[graft.operators.TextStats]]'s
 * `encodeBpeBytes`, `encodeBpeBytesIds`, `applyBpeBytes`,
 * `byteBpeFertility` and `tokenOffsets`, and the SFT chat encoders),
 * at every merge count. A chain of literal `replace` calls would
 * compile to O(merges) expression nodes, each rescanning the token,
 * so a real ~50k-merge GPT-2-class vocabulary would blow whole-stage
 * codegen's method-size limits, and even an 8-merge fixture list runs
 * several times slower than this node. This expression is ONE node
 * regardless of merge count: the merge table compiles once
 * (driver-side) into an id-space pair-rank map that rides the
 * generated code as a REFERENCE OBJECT (`ctx.addReferenceObj`, the
 * [[UnigramSegment]] pattern), and each token is encoded by the
 * canonical greedy-by-rank loop with a bounded per-model token cache
 * (Zipf makes the hit rate enormous).
 *
 * Semantics — identical to applying the merges exhaustively in
 * training order (the literal-replace chain the DuckDB oracles replay,
 * and the reference encoder ByteBpeEncodeSpec compares against) for
 * WELL-FORMED merge lists (every operand is a base byte or the result
 * of a strictly earlier merge, which is what BPE training produces):
 * greedy-by-rank applies the lowest-rank pair present, repeatedly.
 * Merging two symbols can only create NEW adjacencies involving the
 * merged symbol, whose merges are all of strictly later rank, so the
 * rank sequence the greedy loop applies is non-decreasing — i.e.
 * exactly training order. Ill-formed lists (an operand no earlier
 * merge can produce) match too: such a pair can never occur as
 * adjacent SYMBOLS, and a `replace` never fires on it — the compiler
 * simply drops it from the pair map.
 *
 * Output ids follow [[graft.operators.TextStats.bpeBytesVocab]]'s
 * convention (byte b → b, merge rank k → 256+k). A merge list with a
 * duplicate result piece is rejected with an IllegalArgumentException
 * on EVERY surface and at every merge count — pieces, counts and
 * fertility as well as ids (the vocab's piece→id map would be
 * ambiguous). Distinct merge paths CAN legitimately produce one
 * surface piece in real training — (b,c) wins in some words, (a,b) in
 * others, then (a,'bc') and ('ab',c) both win later ranks, yielding
 * 'abc' twice — so graft's trainers skip such winners at the producer
 * ([[graft.operators.TextStats.trainBpeBytesLocal]] and the
 * distributed twin, ADVICE r16 #2); the require here guards
 * third-party merge lists.
 *
 * 100 TB design: entirely row-local, zero shuffle, one codegen'd call
 * per row into a shared model; per-executor memory is O(vocab) for
 * the table plus a hard-capped token cache.
 */
case class ByteBpeEncode(child: Expression, merges: Seq[(String, String)],
                         mode: String) extends UnaryExpression {
  require(ByteBpeEncode.Modes.contains(mode), s"unknown mode $mode")
  require(merges.nonEmpty, "merges must be non-empty")

  @transient private lazy val model = ByteBpeEncode.modelFor(merges)

  override def dataType: DataType = mode match {
    case "pieces"  => ArrayType(StringType, containsNull = false)
    case "ids"     => ArrayType(LongType, containsNull = false)
    case "offsets" => ArrayType(ByteBpeEncode.OffsetStruct, containsNull = false)
    case _         => LongType
  }
  override def prettyName: String = s"graft_byte_bpe_$mode"

  override protected def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[UTF8String]
    mode match {
      case "pieces"  => model.pieces(t)
      case "ids"     => model.ids(t)
      case "offsets" => model.offsets(t)
      case _         => model.count(t)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("byteBpeModel", model,
      classOf[ByteBpeEncode.Model].getName)
    val call = mode match {
      case "pieces"  => s"$ref.pieces"
      case "ids"     => s"$ref.ids"
      case "offsets" => s"$ref.offsets"
      case _         => s"$ref.count"
    }
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $call($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ByteBpeEncode =
    copy(child = newChild)
}

object ByteBpeEncode {

  private[graft] val Modes = Set("pieces", "ids", "count", "offsets")

  /** `offsets` mode element type: token id + its byte span in the
    * text's UTF-8 encoding (pieces tile the bytes exactly). */
  private[graft] val OffsetStruct = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("token_id", LongType,
      nullable = false),
    org.apache.spark.sql.types.StructField("byte_start", LongType,
      nullable = false),
    org.apache.spark.sql.types.StructField("byte_len", LongType,
      nullable = false)))

  /** One compiled model per distinct merge list per JVM — plans that
    * use several modes over the same list (pieces + ids + fertility)
    * share one table and ONE token cache instead of three. */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[Seq[(String, String)], Model]()
  /** Hard cap (review r16): a session retraining merge lists per
    * iteration would otherwise leak one vocab-sized Model + token
    * cache per list forever; past the cap new lists build uncached
    * (correct, just unmemoized — the probeCache convention). */
  private val ModelCacheCap = 64
  private[graft] def modelFor(merges: Seq[(String, String)]): Model = {
    val hit = modelCache.get(merges)
    if (hit != null) hit
    else {
      // racing builders both construct; CHM keeps one — builds are
      // idempotent and cheap relative to a duplicated 50k-entry cache
      val built = new Model(merges.toArray)
      if (modelCache.size >= ModelCacheCap) built
      else {
        val prev = modelCache.putIfAbsent(merges, built)
        if (prev != null) prev else built
      }
    }
  }

  private val HexDigits = "0123456789ABCDEF".toCharArray

  /**
   * The compiled merge table + greedy-by-rank encode loop. Symbol id
   * space: 0–255 the base bytes, 256+rank the merge results (the
   * [[graft.operators.TextStats.bpeBytesVocab]] ids, so `ids` output
   * needs no second lookup). `pairRank` maps packed (leftId, rightId)
   * to packed (rank, resultId); unreachable merges (operand not a
   * producible symbol) are dropped — the replace chain never fires on
   * them either.
   */
  final class Model(merges: Array[(String, String)]) extends Serializable {
    /** Per-JVM sharing across TASKS (guide §4.5, VERDICT r21 #3): a
      * reference object is serialized into every task binary, so
      * without this hook each task deserializes a FRESH model — a
      * fresh pair table (50k entries for production vocabularies) and,
      * worse, a COLD token cache re-warmed per task. The proxy ships
      * only the merge list; deserialization resolves through
      * [[ByteBpeEncode.modelFor]], so every task in the JVM shares ONE
      * table and ONE warm Zipf cache, and the task binary carries the
      * merges instead of the built table. */
    @throws(classOf[java.io.ObjectStreamException])
    private def writeReplace(): Object = new ModelRef(merges)

    private val nSym = 256 + merges.length
    /** id → hex piece string (for `pieces` output). */
    private val symHex = new Array[String](nSym)
    /** packed (l.toLong << 32 | r) → packed (rank.toLong << 32 | resultId). */
    private val pairRank = new java.util.HashMap[java.lang.Long, java.lang.Long]()

    {
      val hexToId = new java.util.HashMap[String, Integer]()
      var b = 0
      while (b < 256) {
        val h = new String(Array(HexDigits(b >> 4), HexDigits(b & 15)))
        symHex(b) = h
        hexToId.put(h, Integer.valueOf(b))
        b += 1
      }
      var k = 0
      while (k < merges.length) {
        val (l, r) = merges(k)
        val piece = l + r
        val id = 256 + k
        require(hexToId.get(piece) == null,
          s"duplicate merge result piece '$piece' at rank ${k + 1}: the " +
            "piece->id vocabulary would be ambiguous")
        // operands resolvable = producible by a strictly earlier merge
        // (or a base byte); look up BEFORE registering this result
        val lId = hexToId.get(l)
        val rId = hexToId.get(r)
        symHex(id) = piece
        hexToId.put(piece, Integer.valueOf(id))
        if (lId != null && rId != null) {
          val key = java.lang.Long.valueOf((lId.longValue << 32) | rId.longValue)
          val value = java.lang.Long.valueOf((k.toLong << 32) | id.toLong)
          // a duplicate (l,r) pair cannot reach here: it would produce
          // a duplicate result piece l+r, which the require above
          // rejects first
          pairRank.put(key, value)
        }
        k += 1
      }
    }

    /** GPT-2 pre-tokenizer (same pattern the Column path uses —
      * [[graft.operators.TextStats.ByteBpePretokenPattern]] aliases
      * [[PretokenPattern]], one definition). */
    @transient private lazy val pretoken =
      java.util.regex.Pattern.compile(PretokenPattern)

    /** Bounded token→symbol-ids cache. Pre-tokens are Zipf-distributed
      * words, so a shared cache turns the per-token loop into a lookup
      * for the bulk of a corpus; inserts stop at the cap (no eviction
      * churn, worst case is cold-path encode which is correct anyway).
      * ConcurrentHashMap because local-mode tasks share the plan's
      * reference objects across threads. */
    @transient private lazy val cache =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Int]]()
    private val CacheCap = 1 << 16

    /** Greedy-by-rank BPE over one pre-token's UTF-8 bytes. */
    private def encodeToken(tok: String): Array[Int] = {
      val cached = cache.get(tok)
      if (cached != null) return cached
      val bytes = tok.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var n = bytes.length
      val ids = new Array[Int](n)
      var i = 0
      while (i < n) { ids(i) = bytes(i) & 0xff; i += 1 }
      var done = n <= 1
      while (!done) {
        // lowest-rank adjacent pair present
        var bestPacked = java.lang.Long.MAX_VALUE
        var bestL = -1
        var bestR = -1
        i = 0
        while (i < n - 1) {
          val v = pairRank.get(
            java.lang.Long.valueOf((ids(i).toLong << 32) | ids(i + 1).toLong))
          if (v != null && v.longValue < bestPacked) {
            bestPacked = v.longValue
            bestL = ids(i); bestR = ids(i + 1)
          }
          i += 1
        }
        if (bestPacked == java.lang.Long.MAX_VALUE) done = true
        else {
          // merge every left-to-right non-overlapping occurrence (the
          // chain's `replace` semantics)
          val sym = (bestPacked & 0xffffffffL).toInt
          var w = 0
          i = 0
          while (i < n) {
            if (i < n - 1 && ids(i) == bestL && ids(i + 1) == bestR) {
              ids(w) = sym; i += 2
            } else { ids(w) = ids(i); i += 1 }
            w += 1
          }
          n = w
          if (n <= 1) done = true
        }
      }
      val out = java.util.Arrays.copyOf(ids, n)
      if (cache.size < CacheCap) cache.put(tok, out)
      out
    }

    private def encodeAll(text: UTF8String): java.util.ArrayList[Array[Int]] = {
      val s = text.toString
      val out = new java.util.ArrayList[Array[Int]]()
      val m = pretoken.matcher(s)
      while (m.find()) out.add(encodeToken(m.group()))
      out
    }

    def pieces(text: UTF8String): ArrayData = {
      val toks = encodeAll(text)
      var total = 0
      var t = 0
      while (t < toks.size) { total += toks.get(t).length; t += 1 }
      val arr = new Array[Any](total)
      var w = 0
      t = 0
      while (t < toks.size) {
        val ids = toks.get(t)
        var j = 0
        while (j < ids.length) {
          arr(w) = UTF8String.fromString(symHex(ids(j))); w += 1; j += 1
        }
        t += 1
      }
      new GenericArrayData(arr)
    }

    def ids(text: UTF8String): ArrayData = {
      val toks = encodeAll(text)
      var total = 0
      var t = 0
      while (t < toks.size) { total += toks.get(t).length; t += 1 }
      val arr = new Array[Any](total)
      var w = 0
      t = 0
      while (t < toks.size) {
        val ids = toks.get(t)
        var j = 0
        while (j < ids.length) { arr(w) = ids(j).toLong; w += 1; j += 1 }
        t += 1
      }
      new GenericArrayData(arr)
    }

    def count(text: UTF8String): Long = {
      val toks = encodeAll(text)
      var total = 0L
      var t = 0
      while (t < toks.size) { total += toks.get(t).length; t += 1 }
      total
    }

    /** Token→byte ALIGNMENT: (token_id, byte_start, byte_len) per
      * token, byte offsets into the text's UTF-8 encoding. Pieces
      * tile the bytes exactly (BPE segments, never rewrites), so the
      * starts are the running sum of piece byte lengths — the span
      * table that aligns character-level labels (NER spans, redaction
      * windows, provenance cites) onto the token stream. */
    def offsets(text: UTF8String): ArrayData = {
      val toks = encodeAll(text)
      var total = 0
      var t = 0
      while (t < toks.size) { total += toks.get(t).length; t += 1 }
      val arr = new Array[Any](total)
      var w = 0
      var off = 0L
      t = 0
      while (t < toks.size) {
        val ids = toks.get(t)
        var j = 0
        while (j < ids.length) {
          val len = symBytes(ids(j)).length.toLong
          arr(w) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](ids(j).toLong, off, len))
          off += len
          w += 1
          j += 1
        }
        t += 1
      }
      new GenericArrayData(arr)
    }

    /** id → UTF-8 bytes of its piece — the DECODE table. Built lazily
      * from `symHex` so encode-only models never pay it; ~vocab-sized,
      * shared across threads like the rest of the model. */
    @transient private lazy val symBytes: Array[Array[Byte]] = {
      val out = new Array[Array[Byte]](nSym)
      var i = 0
      while (i < nSym) {
        val h = symHex(i)
        val b = new Array[Byte](h.length >> 1)
        var j = 0
        while (j < b.length) {
          b(j) = ((hexVal(h.charAt(2 * j)) << 4) |
            hexVal(h.charAt(2 * j + 1))).toByte
          j += 1
        }
        out(i) = b
        i += 1
      }
      out
    }
    private def hexVal(c: Char): Int =
      if (c <= '9') c - '0' else c - 'A' + 10

    /** DETOKENIZE: token ids → text, the exact inverse of [[ids]] —
      * every id maps to its piece's UTF-8 bytes and the bytes
      * concatenate back into the original string (BPE merges never
      * cross pre-token boundaries, and pre-tokens tile the input, so
      * `decode(ids(t)) == t` for every string `t`). Ids OUTSIDE the
      * vocabulary `[0, 256+|merges|)` — EOS / pad sentinels under the
      * `256+|merges|` id convention — and NULL array elements throw
      * by default; with `skipUnknown` they are dropped (the blanket
      * artifact-reading contract: an EOS-terminated packed stream
      * decodes to its source text directly); a non-empty `sentinels`
      * set (sorted, ADVICE r18 #4) narrows the dropped set to exactly
      * those ids PLUS null elements (r20, ADVICE r19: strict sentinel
      * mode had no way to tolerate nulls without abandoning strict
      * out-of-vocabulary checking via skipUnknown — NULL is
      * sentinel-class, a masked/absent cell, not a garbage id) so
      * genuinely wild ids still fail loudly. */
    def decode(idsArr: ArrayData, skipUnknown: Boolean,
               sentinels: Array[Long]): UTF8String = {
      val n = idsArr.numElements()
      // droppable = skipUnknown OR a listed sentinel (nulls count as
      // sentinel-class); anything else out of vocabulary throws
      def keepOrThrow(i: Int): Long = {
        if (idsArr.isNullAt(i)) {
          if (skipUnknown || sentinels.length > 0) return -1L
          throw new IllegalArgumentException(
            "NULL token id in the input array; pass skipUnknown=true " +
              "(or any non-empty sentinelIds — nulls are sentinel-class) " +
              "to drop null elements")
        }
        val id = idsArr.getLong(i)
        if (id >= 0 && id < nSym) id
        else if (skipUnknown ||
          java.util.Arrays.binarySearch(sentinels, id) >= 0) -1L
        else throw new IllegalArgumentException(
          s"token id $id outside the vocabulary [0, $nSym); pass " +
            "skipUnknown=true (or list it in sentinelIds) to drop " +
            "EOS/pad sentinels")
      }
      var total = 0
      var i = 0
      while (i < n) {
        val id = keepOrThrow(i)
        if (id >= 0) total += symBytes(id.toInt).length
        i += 1
      }
      val buf = new Array[Byte](total)
      var w = 0
      i = 0
      while (i < n) {
        val id = keepOrThrow(i)
        if (id >= 0) {
          val b = symBytes(id.toInt)
          System.arraycopy(b, 0, buf, w, b.length)
          w += b.length
        }
        i += 1
      }
      UTF8String.fromBytes(buf)
    }
  }

  /** [[Model]]'s serialization proxy: carries the merge list only and
    * resolves to the per-JVM cached model on read (same instance —
    * and same WARM token cache — for every task in the JVM). */
  private final class ModelRef(merges: Array[(String, String)])
      extends Serializable {
    @throws(classOf[java.io.ObjectStreamException])
    private def readResolve(): Object = modelFor(merges.toIndexedSeq)
  }

  /**
   * GPT-2-STYLE pre-tokenization pattern — THE definition
   * ([[graft.operators.TextStats.ByteBpePretokenPattern]] aliases it;
   * the DuckDB oracle embeds the same text). See TextStats for the
   * one documented deviation from Radford et al. 2019 (no lookahead —
   * RE2 compatibility).
   */
  val PretokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Ordered hex-piece array of `text` under `merges` (NULL → NULL). */
  def byteBpePieces(text: Column, merges: Seq[(String, String)]): Column =
    GraftColumnBridge.column(
      ByteBpeEncode(GraftColumnBridge.expression(text), merges, "pieces"))

  /** Ordered token-id array ([[graft.operators.TextStats.bpeBytesVocab]]
    * id space) of `text` under `merges`. */
  def byteBpeIds(text: Column, merges: Seq[(String, String)]): Column =
    GraftColumnBridge.column(
      ByteBpeEncode(GraftColumnBridge.expression(text), merges, "ids"))

  /** Total subword count of `text` under `merges`. */
  def byteBpeCount(text: Column, merges: Seq[(String, String)]): Column =
    GraftColumnBridge.column(
      ByteBpeEncode(GraftColumnBridge.expression(text), merges, "count"))

  /** Token→byte ALIGNMENT table of `text` under `merges`:
    * `array<struct<token_id, byte_start, byte_len>>`, offsets into the
    * text's UTF-8 encoding — `token_id` order-identical to
    * [[byteBpeIds]], spans tiling the bytes contiguously from 0. The
    * join surface for character-level labels (NER spans, redaction
    * windows, provenance cites) onto the token stream. */
  def byteBpeOffsets(text: Column, merges: Seq[(String, String)]): Column =
    GraftColumnBridge.column(
      ByteBpeEncode(GraftColumnBridge.expression(text), merges, "offsets"))
}
