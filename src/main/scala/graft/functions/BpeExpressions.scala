package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM core of the BPE tokenizer-apply operator (tx24).
  *
  * Greedy byte-pair-encoding APPLY (Sennrich et al. 2016; the public
  * GPT-2 `bpe()` loop shape): per word, start from the character
  * sequence and repeatedly (a) find the LOWEST-RANK merge whose pair is
  * adjacent somewhere in the current token sequence, (b) merge every
  * left-to-right non-overlapping occurrence of that pair, until no
  * ranked pair remains. Character-level (codepoints, not bytes —
  * matching DuckDB's `.` regex unit so the twin is exact), no
  * end-of-word marker.
  *
  * The merge table is the baked [[graft.llmdata.BpeMerges]] artifact
  * (trained by tools/train_bpe.py on the fixtures' full text surface;
  * reproduced bit-for-bit by the in-engine tx28 trainer — the parity
  * gate). Because merges are learned in global frequency order, any
  * PREFIX of the table is itself a valid trained table for the same
  * corpus; `bpe_encode(text)` applies the mid-band default prefix
  * ([[graft.llmdata.BpeMerges.BandN]]) and `bpe_encode(text, n)` an
  * explicit n-merge prefix (the cross-domain audit runs the full
  * realistic-size table where it is non-degenerate). The table is a
  * few-thousand-entry constant compiled into this object,
  * i.e. the degenerate best case of a broadcast: zero shuffle, zero
  * build side, the encode runs scan-side inside WholeStageCodegen.
  *
  * Scale shape: the classic vocabulary trick (encode DISTINCT words,
  * join back) would cost two shuffles at 100 TB; instead the encoder
  * memoizes per-word encodings in a bounded per-JVM cache
  * ([[BpeUtil.MemoCap]] entries per table — natural-language
  * vocabularies are Heaps-law sublinear, so the hot head fits), which
  * achieves the same dedup-of-work with ZERO data movement. Memo hit
  * rate, measured on the sf0.1 fixtures: the documents corpus is
  * 270,704 word instances over a 31-word closed vocabulary → hit rate
  * 1 − 31/270,704 ≈ 99.99%; the worst fixture domain (customer names,
  * 15,000 instances of 15,000 DISTINCT words) still amortizes across
  * queries because the memo is per-JVM, and a memo miss costs only the
  * word's own O(len²·log) merge loop. Words longer than a word-
  * processor would credit (>[[BpeUtil.MaxWordChars]] chars — URLs, hex
  * blobs) still encode correctly but skip the memo so one adversarial
  * partition cannot evict the hot vocabulary.
  */
object BpeUtil {
  /** Memo cap: ~64k distinct words ≈ the hot head of any natural-language
    * vocabulary; beyond it new words encode un-memoized (no eviction
    * scan, no unbounded growth). */
  final val MemoCap = 1 << 16
  final val MaxWordChars = 64

  /** All per-prefix state for one n-merge table view. The merge table is
    * a compile-time constant, so tables are JVM-global and never cleared;
    * only a handful of prefix sizes exist in practice (Band, Full). */
  private final class Table(n: Int) {
    val mergeArr: Array[(String, String)] =
      graft.llmdata.BpeMerges.Full.take(n).toArray
    /** rank(left + NUL + right) → merge priority; the U+0000 joiner
      * cannot appear inside a token (tokens come from word codepoints and
      * words are whitespace-split). Boxed Integer, NOT Int: a
      * HashMap[String, Int].get would unbox an absent-key null to 0,
      * aliasing every unknown pair to rank 0 and spinning the merge loop
      * forever. */
    val rank: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer]()
      var i = 0
      while (i < mergeArr.length) {
        m.put(mergeArr(i)._1 + "\u0000" + mergeArr(i)._2, Integer.valueOf(i))
        i += 1
      }
      m
    }
    /** Per-word encode memo. Capping is approximate by design: the
      * size check and the putIfAbsent are not atomic together, so the
      * cap can overshoot by ~thread count (r14 ADVICE — accepted;
      * putIfAbsent keeps the entry itself race-free). Never cleared:
      * safe only because the merge table is a compile-time constant. */
    val memo = new ConcurrentHashMap[String, Array[UTF8String]]()
  }

  private val tables = new ConcurrentHashMap[Integer, Table]()

  /** The greedy lowest-rank merge loop shared by the char-level
    * ([[BpeUtil]]) and byte-level ([[BpeBytesUtil]]) encoders: find the
    * lowest-rank adjacent pair, merge every left-to-right non-overlapping
    * occurrence, repeat until no ranked pair remains. `rank` keys are
    * `left + "\u0000" + right` (the NUL joiner cannot appear inside a
    * token on either level). */
  private[functions] object GreedyBpe {
    def merge(rank: java.util.HashMap[String, Integer],
              mergeArr: Array[(String, String)],
              toks0: Array[String]): Array[String] = {
      var toks = toks0
      var done = toks.length <= 1
      while (!done) {
        var best = Int.MaxValue
        var j = 0
        while (j < toks.length - 1) {
          val r = rank.get(toks(j) + "\u0000" + toks(j + 1))
          if (r != null && r.intValue() < best) best = r.intValue()
          j += 1
        }
        if (best == Int.MaxValue) done = true
        else {
          val (a, b) = mergeArr(best)
          val out = new java.util.ArrayList[String](toks.length)
          var k = 0
          while (k < toks.length) {
            if (k + 1 < toks.length && toks(k) == a && toks(k + 1) == b) {
              out.add(a + b); k += 2
            } else { out.add(toks(k)); k += 1 }
          }
          toks = out.toArray(new Array[String](out.size))
          if (toks.length <= 1) done = true
        }
      }
      toks
    }
  }

  private def table(n: Int): Table = {
    require(n > 0 && n <= graft.llmdata.BpeMerges.Full.length,
      s"bpe_encode: merge-table prefix $n out of range 1..${graft.llmdata.BpeMerges.Full.length}")
    tables.computeIfAbsent(Integer.valueOf(n), k => new Table(k.intValue()))
  }

  /** Greedy BPE apply over one word (codepoint-initialized). */
  private def encodeWordUncached(tab: Table, word: String): Array[UTF8String] = {
    // words carrying the twin's separator codepoint (U+001F) are opaque
    // single tokens on both engines (documented divergence guard; the
    // fixture corpus has none)
    if (word.indexOf(0x1f) >= 0) return Array(UTF8String.fromString(word))
    var toks = new Array[String](word.codePointCount(0, word.length))
    var i = 0; var n = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val l = Character.charCount(cp)
      toks(n) = word.substring(i, i + l)
      n += 1; i += l
    }
    if (n < toks.length) toks = java.util.Arrays.copyOf(toks, n)
    GreedyBpe.merge(tab.rank, tab.mergeArr, toks).map(UTF8String.fromString)
  }

  private def encodeWord(tab: Table, word: String): Array[UTF8String] = {
    if (word.length > MaxWordChars) return encodeWordUncached(tab, word)
    val hit = tab.memo.get(word)
    if (hit != null) return hit
    val enc = encodeWordUncached(tab, word)
    if (tab.memo.size < MemoCap) tab.memo.putIfAbsent(word, enc)
    enc
  }

  /** OOV id for [[encodeTextIds]]: a token outside the supplied vocab
    * maps here (cannot happen when the vocab was built over the corpus
    * being encoded; the contract for NEW text against a frozen vocab). */
  final val UnkId: Int = -1

  /** [[encodeText]] emitting token IDS against a caller-supplied vocab
    * (UTF8String token → boxed id; absent → [[UnkId]]). One pass, O(1)
    * hash lookup per token — the id mapping adds no second
    * materialization of the token strings and no data movement (the
    * vocab ships with the expression, see [[BpeEncodeIds]]). */
  def encodeTextIds(text: UTF8String, n: Int,
      vocab: java.util.HashMap[UTF8String, Integer]): ArrayData = {
    val tab = table(n)
    val s = text.toString
    var buf = new Array[Int](16)
    var m = 0
    var start = 0
    var i = 0
    val len = s.length
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        if (i > start) {
          val toks = encodeWord(tab, s.substring(start, i))
          var t = 0
          while (t < toks.length) {
            if (m == buf.length) buf = java.util.Arrays.copyOf(buf, m * 2)
            val id = vocab.get(toks(t))
            buf(m) = if (id == null) UnkId else id.intValue()
            m += 1
            t += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(buf, m))
  }

  /** [[BpeEncodeIds]]'s inverse: concatenate the tokens at each id
    * (dense-rank indexed), U+FFFD for out-of-range. */
  def decodeIds(ids: ArrayData, inverse: Array[String]): UTF8String = {
    val n = ids.numElements()
    val sb = new java.lang.StringBuilder(n * 4)
    var i = 0
    while (i < n) {
      val id = ids.getInt(i)
      if (id >= 0 && id < inverse.length) sb.append(inverse(id))
      else sb.append('�')
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Tokenize a whole text under the first-`n`-merges table: single-space
    * word split (empty words from consecutive/leading/trailing spaces
    * contribute nothing — the same rule as the twin's `w <> ''` filter),
    * tokens concatenated in word order. */
  def encodeText(text: UTF8String, n: Int): ArrayData = {
    val tab = table(n)
    val s = text.toString
    val out = new java.util.ArrayList[AnyRef]()
    var start = 0
    var i = 0
    val len = s.length
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        if (i > start) {
          val toks = encodeWord(tab, s.substring(start, i))
          var t = 0
          while (t < toks.length) { out.add(toks(t)); t += 1 }
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `bpe_decode_ids(ids)` → string: the DETOKENIZER — token ids back to
  * their concatenated text through the inverse vocab (ids are dense
  * 0-based ranks, so the inverse is an array INDEX, not a map probe).
  * Out-of-range ids (including [[BpeUtil.UnkId]]) decode to U+FFFD, the
  * standard replacement-character convention. Note the round trip is
  * exact up to the tokenizer's own whitespace normalization: the encoder
  * splits on single spaces and drops empty words, so
  * `decode(encode(text)) == text with spaces removed` — tx34 gates
  * exactly that identity corpus-wide. */
case class BpeDecodeIds(child: Expression, vocab: Map[String, Int])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bpe_decode_ids requires array<int>, got ${t.catalogString}")
  }

  override def dataType: DataType = StringType
  override def prettyName: String = "bpe_decode_ids"

  /** Inverse vocab as a dense array (token_id = lexicographic rank by
    * construction — `TextAnalysis.bpeVocabCore`). */
  @transient private lazy val inverse: Array[String] = {
    val arr = new Array[String](vocab.size)
    vocab.foreach { case (tok, id) => arr(id) = tok }
    arr
  }

  override def nullSafeEval(ids: Any): Any =
    BpeUtil.decodeIds(ids.asInstanceOf[ArrayData], inverse)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeInverseVocab", inverse, "java.lang.String[]")
    defineCodeGen(ctx, ev,
      a => s"graft.functions.BpeUtil.decodeIds($a, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeDecodeIds =
    copy(child = newChild)
}

/** `bpe_encode_ids(text)` → array<int> of token IDS: the
  * [[TextHashFunctions.bpeEncode]] merge walk composed with a token→id
  * vocab lookup in ONE scan-side pass
  * (tx33 / cur16 — the id-level payload a training shard actually loads).
  *
  * The vocab is DATA-derived (built from the corpus by
  * `TextAnalysis.bpeVocabCore`, persisted as the parquet artifact a
  * tokenizer release ships), so unlike the merge table it cannot be a
  * compile-time constant; it is a constructor parameter folded into the
  * plan as a codegen reference object (`ctx.addReferenceObj`) — the same
  * ship-with-the-task-binary posture as the IVF codebook literals, with
  * O(1) HashMap lookups per token instead of the O(|vocab|) linear scan a
  * `element_at(map_literal, token)` would codegen to. Zero shuffle, zero
  * build side; a real 100k-entry vocab is ~2 MB in the task binary — the
  * degenerate best case of a broadcast. Tokens outside the vocab map to
  * [[BpeUtil.UnkId]] (impossible when vocab and corpus coincide; the
  * frozen-vocab contract for new text). */
case class BpeEncodeIds(child: Expression, nMerges: Int,
    vocab: Map[String, Int]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if nMerges > 0 &&
      nMerges <= graft.llmdata.BpeMerges.Full.length =>
      TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode_ids: merge-table prefix $nMerges out of range 1..${graft.llmdata.BpeMerges.Full.length}")
    case t => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode_ids requires string, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "bpe_encode_ids"

  /** UTF8String-keyed view of the vocab: tokens come off the merge walk
    * as UTF8String, so keying the map the same way avoids a per-token
    * toString allocation. Built once per (de)serialized instance. */
  @transient private lazy val vocabMap: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](vocab.size * 2)
    vocab.foreach { case (k, v) =>
      m.put(UTF8String.fromString(k), Integer.valueOf(v))
    }
    m
  }

  override def nullSafeEval(text: Any): Any =
    BpeUtil.encodeTextIds(text.asInstanceOf[UTF8String], nMerges, vocabMap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeVocab", vocabMap,
      "java.util.HashMap<org.apache.spark.unsafe.types.UTF8String, Integer>")
    defineCodeGen(ctx, ev,
      a => s"graft.functions.BpeUtil.encodeTextIds($a, $nMerges, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeIds =
    copy(child = newChild)
}
