package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** JVM core of the BYTE-level BPE tokenizer apply (tx30) — the
  * GPT-2-shaped variant of [[BpeUtil]], closing the realism gap between
  * the char-level/whitespace-split tokenizer (exact, but not what
  * production LLM stacks ship) and what they do ship (Radford et al.
  * 2019; the public GPT-2 encoder):
  *
  *  - PRETOKENIZATION instead of whitespace split: the RE2-safe
  *    simplification of GPT-2's regex — `' ?[a-zA-Z]+| ?[0-9]+|
  *    ?[^a-zA-Z0-9 ]+| +'` — so a leading space ATTACHES to the
  *    following word (`"Ġword"` tokens), letters/digits/punctuation
  *    split into separate pretokens (`Customer#000000042` →
  *    `Customer`, `#`, `000000042`), and merges never cross pretoken
  *    boundaries. Documented divergences from the canonical pattern,
  *    both RE2-driven (the twin's regex engine has no lookahead):
  *    no apostrophe-contraction branches, and a run of 2+ spaces is its
  *    own pretoken instead of donating its last space to the next word.
  *  - BYTE alphabet under GPT-2's `bytes_to_unicode` map, restricted to
  *    the printable-ASCII range where that map is the IDENTITY, plus
  *    space → U+0120 `Ġ`. A pretoken containing any byte outside
  *    printable-ASCII+space is an OPAQUE single token on both engines —
  *    the same cross-engine divergence-guard idiom as tx24's U+001F
  *    guard (the full 256-entry map would need a byte-level twin the
  *    SQL side cannot express losslessly; the fixtures are pure
  *    printable ASCII, so the guard never fires there).
  *
  * The merge table is [[BpeTable.Bytes]], trained by
  * tools/train_bpe.py in `bytes` mode on the same
  * union corpus as the char table, with the same prefix property:
  * `bpe_encode_bytes(text)` applies the mid-band default prefix and
  * `bpe_encode_bytes(text, n)` an explicit prefix. Same scale shape as
  * tx24: scan-side, zero data movement, bounded per-JVM memo.
  */
object BpeBytesUtil {
  /** RE2-safe GPT-2-shaped pretokenizer — keep in sync with
    * tools/train_bpe.py PRETOKEN_RE and the tx30 twin SQL. */
  final val PretokenRegex = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"
  private val Pretokenizer = java.util.regex.Pattern.compile(PretokenRegex)

  /** GPT-2's byte-unicode image of the space byte. */
  final val GDot = 'Ġ'

  private def printableAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < ' ' || c > '~') return false
      i += 1
    }
    true
  }

  private def encodePretokenUncached(tab: BpeTable.Prefix, tok: String): Array[UTF8String] = {
    // opaque guard: bytes outside printable-ASCII+space (see scaladoc)
    if (!printableAscii(tok)) return Array(UTF8String.fromString(tok))
    val mapped = tok.replace(' ', GDot)
    val syms = new Array[String](mapped.length)
    var i = 0
    while (i < mapped.length) { syms(i) = String.valueOf(mapped.charAt(i)); i += 1 }
    tab.merge(syms).map(UTF8String.fromString)
  }

  private def encodePretoken(tab: BpeTable.Prefix, tok: String): Array[UTF8String] = {
    if (tok.length > BpeUtil.MaxWordChars) return encodePretokenUncached(tab, tok)
    val hit = tab.memo.get(tok)
    if (hit != null) return hit
    val enc = encodePretokenUncached(tab, tok)
    // approximate capping via putIfAbsent — same contract as BpeUtil
    if (tab.memo.size < BpeUtil.MemoCap) tab.memo.putIfAbsent(tok, enc)
    enc
  }

  /** [[encodeText]]'s inverse (tx35 — the byte-level detokenizer):
    * concatenate tokens in order, unmapping Ġ→space on MAPPED-shape
    * tokens and passing opaque pretokens through raw. A mapped token's
    * chars are exactly printable-ASCII-sans-space ∪ {Ġ} (the encoder
    * mapped every space before merging), and an opaque token always
    * contains a char outside that set — so the shape test recovers
    * which rule produced each token, and decode∘encode is the IDENTITY
    * for any input, spaces included (byte-level tokenizers' defining
    * property; GPT-2's full 256-entry bijection gives the same
    * guarantee globally). The one blind spot: a LITERAL U+0120 in the
    * input decodes as a space — the same out-of-domain caveat as the
    * char tokenizer's U+001F guard; the full byte map has no such
    * char, and the fixtures contain none. */
  def decodeText(tokens: ArrayData): UTF8String = {
    val n = tokens.numElements()
    val sb = new java.lang.StringBuilder(n * 4)
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i).toString
      if (mappedShape(t)) {
        var j = 0
        while (j < t.length) {
          val c = t.charAt(j)
          sb.append(if (c == GDot) ' ' else c)
          j += 1
        }
      } else sb.append(t)
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  private def mappedShape(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!((c > ' ' && c <= '~') || c == GDot)) return false
      i += 1
    }
    true
  }

  /** Tokenize a whole text under the first-`n`-merges byte table:
    * pretokenize, encode each pretoken, concatenate in order. The
    * pretokenizer's branches cover every character, so the matches tile
    * the input exactly (lossless round-trip modulo the space→Ġ map). */
  def encodeText(text: UTF8String, n: Int): ArrayData = {
    val tab = BpeTable.Bytes.prefix(n, "bpe_encode_bytes")
    val s = text.toString
    val out = new java.util.ArrayList[AnyRef]()
    val m = Pretokenizer.matcher(s)
    while (m.find()) {
      val toks = encodePretoken(tab, m.group())
      var t = 0
      while (t < toks.length) { out.add(toks(t)); t += 1 }
    }
    new GenericArrayData(out.toArray)
  }
}
