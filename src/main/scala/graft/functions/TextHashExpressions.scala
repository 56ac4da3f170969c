package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM helpers shared by the native text-hash expressions and the generated
  * code (static calls keep the expressions inside WholeStageCodegen without
  * inlining the md5 loops into generated Java). Semantics are EXACTLY the
  * composable-column forms they replace (md5 hex, lexicographic min,
  * MSB-first bits) so results stay bit-identical with the DuckDB oracles.
  */
object TextHashUtil {

  private val hexDigits = "0123456789abcdef".toCharArray

  private def md5(): MessageDigest = MessageDigest.getInstance("MD5")

  private def toHex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = hexDigits((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** One md5 digest's ±1 votes, MSB first — the single source of the
    * SimHash bit math shared by [[simhashBits]] and [[phash64]]. */
  private def voteBits(h: Array[Byte], votes: Array[Int], nbits: Int): Unit = {
    var p = 0
    while (p < nbits) {
      val bit = (h(p / 8) >> (7 - p % 8)) & 1
      votes(p) += (if (bit == 1) 1 else -1)
      p += 1
    }
  }

  private def emitBits(votes: Array[Int]): UTF8String = {
    val out = new Array[Byte](votes.length)
    var p = 0
    while (p < votes.length) {
      out(p) = if (votes(p) > 0) '1'.toByte else '0'.toByte
      p += 1
    }
    UTF8String.fromBytes(out)
  }

  /** SimHash over the token array: per token, the first nbits/8 bytes of
    * md5(token) vote bit-wise (MSB first); emits the '0'/'1' bit string.
    * Identical to: per p in 1..nbits, sum over tokens of ±1 from the p-th
    * bit of the first nbits/4 hex chars of md5(token). nbits ≤ 128. */
  def simhashBits(tokens: ArrayData, nbits: Int): UTF8String = {
    val votes = new Array[Int](nbits)
    val d = md5()
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        d.reset()
        voteBits(d.digest(tokens.getUTF8String(t).getBytes), votes, nbits)
      }
      t += 1
    }
    emitBits(votes)
  }

  def simhash32(tokens: ArrayData): UTF8String = simhashBits(tokens, 32)
  def simhash64(tokens: ArrayData): UTF8String = simhashBits(tokens, 64)

  /** 64-bit payload phash: SimHash over OVERLAPPING windowBytes-byte
    * windows of the payload at stride 1, each window tokenized as its
    * 2·windowBytes-char lowercase hex string — BIT-IDENTICAL to
    * `simhash64(transform(sequence(1, greatest(len-w+1, 1)),
    * i -> substr(hex(payload), (i-1)*2+1, 2w)))` (the mm5 oracle's form)
    * without materializing the full hex string or the gram array: one
    * reused 2w-byte buffer per row instead of ~len strings. */
  def phash64(payload: Array[Byte], windowBytes: Int): UTF8String = {
    val nbits = 64
    val votes = new Array[Int](nbits)
    val d = md5()
    // substr semantics of the composable form: windows = max(len-w+1, 1);
    // a payload shorter than one window yields one CLIPPED gram
    val nWin = math.max(payload.length - (windowBytes - 1), 1)
    val hexBuf = new Array[Byte](windowBytes * 2)
    var i = 0
    while (i < nWin) {
      val end = math.min(i + windowBytes, payload.length)
      var j = i
      var k = 0
      while (j < end) {
        hexBuf(k) = hexDigits((payload(j) >> 4) & 0xf).toByte
        hexBuf(k + 1) = hexDigits(payload(j) & 0xf).toByte
        j += 1
        k += 2
      }
      d.reset()
      d.update(hexBuf, 0, k)
      voteBits(d.digest(), votes, nbits)
      i += 1
    }
    emitBits(votes)
  }

  /** [[graft.llmdata.Multimodal.StubCodec.reencode]]'s byte math: keep
    * every byte's high nibble, replace the low nibble with (hi + 7) mod 16.
    * Byte-identical to the JVM codec path (spec-asserted). */
  def stubReencode(payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](payload.length)
    var i = 0
    while (i < out.length) {
      val hi = (payload(i) >> 4) & 0xf
      out(i) = ((hi << 4) | ((hi + 7) % 16)).toByte
      i += 1
    }
    out
  }

  /** Decoded-domain 64-bit phash: SimHash over OVERLAPPING windowChars-char
    * windows (stride 1) of the decoded SIGNAL — one hex char per byte, the
    * byte's high nibble ([[graft.llmdata.Multimodal.StubCodec.decodeSignal]]).
    * BIT-IDENTICAL to `simhash64(transform(sequence(1, greatest(len-w+1, 1)),
    * i -> substr(signal, i, w)))` (the mm6 oracle's form) without the
    * signal string or gram array: the composable form's per-window substr
    * over the full signal is O(len) each (O(len²)/row total); this is one
    * signal-bytes pass plus O(len·w) window digests. */
  def decodedPhash64(payload: Array[Byte], windowChars: Int): UTF8String = {
    val nbits = 64
    val votes = new Array[Int](nbits)
    val d = md5()
    val n = payload.length
    val sig = new Array[Byte](n)
    var i = 0
    while (i < n) {
      sig(i) = hexDigits((payload(i) >> 4) & 0xf).toByte
      i += 1
    }
    // substr semantics of the composable form: windows = max(len-w+1, 1);
    // a signal shorter than one window yields one CLIPPED gram
    val nWin = math.max(n - (windowChars - 1), 1)
    i = 0
    while (i < nWin) {
      d.reset()
      d.update(sig, i, math.min(windowChars, n - i))
      voteBits(d.digest(), votes, nbits)
      i += 1
    }
    emitBits(votes)
  }

  /** MinHash signature: element s is min over grams of
    * md5(s + ":" + gram) as hex (lexicographic min == numeric min on
    * fixed-width hex). */
  /** Winnowing fingerprints (Schleimer et al. 2003) of a word array in ONE
    * JVM pass: k-word gram hashes (first 15 md5 hex chars as a 60-bit
    * long — the engine's standard gram-hash convention), a monotonic-deque
    * sliding minimum over windows of w grams, distinct selected values,
    * sorted ascending. BIT-IDENTICAL to the composable form
    * `sort_array(array_distinct(transform(sequence(1, greatest(nGrams−w+1, 1)),
    * j -> array_min(slice(hashes, j, w)))))` with
    * `hashes = transform(sequence(1, nWords−k+1),
    * i -> conv(substring(md5(concat_ws(' ', slice(words, i, k))), 1, 15), 16, 10))`
    * — which interpreted to ~nGrams·w lambda frames and a fresh slice
    * array per window (the dd24 hot path: 10 s → sub-second at sf0.01).
    * Fewer than k words → empty array (callers filter; kept total). */
  /** The k-word gram hashes behind [[winnowFps]] (and, standalone,
    * [[gramHashes]]): per position, md5 of the space-joined k words,
    * first 15 hex chars (7 full bytes + the high nibble of the 8th) as a
    * 60-bit long — bit-identical to
    * `conv(substring(md5(concat_ws(' ', slice(words, i, k))), 1, 15), 16, 10)
    * .cast(long)`. Returns an empty array for fewer than k words. */
  private def gramHashes60(words: ArrayData, k: Int): Array[Long] = {
    val d = md5()
    val nWords = words.numElements()
    val nGrams = nWords - k + 1
    if (nGrams <= 0) return Array.empty[Long]
    val h = new Array[Long](nGrams)
    val sp = " ".getBytes(StandardCharsets.US_ASCII)
    var i = 0
    while (i < nGrams) {
      d.reset()
      var j = 0
      while (j < k) {
        if (j > 0) d.update(sp)
        // concat_ws skips nulls without a separator gap; fixture words
        // are non-null, but mirror the composable semantics anyway
        if (!words.isNullAt(i + j)) d.update(words.getUTF8String(i + j).getBytes)
        j += 1
      }
      val dig = d.digest()
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (dig(b) & 0xffL); b += 1 }
      h(i) = (v << 4) | ((dig(7) >> 4) & 0xfL)
      i += 1
    }
    h
  }

  /** Standalone gram-hash array (the [[gramHashes60]] convention) — one
    * JVM loop per row instead of an interpreted transform evaluating an
    * md5+conv expression tree per gram (cur11's 10M-bigram feature
    * stream at sf0.1). */
  def gramHashes(words: ArrayData, k: Int): ArrayData =
    new GenericArrayData(gramHashes60(words, k))

  /** SORTED DISTINCT 60-bit hashes of an array of gram STRINGS — the
    * engine's standard gram-hash convention (first 15 md5 hex chars as a
    * long), bit-identical to `sort_array(array_distinct(transform(grams,
    * g -> conv(substring(md5(g), 1, 15), 16, 10).cast(long))))` in one
    * JVM loop (dd6's verify sides evaluated that interpreted tree per
    * document per consumer). A null ELEMENT throws: the composable form
    * maps it to null and array_distinct keeps one null, so silently
    * skipping it here would change set sizes (containment/Jaccard
    * denominators) for any future caller with null grams — the engine's
    * gram generators never emit null elements, and a violation must fail
    * loudly instead of skewing similarity scores (r19 ADVICE). */
  def hashedGramSet(grams: ArrayData): ArrayData = {
    val d = md5()
    val n = grams.numElements()
    val h = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (grams.isNullAt(i))
        throw new IllegalArgumentException(
          "hashed_gram_set: null gram element (the composable equivalent " +
          "keeps one null in the distinct set; this primitive requires " +
          "non-null grams — fix the gram generator)")
      val dig = d.digest(grams.getUTF8String(i).getBytes)
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (dig(b) & 0xffL); b += 1 }
      h(m) = (v << 4) | ((dig(7) >> 4) & 0xfL)
      m += 1
      i += 1
    }
    val trimmed = java.util.Arrays.copyOf(h, m)
    java.util.Arrays.sort(trimmed)
    // distinct on the sorted array
    var out = trimmed
    if (m > 1) {
      var w = 1
      var r = 1
      while (r < m) {
        if (trimmed(r) != trimmed(w - 1)) { trimmed(w) = trimmed(r); w += 1 }
        r += 1
      }
      if (w != m) out = java.util.Arrays.copyOf(trimmed, w)
    }
    new GenericArrayData(out)
  }

  def winnowFps(words: ArrayData, k: Int, w: Int): ArrayData = {
    val nGrams0 = words.numElements() - k + 1
    if (nGrams0 <= 0) return new GenericArrayData(Array.empty[Long])
    val h = gramHashes60(words, k)
    val nGrams = h.length
    // sliding minimum via monotonic deque (indices, increasing values)
    val deque = new Array[Int](nGrams)
    var head = 0
    var tail = 0 // exclusive
    val seen = new java.util.HashSet[Long]()
    var g = 0
    while (g < nGrams) {
      while (tail > head && h(deque(tail - 1)) >= h(g)) tail -= 1
      deque(tail) = g; tail += 1
      val winStart = g - w + 1
      while (deque(head) < winStart) head += 1
      // a window completes at g = start + w - 1; the final (possibly
      // short) window of a <w-gram doc completes at the last gram
      if (g >= w - 1 || g == nGrams - 1) seen.add(h(deque(head)))
      g += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  def minhashSig(grams: ArrayData, numHashes: Int): ArrayData = {
    val d = md5()
    val mins = new Array[String](numHashes)
    val n = grams.numElements()
    var s = 0
    while (s < numHashes) {
      val prefix = (s.toString + ":").getBytes(StandardCharsets.US_ASCII)
      var best: String = null
      var g = 0
      while (g < n) {
        if (!grams.isNullAt(g)) {
          d.reset()
          d.update(prefix)
          val hex = toHex(d.digest(grams.getUTF8String(g).getBytes))
          if (best == null || hex.compareTo(best) < 0) best = hex
        }
        g += 1
      }
      mins(s) = best
      s += 1
    }
    new GenericArrayData(mins.map(m => if (m == null) null else UTF8String.fromString(m)))
  }

  /** Content-defined chunks of a byte payload in ONE JVM pass (the
    * LBFS/rsync rolling rule): cut after 1-based byte position i
    * (4 ≤ i ≤ n) when the 4-byte window polynomial
    * b[i−3]·31³ + b[i−2]·31² + b[i−1]·31 + b[i] (unsigned byte values)
    * ≡ 0 mod divisor; emits (md5-hex, byte-len) of every between-cut
    * slice in payload order, zero-length tails dropped. Everything is
    * BYTE-indexed — length, window, cut positions, and the md5 input are
    * all over the raw payload bytes (the r12 char/byte-mixing fix), so
    * the contract holds for arbitrary non-ASCII payloads, not just the
    * ASCII fixture. Bit-identical on any payload to the staged explode
    * form [[graft.llmdata.Multimodal.cdcChunkRowsStaged]] it replaces in
    * the battery (A/B parity spec): the staged form generates one row per
    * payload byte through six expressions; this is one eval per document.
    */
  def cdcChunks(bin: Array[Byte], divisor: Int): ArrayData = {
    val n = bin.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](
      math.max(4, n / divisor + 2))
    val d = md5()
    def emit(off: Int, len: Int): Unit = {
      d.reset()
      d.update(bin, off, len)
      out += org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(toHex(d.digest())), len.toLong)
    }
    var start = 0
    var i = 3
    while (i < n) {
      val h = (bin(i - 3) & 0xff) * 29791 + (bin(i - 2) & 0xff) * 961 +
        (bin(i - 1) & 0xff) * 31 + (bin(i) & 0xff)
      if (h % divisor == 0) { emit(start, i + 1 - start); start = i + 1 }
      i += 1
    }
    if (n - start > 0) emit(start, n - start)
    new GenericArrayData(out.toArray)
  }

  /** Count of positions where the (equal-length) strings differ; compares
    * raw UTF-8 bytes — exact for the ASCII bit strings it is used on. */
  def hamming(a: UTF8String, b: UTF8String): Long = {
    val ab = a.getBytes
    val bb = b.getBytes
    val n = math.min(ab.length, bb.length)
    var d = math.abs(ab.length - bb.length).toLong
    var i = 0
    while (i < n) {
      if (ab(i) != bb(i)) d += 1
      i += 1
    }
    d
  }

  /** Jaro-Winkler similarity, matched to DuckDB's `jaro_winkler_similarity`
    * semantics (probed empirically and pinned by the fm6 oracle): empty
    * input on EITHER side → 0.0 (even both-empty); match window
    * max(⌊max(|a|,|b|)/2⌋−1, 0); transpositions = half the mismatched
    * positions among the matched subsequences; Winkler prefix boost
    * (ℓ ≤ 4, p = 0.1) applied only when jaro > 0.7 — the classic boost
    * threshold. Returns a double; query-level parity quantizes to
    * micro-units, so a last-ULP divergence between this JVM arithmetic
    * and DuckDB's C++ cannot flip the hash. UTF-16 chars — identical to
    * per-character semantics on the ASCII fixture strings. */
  def jaroWinkler(au: UTF8String, bu: UTF8String): Double = {
    val a = au.toString
    val b = bu.toString
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    if (a == b) return 1.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val ma = new Array[Boolean](la)
    val mb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!mb(j) && a.charAt(i) == b.charAt(j)) {
          ma(i) = true; mb(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var half = 0
    var k = 0
    i = 0
    while (i < la) {
      if (ma(i)) {
        while (!mb(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) half += 1
        k += 1
      }
      i += 1
    }
    val t = half / 2
    val jaro = (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val lmax = math.min(4, math.min(la, lb))
    while (l < lmax && a.charAt(l) == b.charAt(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }

  /** Unrestricted Damerau-Levenshtein distance (Lowrance-Wagner): edit
    * distance where adjacent-transposition is a first-class unit edit and
    * — unlike the optimal-string-alignment restriction — a transposed pair
    * may be edited again (DL("ca","abc") = 2, OSA gives 3). This is the
    * variant DuckDB's `damerau_levenshtein` implements, which the fm4
    * oracle compares against; parity is exact because the distance is an
    * integer. Operates on UTF-16 chars — identical to per-character
    * semantics on the ASCII fixture strings it runs over. */
  def damerauLevenshtein(au: UTF8String, bu: UTF8String): Long = {
    val a = au.toString
    val b = bu.toString
    val m = a.length
    val n = b.length
    if (m == 0) return n.toLong
    if (n == 0) return m.toLong
    val inf = m + n
    // H is (m+2) x (n+2), row-major
    val w = n + 2
    val h = new Array[Int]((m + 2) * w)
    h(0) = inf
    var i = 0
    while (i <= m) { h((i + 1) * w) = inf; h((i + 1) * w + 1) = i; i += 1 }
    var j = 0
    while (j <= n) { h(j + 1) = inf; h(w + j + 1) = j; j += 1 }
    // last row in `a` (1-based) where each char was seen
    val da = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= m) {
      var db = 0
      j = 1
      while (j <= n) {
        val k = { val v = da.get(b.charAt(j - 1)); if (v == null) 0 else v.intValue() }
        val l = db
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) { db = j; 0 } else 1
        val sub = h(i * w + j) + cost
        val ins = h((i + 1) * w + j) + 1
        val del = h(i * w + j + 1) + 1
        val trans = h(k * w + l) + (i - k - 1) + 1 + (j - l - 1)
        var best = sub
        if (ins < best) best = ins
        if (del < best) best = del
        if (trans < best) best = trans
        h((i + 1) * w + j + 1) = best
        j += 1
      }
      da.put(a.charAt(i - 1), i)
      i += 1
    }
    h((m + 1) * w + n + 1).toLong
  }

  /** Jaccard similarity of two distinct-element string arrays. */
  def jaccardDistinct(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val set = new java.util.HashSet[UTF8String](na * 2)
    var i = 0
    while (i < na) {
      if (!a.isNullAt(i)) set.add(a.getUTF8String(i))
      i += 1
    }
    var inter = 0
    var j = 0
    while (j < nb) {
      if (!b.isNullAt(j) && set.contains(b.getUTF8String(j))) inter += 1
      j += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
  }

  /** tx15's stub-classifier weight table, precomputed once per JVM: for
    * bucket b ∈ [0, 4096), w(b) = (first 12 bits of md5("w:" || b)) / 4096
    * − 0.5 — bit-identical to the per-token column expression it replaces
    * (integer-valued numerator, /2^12 only shifts the exponent, one
    * subtraction), just not re-derived via a second md5 per TOKEN. */
  private lazy val clfWeights: Array[Double] = {
    val t = new Array[Double](4096)
    val d = md5()
    var b = 0
    while (b < 4096) {
      val h = d.digest(("w:" + b).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val v = ((h(0) & 0xff) << 4) | ((h(1) & 0xff) >>> 4)
      t(b) = v.toDouble / 4096 - 0.5
      b += 1
    }
    t
  }

  /** tx15's whole scoring fold as ONE JVM loop: per token, md5 → 12-bit
    * bucket → table weight, left-fold in index order from 0.0 — the exact
    * accumulation tree of `aggregate(w, 0.0, (acc, t) -> acc + weight(t))`
    * with the interpreted lambda (and the second md5 per token) removed.
    * Returns null (boxed) when any element is null, matching null
    * propagation through `+`. */
  def clfTotal(tokens: ArrayData): java.lang.Double = {
    val n = tokens.numElements()
    val d = md5()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) return null
      val h = d.digest(tokens.getUTF8String(i).getBytes)
      val b = ((h(0) & 0xff) << 4) | ((h(1) & 0xff) >>> 4)
      acc += clfWeights(b)
      i += 1
    }
    acc
  }

  /** All i<j pairs of a sorted long array as array<struct<a,b>> — the
    * capped-bucket candidate generator's inner loop (C(cap,2) ≤ 1225
    * entries per bucket) as one JVM pass. Returns null below 2 elements,
    * matching the composable `when(n >= 2, flatten(transform(...)))`
    * guard (explode_outer's null row is dropped by the verify equi-join,
    * exactly as before). */
  def sortedPairs(docs: ArrayData): ArrayData = {
    val n = docs.numElements()
    if (n < 2) return null
    val out = new Array[Any](n * (n - 1) / 2)
    var idx = 0
    var i = 0
    while (i < n) {
      val a = docs.getLong(i)
      var j = i + 1
      while (j < n) {
        out(idx) = org.apache.spark.sql.catalyst.InternalRow(a, docs.getLong(j))
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Intersection COUNT of two SORTED distinct long arrays by merge walk
    * — the shared primitive behind [[jaccardSortedLong]], exposed on its
    * own for verifiers that derive several measures (containment in each
    * direction, Jaccard) from the one count (dd20). */
  def interSortedLong(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }

  /** Jaccard of two SORTED distinct long arrays by merge walk — no
    * hashing at all per comparison (the candidate-verification hot path
    * runs this millions of times per corpus). */
  def jaccardSortedLong(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
  }
}

/** Native SimHash of a token array (bit width 32 or 64) — replaces nbits
  * interpreted `aggregate` higher-order calls per row with one JVM loop
  * (SURVEY.md §7.3 rationale; bit parity asserted by the dd4/dd5 oracle
  * checks). 64-bit is the scale default: banded 4×16 it yields 65,536
  * bucket values per block vs 32-bit's 256, keeping near-dup candidate
  * buckets O(n/65536) instead of O(n/256). */
case class SimHashBits(child: Expression, nbits: Int) extends UnaryExpression {
  require(nbits == 32 || nbits == 64, s"simhash width must be 32 or 64, got $nbits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash$nbits requires array<string>, got ${t.catalogString}")
  }

  override def dataType: DataType = StringType
  override def prettyName: String = s"simhash$nbits"

  override def nullSafeEval(tokens: Any): Any =
    TextHashUtil.simhashBits(tokens.asInstanceOf[ArrayData], nbits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextHashUtil.simhashBits($a, $nbits)")

  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}

/** Native 64-bit payload perceptual hash — the binary-input twin of
  * [[SimHashBits]] for mm5's overlapping-window signatures: one JVM loop
  * with a reused window buffer instead of hex(payload) + a ~len-element
  * gram array per row (the composable form's cold build was ~10 s at
  * sf0.1; parity with it is spec-asserted and the oracle is unchanged). */
case class PayloadPhash(child: Expression, windowBytes: Int)
    extends UnaryExpression {
  require(windowBytes >= 1, s"window must be >= 1 byte, got $windowBytes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"phash64 requires binary, got ${t.catalogString}")
  }

  override def dataType: DataType = StringType
  override def prettyName: String = "phash64"

  override def nullSafeEval(payload: Any): Any =
    TextHashUtil.phash64(payload.asInstanceOf[Array[Byte]], windowBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.TextHashUtil.phash64($a, $windowBytes)")

  override protected def withNewChildInternal(newChild: Expression): PayloadPhash =
    copy(child = newChild)
}

/** Native stub-codec re-encode (mm6's variant builder) — the codec seam's
  * byte transform as one codegen'd JVM loop. The composable twin
  * ([[graft.llmdata.Multimodal.reencodedHex]]) pays an O(len) substr per
  * output char (O(len²)/row); parity with it and with the JVM
  * StubCodec.reencode path is spec-asserted. */
case class StubReencodeExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"stub_reencode requires binary, got ${t.catalogString}")
  }

  override def dataType: DataType = BinaryType
  override def prettyName: String = "stub_reencode"

  override def nullSafeEval(payload: Any): Any =
    TextHashUtil.stubReencode(payload.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextHashUtil.stubReencode($a)")

  override protected def withNewChildInternal(newChild: Expression): StubReencodeExpr =
    copy(child = newChild)
}

/** Native decoded-domain perceptual hash — [[PayloadPhash]]'s twin with the
  * stub decode fused in front (signal = high nibble per byte), for mm6's
  * signatures. */
case class DecodedPhash(child: Expression, windowChars: Int)
    extends UnaryExpression {
  require(windowChars >= 1, s"window must be >= 1 char, got $windowChars")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"decoded_phash64 requires binary, got ${t.catalogString}")
  }

  override def dataType: DataType = StringType
  override def prettyName: String = "decoded_phash64"

  override def nullSafeEval(payload: Any): Any =
    TextHashUtil.decodedPhash64(payload.asInstanceOf[Array[Byte]], windowChars)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.TextHashUtil.decodedPhash64($a, $windowChars)")

  override protected def withNewChildInternal(newChild: Expression): DecodedPhash =
    copy(child = newChild)
}

/** Native MinHash signature of a shingle array (k seed-tagged md5 minima).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<string>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(grams: Any): Any =
    TextHashUtil.minhashSig(grams.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.TextHashUtil.minhashSig($a, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Native winnowing fingerprints of a word array (sorted distinct window
  * minima of k-gram hashes) — see [[TextHashUtil.winnowFps]]. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow_fps requires array<string>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def nullSafeEval(words: Any): Any =
    TextHashUtil.winnowFps(words.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.TextHashUtil.winnowFps($a, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

/** Native content-defined chunking of a binary payload: array of
  * (md5-hex, byte-len) chunk structs — see [[TextHashUtil.cdcChunks]]. */
case class CdcChunkList(child: Expression, divisor: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks requires binary, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("h", StringType, nullable = false),
      StructField("len", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(payload: Any): Any =
    TextHashUtil.cdcChunks(payload.asInstanceOf[Array[Byte]], divisor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.TextHashUtil.cdcChunks($a, $divisor)")

  override protected def withNewChildInternal(newChild: Expression): CdcChunkList =
    copy(child = newChild)
}

/** Native hamming distance between equal-length strings (bit strings here).
  * Replaces `size(filter(sequence(1,n), i -> substr(a,i,1) <> substr(b,i,1)))`
  * — per-character interpreted lambdas over millions of candidate pairs. */
case class HammingDistance(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hamming requires (string, string), got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "hamming"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashUtil.hamming(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashUtil.hamming($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDistance =
    copy(left = newLeft, right = newRight)
}

/** Native Jaccard similarity of two distinct-element string arrays:
  * |A∩B| / (|A|+|B|-|A∩B|) in one hash-set pass — identical integer counts
  * (and the identical final double division) as
  * `size(array_intersect)/size(array_union)` on distinct inputs. */
case class JaccardSimilarity(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"jaccard requires (array<string>, array<string>), got " +
        s"${l.catalogString}, ${r.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashUtil.jaccardDistinct(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashUtil.jaccardDistinct($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Jaccard over SORTED distinct array<long> (hashed shingles): a merge
  * walk instead of a per-pair hash-set build — same |A∩B|/(|A|+|B|-|A∩B|)
  * math as [[JaccardSimilarity]], an order of magnitude cheaper on the
  * million-pair verification stage. Inputs MUST be sorted ascending and
  * distinct (callers sort once per document, not once per pair). */
case class JaccardSortedLong(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"jaccard_sorted requires (array<bigint>, array<bigint>), got " +
        s"${l.catalogString}, ${r.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashUtil.jaccardSortedLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashUtil.jaccardSortedLong($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSortedLong =
    copy(left = newLeft, right = newRight)
}

/** k-word gram hashes as a native codegen expression — array<long> of
  * 60-bit md5-prefix hashes (the winnowing convention), one JVM loop per
  * row. Replaces an interpreted `transform(sequence(...), i -> conv(
  * substring(md5(concat_ws(' ', ...)), 1, 15), 16, 10))` tree evaluated
  * per gram (cur11's feature stream). */
case class GramHashArray(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"gram width must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"gram_hashes requires array<string>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = s"gram_hashes$k"

  override def nullSafeEval(words: Any): Any =
    TextHashUtil.gramHashes(words.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, w => s"graft.functions.TextHashUtil.gramHashes($w, $k)")

  override protected def withNewChildInternal(newChild: Expression): GramHashArray =
    copy(child = newChild)
}

/** i<j candidate pairs off a sorted capped posting list — see
  * [[TextHashUtil.sortedPairs]]. Output array<struct<doc_a,doc_b>>;
  * i<j positions of a sorted array ⇒ doc_a < doc_b, so each bucket is
  * bounded at C(cap, 2) pairs with no per-element lambda frames (the
  * composable nested transform interpreted ~1.3M struct builds per dd6
  * run at sf0.1). */
case class SortedPairGen(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sorted_pairs requires array<bigint>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("doc_a", LongType, nullable = false),
    StructField("doc_b", LongType, nullable = false))), containsNull = false)
  // nullSafeEval returns null for n<2 buckets (the COMMON case) even when
  // the child is non-nullable (Collect.nullable = false feeds this via
  // slice∘sort_array∘collect_list) — without this override the expression
  // would report child.nullable and nullSafeCodeGen's non-nullable branch
  // would emit `false = true;` (a codegen compile error → silent
  // interpreted fallback), and IsNull/IsNotNull could mis-fold (r19
  // ADVICE).
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_pairs"

  override def nullSafeEval(docs: Any): Any =
    TextHashUtil.sortedPairs(docs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => s"""
      org.apache.spark.sql.catalyst.util.ArrayData r =
        graft.functions.TextHashUtil.sortedPairs($d);
      if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r; }
    """)

  override protected def withNewChildInternal(newChild: Expression): SortedPairGen =
    copy(child = newChild)
}

/** Sorted distinct 60-bit gram-hash SET of an array<string> — see
  * [[TextHashUtil.hashedGramSet]]; the per-document side input of the
  * sorted-merge verify tier (dd6/dd20). */
case class HashedGramSet(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hashed_gram_set requires array<string>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_gram_set"

  override def nullSafeEval(grams: Any): Any =
    TextHashUtil.hashedGramSet(grams.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, g => s"graft.functions.TextHashUtil.hashedGramSet($g)")

  override protected def withNewChildInternal(newChild: Expression): HashedGramSet =
    copy(child = newChild)
}

/** tx15's classifier fold as a native codegen expression — one JVM loop
  * per row instead of an interpreted `aggregate` lambda evaluating two
  * md5 column-expression trees per token (the §7.3 rationale; bit parity
  * is pinned by the tx15/cur5/cur5b/cur6 oracle hashes, which this
  * expression feeds unchanged). */
case class ClfScoreTotal(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"clf_total requires array<string>, got ${t.catalogString}")
  }

  override def dataType: DataType = DoubleType
  // clfTotal returns null on a null token element regardless of the
  // child's nullability — same latent codegen/null-folding mismatch as
  // SortedPairGen (r19 ADVICE); report nullable unconditionally.
  override def nullable: Boolean = true
  override def prettyName: String = "clf_total"

  override def nullSafeEval(tokens: Any): Any =
    TextHashUtil.clfTotal(tokens.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => s"""
      java.lang.Double r = graft.functions.TextHashUtil.clfTotal($t);
      if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r.doubleValue(); }
    """)

  override protected def withNewChildInternal(newChild: Expression): ClfScoreTotal =
    copy(child = newChild)
}

/** Intersection count over SORTED distinct array<long> — the merge-walk
  * primitive of [[JaccardSortedLong]] returning the raw |A∩B| so a
  * verifier can derive directed containments AND Jaccard from one walk
  * (dd20's three `array_intersect` evaluations per pair collapsed to one
  * codegen call). Inputs MUST be sorted ascending and distinct. */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"inter_sorted requires (array<bigint>, array<bigint>), got " +
        s"${l.catalogString}, ${r.catalogString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "inter_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashUtil.interSortedLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashUtil.interSortedLong($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountSorted =
    copy(left = newLeft, right = newRight)
}

/** Native unrestricted Damerau-Levenshtein distance — the linkage metric
  * that charges an adjacent-character SWAP (the classic hand-entry typo)
  * one edit where plain Levenshtein charges two. Spark ships `levenshtein`
  * but no Damerau variant; this is the (b)-tier custom-Expression path
  * (compose > Expression > custom plan) with codegen via a static JVM
  * call, so the fm4 verification stage stays inside WholeStageCodegen. */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"damerau requires (string, string), got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "damerau"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashUtil.damerauLevenshtein(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashUtil.damerauLevenshtein($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DamerauLevenshtein =
    copy(left = newLeft, right = newRight)
}

/** Native Jaro-Winkler similarity — the record-linkage metric built for
  * short name fields (Winkler 1990, census record linkage), codegen'd like
  * [[DamerauLevenshtein]]. Spark ships levenshtein but neither Jaro nor
  * Jaro-Winkler; DuckDB's built-in `jaro_winkler_similarity` is the fm6
  * oracle twin. */
case class JaroWinklerSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaro_winkler requires (string, string), got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashUtil.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashUtil.jaroWinkler($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerSim =
    copy(left = newLeft, right = newRight)
}

/** Column-API entry points. */
object TextHashFunctions {
  def simhash32(tokens: Column): Column =
    GraftColumn.of(SimHashBits(GraftColumn.expr(tokens), 32))
  def simhash64(tokens: Column): Column =
    GraftColumn.of(SimHashBits(GraftColumn.expr(tokens), 64))
  def minhashSig(grams: Column, numHashes: Int): Column =
    GraftColumn.of(MinHashSignature(GraftColumn.expr(grams), numHashes))
  def phash64(payload: Column, windowBytes: Int): Column =
    GraftColumn.of(PayloadPhash(GraftColumn.expr(payload), windowBytes))
  def stubReencode(payload: Column): Column =
    GraftColumn.of(StubReencodeExpr(GraftColumn.expr(payload)))
  def decodedPhash64(payload: Column, windowChars: Int): Column =
    GraftColumn.of(DecodedPhash(GraftColumn.expr(payload), windowChars))
  def hamming(a: Column, b: Column): Column =
    GraftColumn.of(HammingDistance(GraftColumn.expr(a), GraftColumn.expr(b)))
  def jaccard(a: Column, b: Column): Column =
    GraftColumn.of(JaccardSimilarity(GraftColumn.expr(a), GraftColumn.expr(b)))
  def jaccardSorted(a: Column, b: Column): Column =
    GraftColumn.of(JaccardSortedLong(GraftColumn.expr(a), GraftColumn.expr(b)))
  def interSorted(a: Column, b: Column): Column =
    GraftColumn.of(IntersectCountSorted(GraftColumn.expr(a), GraftColumn.expr(b)))
  def clfTotal(tokens: Column): Column =
    GraftColumn.of(ClfScoreTotal(GraftColumn.expr(tokens)))
  def gramHashes(words: Column, k: Int): Column =
    GraftColumn.of(GramHashArray(GraftColumn.expr(words), k))
  def hashedGramSet(grams: Column): Column =
    GraftColumn.of(HashedGramSet(GraftColumn.expr(grams)))
  def sortedPairs(docs: Column): Column =
    GraftColumn.of(SortedPairGen(GraftColumn.expr(docs)))
  def damerau(a: Column, b: Column): Column =
    GraftColumn.of(DamerauLevenshtein(GraftColumn.expr(a), GraftColumn.expr(b)))
  def jaroWinkler(a: Column, b: Column): Column =
    GraftColumn.of(JaroWinklerSim(GraftColumn.expr(a), GraftColumn.expr(b)))
  def winnowFps(words: Column, k: Int, w: Int): Column =
    GraftColumn.of(WinnowFingerprints(GraftColumn.expr(words), k, w))
  def cdcChunks(payload: Column, divisor: Int): Column =
    GraftColumn.of(CdcChunkList(GraftColumn.expr(payload), divisor))
  def ppmPixels(payload: Column): Column =
    GraftColumn.of(PpmPixels(GraftColumn.expr(payload)))
  def ppmReencode(payload: Column): Column =
    GraftColumn.of(PpmReencode(GraftColumn.expr(payload)))
  def ppmResizeHalf(payload: Column): Column =
    GraftColumn.of(PpmResizeHalf(GraftColumn.expr(payload)))
  def ppmFramePlanes(payload: Column): Column =
    GraftColumn.of(PpmFramePlanes(GraftColumn.expr(payload)))
}
