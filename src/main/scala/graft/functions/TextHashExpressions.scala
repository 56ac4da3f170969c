package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM helpers behind the native text-hash functions ([[TextHashFunctions]]:
  * static calls keep them inside WholeStageCodegen without inlining the md5
  * loops into generated Java). Semantics are EXACTLY the
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

  /** MinHash signature: element s is min over grams of
    * md5(s + ":" + gram) as hex (lexicographic min == numeric min on
    * fixed-width hex). */
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

/** Column-API entry points of the native helpers: each is one
  * [[GraftColumn.staticCall]] (Spark's `StaticInvoke`) of a helper in
  * [[TextHashUtil]], [[PpmUtil]], [[WavUtil]], [[BpeUtil]] or
  * [[BpeBytesUtil]]. Codegen emits the direct static call, so each stays
  * inside WholeStageCodegen; constant parameters travel as literals.
  * Native rather than composable for the SURVEY.md §7.3 reason: the
  * composable forms interpret a lambda (or an md5 expression tree) per
  * element per row. */
object TextHashFunctions {
  private val Strings = ArrayType(StringType)
  private val Longs = ArrayType(LongType)
  private val LongSet = ArrayType(LongType, containsNull = false)

  /** A constant parameter as a Catalyst literal (a `lit` column would stay
    * an unconverted column node on the SQL surface). */
  private def lit(n: Int): Column = GraftColumn.of(Literal(n))

  private def util(fn: String, out: DataType, args: Seq[Column],
      inputTypes: Seq[DataType], returnsNull: Boolean = false): Column =
    GraftColumn.staticCall(TextHashUtil, fn, out, args, inputTypes, returnsNull)

  /** Native SimHash of a token array (bit width 32 or 64) — replaces
    * nbits interpreted `aggregate` calls per row with one JVM loop (bit
    * parity asserted by the dd4/dd5 oracle checks). 64-bit is the scale
    * default: banded 4×16 it yields 65,536 bucket values per block vs
    * 32-bit's 256, keeping near-dup candidate buckets O(n/65536) instead
    * of O(n/256). */
  def simhash32(tokens: Column): Column = simhash(tokens, 32)
  def simhash64(tokens: Column): Column = simhash(tokens, 64)
  private def simhash(tokens: Column, nbits: Int): Column =
    util("simhashBits", StringType, Seq(tokens, lit(nbits)), Seq(Strings, IntegerType))

  /** Native MinHash signature of a shingle array (k seed-tagged md5 minima). */
  def minhashSig(grams: Column, numHashes: Int): Column =
    util("minhashSig", Strings, Seq(grams, lit(numHashes)), Seq(Strings, IntegerType))

  /** Native 64-bit payload perceptual hash — the binary-input twin of
    * simhash64 for mm5's overlapping-window signatures: one JVM loop with
    * a reused window buffer instead of hex(payload) + a ~len-element gram
    * array per row (the composable form's cold build was ~10 s at sf0.1;
    * parity with it is spec-asserted and the oracle is unchanged). */
  def phash64(payload: Column, windowBytes: Int): Column = {
    require(windowBytes >= 1, s"window must be >= 1 byte, got $windowBytes")
    util("phash64", StringType, Seq(payload, lit(windowBytes)), Seq(BinaryType, IntegerType))
  }

  /** Native stub-codec re-encode (mm6's variant builder) — the codec
    * seam's byte transform as one JVM loop. The composable twin
    * ([[graft.llmdata.Multimodal.reencodedHex]]) pays an O(len) substr per
    * output char (O(len²)/row); parity with it and with the JVM
    * StubCodec.reencode path is spec-asserted. */
  def stubReencode(payload: Column): Column =
    util("stubReencode", BinaryType, Seq(payload), Seq(BinaryType))

  /** Native decoded-domain perceptual hash — [[phash64]]'s twin with the
    * stub decode fused in front (signal = high nibble per byte), for
    * mm6's signatures. */
  def decodedPhash64(payload: Column, windowChars: Int): Column = {
    require(windowChars >= 1, s"window must be >= 1 char, got $windowChars")
    util("decodedPhash64", StringType, Seq(payload, lit(windowChars)),
      Seq(BinaryType, IntegerType))
  }

  /** Native hamming distance between equal-length strings (bit strings
    * here). Replaces `size(filter(sequence(1,n), i -> substr(a,i,1) <>
    * substr(b,i,1)))` — per-character interpreted lambdas over millions of
    * candidate pairs. */
  def hamming(a: Column, b: Column): Column =
    util("hamming", LongType, Seq(a, b), Seq(StringType, StringType))

  /** Native Jaccard similarity of two distinct-element string arrays:
    * |A∩B| / (|A|+|B|-|A∩B|) in one hash-set pass — identical integer
    * counts (and the identical final double division) as
    * `size(array_intersect)/size(array_union)` on distinct inputs. */
  def jaccard(a: Column, b: Column): Column =
    util("jaccardDistinct", DoubleType, Seq(a, b), Seq(Strings, Strings))

  /** Jaccard over SORTED distinct array<long> (hashed shingles): a merge
    * walk instead of a per-pair hash-set build — same math as [[jaccard]],
    * an order of magnitude cheaper on the million-pair verification stage.
    * Inputs MUST be sorted ascending and distinct (callers sort once per
    * document, not once per pair). */
  def jaccardSorted(a: Column, b: Column): Column =
    util("jaccardSortedLong", DoubleType, Seq(a, b), Seq(Longs, Longs))

  /** Intersection count over SORTED distinct array<long> — the merge-walk
    * primitive of [[jaccardSorted]] returning the raw |A∩B| so a verifier
    * can derive directed containments AND Jaccard from one walk (dd20's
    * three `array_intersect` evaluations per pair collapsed to one call).
    * Inputs MUST be sorted ascending and distinct. */
  def interSorted(a: Column, b: Column): Column =
    util("interSortedLong", LongType, Seq(a, b), Seq(Longs, Longs))

  /** tx15's classifier fold as one JVM loop per row instead of an
    * interpreted `aggregate` lambda evaluating two md5 column-expression
    * trees per token (bit parity is pinned by the tx15/cur5/cur5b/cur6
    * oracle hashes, which this call feeds unchanged). Null on a null token
    * element whatever the input's nullability, so the result is nullable. */
  def clfTotal(tokens: Column): Column =
    util("clfTotal", DoubleType, Seq(tokens), Seq(Strings), returnsNull = true)

  /** k-word gram hashes: array<long> of 60-bit md5-prefix hashes (the
    * winnowing convention), one JVM loop per row. Replaces an interpreted
    * `transform(sequence(...), i -> conv(substring(md5(concat_ws(' ',
    * ...)), 1, 15), 16, 10))` tree evaluated per gram (cur11's feature
    * stream). */
  def gramHashes(words: Column, k: Int): Column =
    util("gramHashes", LongSet, Seq(words, lit(k)), Seq(Strings, IntegerType))

  /** Sorted distinct 60-bit gram-hash SET of an array<string> — the
    * per-document side input of the sorted-merge verify tier (dd6/dd20). */
  def hashedGramSet(grams: Column): Column =
    util("hashedGramSet", LongSet, Seq(grams), Seq(Strings))

  /** i<j candidate pairs off a sorted capped posting list as
    * array<struct<doc_a,doc_b>>; i<j positions of a sorted array ⇒
    * doc_a < doc_b, so each bucket is bounded at C(cap, 2) pairs with no
    * per-element lambda frames (the composable nested transform
    * interpreted ~1.3M struct builds per dd6 run at sf0.1). Null for
    * buckets of fewer than 2 elements (the COMMON case) even when the
    * input is non-nullable, so the result is nullable. */
  def sortedPairs(docs: Column): Column =
    util("sortedPairs",
      ArrayType(StructType(Seq(
        StructField("doc_a", LongType, nullable = false),
        StructField("doc_b", LongType, nullable = false))), containsNull = false),
      Seq(docs), Seq(Longs), returnsNull = true)

  /** Native unrestricted Damerau-Levenshtein distance — the linkage metric
    * that charges an adjacent-character SWAP (the classic hand-entry typo)
    * one edit where plain Levenshtein charges two. Spark ships
    * `levenshtein` but no Damerau variant; a static JVM call keeps the fm4
    * verification stage inside WholeStageCodegen. */
  def damerau(a: Column, b: Column): Column =
    util("damerauLevenshtein", LongType, Seq(a, b), Seq(StringType, StringType))

  /** Native Jaro-Winkler similarity — the record-linkage metric built for
    * short name fields (Winkler 1990, census record linkage). Spark ships
    * levenshtein but neither Jaro nor Jaro-Winkler; DuckDB's built-in
    * `jaro_winkler_similarity` is the fm6 oracle twin. */
  def jaroWinkler(a: Column, b: Column): Column =
    util("jaroWinkler", DoubleType, Seq(a, b), Seq(StringType, StringType))

  /** Native winnowing fingerprints of a word array (sorted distinct window
    * minima of k-gram hashes) — see [[TextHashUtil.winnowFps]]. */
  def winnowFps(words: Column, k: Int, w: Int): Column =
    util("winnowFps", LongSet, Seq(words, lit(k), lit(w)),
      Seq(Strings, IntegerType, IntegerType))

  /** Native content-defined chunking of a binary payload: array of
    * (md5-hex, byte-len) chunk structs — see [[TextHashUtil.cdcChunks]]. */
  def cdcChunks(payload: Column, divisor: Int): Column =
    util("cdcChunks",
      ArrayType(StructType(Seq(
        StructField("h", StringType, nullable = false),
        StructField("len", LongType, nullable = false))), containsNull = false),
      Seq(payload, lit(divisor)), Seq(BinaryType, IntegerType))

  // The real codecs below decode malformed payloads to null (the
  // DLQ-friendly contract), so their results are nullable.

  private def ppm(fn: String, out: DataType, payload: Column): Column =
    GraftColumn.staticCall(PpmUtil, fn, out, Seq(payload), Seq(BinaryType),
      returnsNull = true)

  /** The decoded pixel plane of a P6 payload (null if not valid P6). */
  def ppmPixels(payload: Column): Column = ppm("pixels", BinaryType, payload)

  /** Re-serialized P6 with an added header comment: identical pixel plane,
    * different file bytes (null if not valid P6). */
  def ppmReencode(payload: Column): Column = ppm("reencode", BinaryType, payload)

  /** The box-downsampled P6 file (null if not valid P6): see
    * [[PpmUtil.resizeHalf]]. */
  def ppmResizeHalf(payload: Column): Column = ppm("resizeHalf", BinaryType, payload)

  /** array<binary> of decoded per-frame pixel planes of a concatenated-P6
    * stream (null if any frame is malformed): see [[PpmUtil.framePlanes]]. */
  def ppmFramePlanes(payload: Column): Column =
    ppm("framePlaneArray", ArrayType(BinaryType, containsNull = false), payload)

  /** struct(sample_rate INT, n_samples INT, energy BIGINT, peak_abs INT,
    * zero_crossings INT) — null if the payload is not canonical PCM16 mono
    * WAVE: see [[WavUtil.features]]. */
  def wavFeatures(payload: Column): Column =
    GraftColumn.staticCall(WavUtil, "featureRow",
      StructType(Seq(
        StructField("sample_rate", IntegerType, nullable = false),
        StructField("n_samples", IntegerType, nullable = false),
        StructField("energy", LongType, nullable = false),
        StructField("peak_abs", IntegerType, nullable = false),
        StructField("zero_crossings", IntegerType, nullable = false))),
      Seq(payload), Seq(BinaryType), returnsNull = true)

  /** array<string> of BPE tokens under the first-`nMerges` prefix of the
    * trained char table (default: the mid-band band prefix); see
    * [[BpeUtil]]. The prefix is checked here, at plan time, because the
    * SQL surface passes it in. */
  def bpeEncode(text: Column, nMerges: Int = BpeTable.Char.bandN): Column = {
    BpeTable.Char.prefix(nMerges, "bpe_encode")
    GraftColumn.staticCall(BpeUtil, "encodeText",
      ArrayType(StringType, containsNull = false), Seq(text, lit(nMerges)),
      Seq(StringType, IntegerType), returnsNull = false)
  }

  /** array<string> of byte-level BPE tokens under the first-`nMerges`
    * prefix of the trained byte table (default: its band prefix); see
    * [[BpeBytesUtil]]. */
  def bpeEncodeBytes(text: Column, nMerges: Int = BpeTable.Bytes.bandN): Column = {
    BpeTable.Bytes.prefix(nMerges, "bpe_encode_bytes")
    GraftColumn.staticCall(BpeBytesUtil, "encodeText",
      ArrayType(StringType, containsNull = false), Seq(text, lit(nMerges)),
      Seq(StringType, IntegerType), returnsNull = false)
  }

  private val Vocab = ObjectType(classOf[BpeVocab])
  private def vocabLit(vocab: BpeVocab): Column =
    GraftColumn.of(Literal.create(vocab, Vocab))

  /** array<int> of token IDS: the [[bpeEncode]] merge walk composed with a
    * token→id lookup in ONE scan-side pass (tx33 / cur16 — the id-level
    * payload a training shard actually loads).
    *
    * The vocab is DATA-derived (built from the corpus by
    * `TextAnalysis.bpeVocabCore`, persisted as the parquet artifact a
    * tokenizer release ships), so unlike the merge table it is not a
    * per-JVM constant: it is a literal argument, shipped with the task
    * binary and codegen'd as a reference object — the same posture as the
    * IVF codebook literals, with O(1) HashMap lookups per token instead of
    * the O(|vocab|) linear scan an `element_at(map_literal, token)` would
    * codegen to. Zero shuffle, zero build side; a real 100k-entry vocab is
    * ~2 MB in the task binary — the degenerate best case of a broadcast.
    * Tokens outside the vocab map to [[BpeUtil.UnkId]] (impossible when
    * vocab and corpus coincide; the frozen-vocab contract for new text). */
  def bpeEncodeIds(text: Column, vocab: BpeVocab,
      nMerges: Int = BpeTable.Char.bandN): Column = {
    BpeTable.Char.prefix(nMerges, "bpe_encode_ids")
    GraftColumn.staticCall(BpeUtil, "encodeTextIds",
      ArrayType(IntegerType, containsNull = false),
      Seq(text, lit(nMerges), vocabLit(vocab)),
      Seq(StringType, IntegerType, Vocab), returnsNull = false)
  }

  /** The DETOKENIZER: token ids back to their concatenated text through
    * the inverse vocab (ids are dense 0-based ranks, so the inverse is an
    * array INDEX, not a map probe). Out-of-range ids (including
    * [[BpeUtil.UnkId]]) decode to U+FFFD, the standard
    * replacement-character convention. The round trip is exact up to the
    * tokenizer's own whitespace normalization: the encoder splits on
    * single spaces and drops empty words, so
    * `decode(encode(text)) == text with spaces removed` — tx34 gates
    * exactly that identity corpus-wide. */
  def bpeDecodeIds(ids: Column, vocab: BpeVocab): Column =
    GraftColumn.staticCall(BpeUtil, "decodeIds", StringType,
      Seq(ids, vocabLit(vocab)), Seq(ArrayType(IntegerType), Vocab),
      returnsNull = false)

  /** The byte-level DETOKENIZER — see [[BpeBytesUtil.decodeText]].
    * Stateless (no vocab, no table), so unlike [[bpeDecodeIds]] it is
    * registrable on the SQL surface. */
  def bpeDecodeBytes(tokens: Column): Column =
    GraftColumn.staticCall(BpeBytesUtil, "decodeText", StringType, Seq(tokens),
      Seq(Strings), returnsNull = false)
}
