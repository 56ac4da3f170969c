package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** A REAL audio codec for the multimodal tier: canonical RIFF/WAVE with
  * 16-bit PCM (the `.wav` everyone means), hand-rolled like the P6 codec
  * (mm11) because the sandbox ships no media libraries while the format
  * is public and small. This is a genuine CHUNK WALKER, not an
  * offset-44 hardcode: RIFF header validated against the file length,
  * chunks iterated by (id, LE32 size) with unknown chunks SKIPPED
  * (LIST/INFO metadata in the fixtures proves that path) and the
  * spec's pad byte honored after odd-size chunks; `fmt ` must declare
  * PCM / mono / 16-bit before `data` is accepted.
  *
  * [[WavUtil.features]] folds the sample stream into the exact integer
  * features an audio-curation pipeline gates on (energy, peak,
  * zero-crossing rate are the classic VAD/quality trio): all sums in
  * Long, no floats, so the DuckDB twin reproduces them bit-exactly.
  * Malformed containers return null — the same DLQ-friendly contract as
  * [[PpmUtil]].
  */
object WavUtil {

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
  private def tag(b: Array[Byte], i: Int, t: String): Boolean =
    b(i) == t.charAt(0) && b(i + 1) == t.charAt(1) &&
      b(i + 2) == t.charAt(2) && b(i + 3) == t.charAt(3)

  /** [sampleRate, nSamples, sumSquares, peakAbs, zeroCrossings], or null
    * on any malformation. Zero-crossing convention: sign(x) = -1 iff
    * x < 0 (zero counts positive), crossings counted between adjacent
    * samples. */
  def features(b: Array[Byte]): Array[Long] = {
    if (b == null || b.length < 44) return null
    if (!tag(b, 0, "RIFF") || !tag(b, 8, "WAVE")) return null
    if (le32(b, 4) != b.length - 8) return null
    var i = 12
    var rate = -1L
    var haveFmt = false
    var result: Array[Long] = null
    while (i + 8 <= b.length) {
      val size = le32(b, i + 4)
      val body = i + 8
      if (size < 0 || body + size > b.length) return null
      if (tag(b, i, "fmt ")) {
        // PCM(1), mono(1), 16-bit — anything else is out of domain
        if (size < 16 || le16(b, body) != 1 || le16(b, body + 2) != 1 ||
          le16(b, body + 14) != 16) return null
        rate = le32(b, body + 4)
        haveFmt = true
      } else if (tag(b, i, "data")) {
        if (!haveFmt || result != null || size % 2 != 0) return null
        val n = (size / 2).toInt
        var sumSq = 0L
        var peak = 0L
        var zc = 0L
        var prevNeg = false
        var s = 0
        while (s < n) {
          val v = le16(b, body + 2 * s).toShort.toLong
          sumSq += v * v
          val a = math.abs(v)
          if (a > peak) peak = a
          val neg = v < 0
          if (s > 0 && neg != prevNeg) zc += 1
          prevNeg = neg
          s += 1
        }
        result = Array(rate, n.toLong, sumSq, peak, zc)
      }
      // chunks are word-aligned: odd sizes carry a pad byte (RIFF spec)
      i = body + size.toInt + (size % 2).toInt
    }
    if (i != b.length) return null // trailing garbage
    result // null when no data chunk was found
  }

  /** [[features]] as the `wav_features` struct row (null if malformed). */
  def featureRow(b: Array[Byte]): InternalRow = {
    val f = features(b)
    if (f == null) null
    else new GenericInternalRow(Array[Any](
      f(0).toInt, f(1).toInt, f(2), f(3).toInt, f(4).toInt))
  }
}
