package graft

import org.apache.spark.sql.functions._

import graft.llmdata.Multimodal
import graft.llmdata.Multimodal.MediaRecord

/** Multimodal plumbing: binary carriage, stub-codec decode, resize, frame
  * sampling. The codec itself is a deterministic stand-in (no image libs in
  * this environment); these tests pin the plumbing semantics. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  lazy val media = Seq(
    MediaRecord(1L, "image", Array[Byte](10, 20, 30, 40, 50, 60, 70, 80)),
    MediaRecord(2L, "video", "x".getBytes.flatMap(b => Array.fill(130)(b)),
    ), MediaRecord(3L, "audio", Array.empty[Byte])).toDS()

  test("decodeFeatures: deterministic stub decode via mapPartitions") {
    val f = Multimodal.decodeFeatures(media).collect().map(x => x.media_id -> x).toMap
    assert(f(1L).n_bytes == 8L)
    assert(f(1L).width == 16 + 10 % 64 && f(1L).height == 16 + 20 % 64)
    assert(f(1L).n_frames == 1)
    assert(f(2L).n_frames == 1 + 130 / 64) // video: frame per 64 bytes
    assert(f(3L).n_bytes == 0L && f(3L).mean_byte == 0.0)
  }

  test("resize caps payload size, keeps smaller payloads intact") {
    val out = Multimodal.resize(media.toDF(), maxBytes = 16)
      .select($"media_id", octet_length($"content")).as[(Long, Int)].collect().toMap
    assert(out(1L) == 8 && out(2L) == 16 && out(3L) == 0)
  }

  test("sampleFrames emits one frame per stride bytes") {
    val out = Multimodal.sampleFrames(media.toDF().filter($"media_id" === 2L), stride = 13)
      .select(size($"frames")).as[Int].collect().head
    assert(out == 10) // 130 bytes / 13
  }

  test("featureExtract: expression twin is row-identical to mapPartitions path") {
    val codec = Multimodal.featureExtract(spark, sf()).collect().toSeq
    val expr = Multimodal.featureExtractExpr(spark, sf()).collect().toSeq
    assert(codec == expr)
  }

  // (The mm oracles are byte-based — encode(text) + hex prefixes — so they
  // no longer depend on the fixtures being ASCII; no guard needed.)

  test("phash64: native expression is bit-identical to the composable form") {
    // fixture payloads PLUS edge shapes: shorter than one window (clipped
    // gram), exactly one window, empty payload
    val edge = Seq(
      MediaRecord(101L, "image", Array[Byte](1, 2, 3)),
      MediaRecord(102L, "image", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)),
      MediaRecord(103L, "image", Array.empty[Byte])).toDS()
      .select($"media_id", $"content")
    val fixture = Multimodal.mediaTable(spark, sf())
      .select($"media_id", $"content")
    val both = fixture.unionByName(edge)
      .select($"media_id",
        graft.functions.TextHashFunctions.phash64(col("content"), 8).as("native"),
        Multimodal.phashComposable.as("composable"))
    assert(both.filter($"native" =!= $"composable").count() == 0)
    assert(both.filter(length($"native") =!= 64).count() == 0)
  }

  test("mm6: expression twins are char-identical to the StubCodec JVM path") {
    // the codec seam: decodeSignal/reencode through mapPartitions (what a
    // real codec would run) vs the scan-side column expressions the
    // oracle-gated query uses — must agree on every payload
    val jvm = Multimodal.mediaTable(spark, sf()).as[MediaRecord]
      .mapPartitions(_.map { r =>
        (r.media_id,
          Multimodal.StubCodec.decodeSignal(r),
          Multimodal.StubCodec.reencode(r).content.map("%02x".format(_)).mkString)
      }).toDF("media_id", "sig", "rh").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val expr = Multimodal.mediaTable(spark, sf())
      .withColumn("h", lower(hex(col("content"))))
      .select(col("media_id"), Multimodal.signalOf.as("sig"),
        Multimodal.reencodedHex.as("rh")).collect()
    assert(expr.nonEmpty)
    expr.foreach { r =>
      val (sig, rh) = jvm(r.getAs[Long]("media_id"))
      assert(r.getAs[String]("sig") == sig)
      assert(r.getAs[String]("rh") == rh)
    }
    // the NATIVE expressions the query path actually runs must agree with
    // the same JVM path: stub_reencode on bytes, and decoded_phash64 vs
    // the composable signal-window simhash twin
    val native = Multimodal.mediaTable(spark, sf())
      .select(col("media_id"), col("content"),
        lower(hex(graft.functions.TextHashFunctions.stubReencode(col("content"))))
          .as("rh"),
        graft.functions.TextHashFunctions.decodedPhash64(col("content"), 8)
          .as("nph"))
      .withColumn("h", lower(hex(col("content"))))
      .withColumn("s", Multimodal.signalOf)
      .withColumn("cph", Multimodal.decodedPhashComposable)
      .collect()
    native.foreach { r =>
      assert(r.getAs[String]("rh") == jvm(r.getAs[Long]("media_id"))._2)
      assert(r.getAs[String]("nph") == r.getAs[String]("cph"))
    }
  }

  test("mm6: re-encoded duplicates cluster in the decoded domain, not the byte domain") {
    val orig = Multimodal.mediaTable(spark, sf())
    val ids = orig.select($"media_id").as[Long].collect().toSet
    // decoded domain: every (original, re-encoded) pair at hamming 0
    val zero = Multimodal.phashDecodedNearDup(spark, sf())
      .filter($"media_b" - $"media_a" === 20000000L && $"hamming" === 0)
      .select($"media_a").as[Long].collect().toSet
    assert(ids.subsetOf(zero), s"missing: ${(ids -- zero).take(5)}")
    // byte domain: the same re-encode defeats mm5's byte-stream phash —
    // nearly every byte changes, so almost every pair lands far outside
    // the hamming gate (this is WHY the decoded-domain variant exists)
    val re = orig.as[MediaRecord].map(Multimodal.StubCodec.reencode).toDF()
    val pa = orig.select($"media_id",
      graft.functions.TextHashFunctions.phash64(col("content"), 8).as("pa"))
    val pb = re.select($"media_id",
      graft.functions.TextHashFunctions.phash64(col("content"), 8).as("pb"))
    val ham = pa.join(pb, "media_id")
      .select(graft.functions.TextHashFunctions.hamming($"pa", $"pb").as("hm"))
      .as[Long].collect()
    assert(ham.count(_ > 3) >= ham.length * 0.9,
      s"byte-domain phash unexpectedly survived re-encoding: ${ham.sorted.take(10).toSeq}")
  }

  test("media table from fixtures: binary column + metadata query agree") {
    val meta = Multimodal.binaryMeta(spark, sf()).collect()
    assert(meta.map(_.getAs[String]("kind")).toSeq == Seq("audio", "image", "video"))
    assert(meta.map(_.getAs[Long]("n_media")).sum == 500L)
  }

  test("mm9: content-defined cuts re-synchronize after an insertion; the fixed grid does not") {
    // the reason CDC chunking exists: prepend ONE byte and a fixed-size
    // grid mis-aligns every chunk, while content-defined cut points
    // recover after the first cut
    val base = (1 to 60).map(i => s"tok$i w${i * 7} q${i * 13}").mkString(" ")
    val shifted = "X" + base
    val docs = Seq((1L, base), (2L, shifted)).toDF("media_id", "text")
    val rows = graft.llmdata.Multimodal.cdcChunkRows(docs).collect()
      .groupBy(_.getAs[Long]("media_id"))
    val h1 = rows(1L).map(_.getAs[String]("h")).toSet
    val h2 = rows(2L).map(_.getAs[String]("h")).toSet
    assert(h1.size >= 4, s"expected several chunks, got ${h1.size}")
    val cdcShared = (h1 intersect h2).size.toDouble / h1.size
    assert(cdcShared >= 0.5,
      f"CDC chunking must survive a 1-byte shift: shared frac $cdcShared%.2f")
    // fixed 64-byte grid on the same pair: zero shared chunks (every
    // boundary shifted by one)
    def fixedChunks(t: String): Set[String] =
      t.grouped(64).map(c => java.security.MessageDigest.getInstance("MD5")
        .digest(c.getBytes("UTF-8")).map("%02x".format(_)).mkString).toSet
    val fShared = (fixedChunks(base) intersect fixedChunks(shifted)).size
    assert(fShared == 0, s"fixed grid unexpectedly shared $fShared chunks")
    // and the sum of chunk lengths reconstructs the payload exactly
    assert(rows(1L).map(_.getAs[Long]("len")).sum == base.length.toLong)
    assert(rows(2L).map(_.getAs[Long]("len")).sum == shifted.length.toLong)
  }

  test("mm9: native cdc_chunks ≡ staged explode form, including non-ASCII payloads") {
    // A/B parity gate for the native expression (the dd24 discipline):
    // same (h, len) multiset per doc on arbitrary payloads. Non-ASCII
    // payloads are the r12 ADVICE regression case — multi-byte chars make
    // byte length ≠ char length, so any char-indexed slicing diverges.
    val docs = Seq(
      (1L, (1 to 80).map(i => s"tok$i x${i * 31}").mkString(" ")),
      (2L, "héllo wörld ünïcode ß∂ƒ©˙ " * 20),
      (3L, "短い非ASCIIペイロード。" * 15),
      (4L, "ab"), // shorter than the 4-byte window
      (5L, "")).toDF("media_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[String]("h"),
        r.getAs[Long]("len"))).sorted.toSeq
    val native = rows(graft.llmdata.Multimodal.cdcChunkRows(docs))
    val staged = rows(graft.llmdata.Multimodal.cdcChunkRowsStaged(docs))
    assert(native == staged, "native cdc_chunks diverged from staged form")
    // byte-space tiling on the non-ASCII docs specifically
    val byDoc = native.groupBy(_._1)
    Seq(2L, 3L).foreach { id =>
      val expect = docs.where(col("media_id") === id).collect()
        .head.getAs[String]("text").getBytes("UTF-8").length.toLong
      assert(byDoc(id).map(_._3).sum == expect,
        s"doc $id chunks must tile its UTF-8 byte length")
    }
    assert(!byDoc.contains(5L), "empty payload must yield no chunks")
  }

  test("mm9: census flags exact-duplicate payloads as fully shared") {
    val rows = graft.llmdata.Multimodal.contentChunkCensus(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_shared") <= r.getAs[Long]("n_chunks"))
      assert(r.getAs[Long]("bytes_shared") <= r.getAs[Long]("bytes_total"))
    }
    // the fixture ships exact-duplicate docs (dd1's subject); both copies
    // of a duplicated payload must census as 100% shared
    assert(rows.count(_.getAs[Double]("shared_frac") == 1.0) >= 2,
      "expected at least one fully-shared duplicate pair")
  }

  test("mm8: byte entropy re-derives brute-force and bounds hold") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .filter(_._2.nonEmpty)
    val expected = docs.map { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val n = bytes.length.toDouble
      val hist = bytes.groupBy(identity).map { case (_, xs) => xs.length }
      id -> (hist.size.toLong,
        hist.map(c => math.round(1e6 * c * math.log(n / c) / n)).sum)
    }.toMap
    val rows = Multimodal.byteEntropy(spark, sf()).collect()
    assert(rows.length == docs.length)
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val (nd, em) = expected(id)
      assert(r.getAs[Long]("n_distinct_bytes") == nd)
      assert(r.getAs[Long]("entropy_micro") == em, s"media $id")
      // Shannon bounds: 0 ≤ H ≤ ln(distinct) ≤ ln 256, up to ±1 micro-nat
      // per histogram cell of quantization slack
      val e = r.getAs[Long]("entropy_micro")
      assert(e >= -nd && e <= math.round(math.log(256.0) * 1e6) + nd)
      assert(r.getAs[Boolean]("high_entropy") == (e > 4500000L))
    }
    // plain ASCII text must NOT read as encrypted
    assert(rows.count(_.getAs[Boolean]("high_entropy")) == 0,
      "fixture text payloads sit well under the compressed-stream band")
  }

  test("mm11: PpmUtil decodes real P6 headers (comments, whitespace runs), " +
      "rejects malformation to null, and reencode preserves the plane") {
    import graft.functions.PpmUtil
    def ppm(header: String, px: Array[Byte]): Array[Byte] =
      header.getBytes("US-ASCII") ++ px
    val plane = Array.tabulate(2 * 3 * 3)(i => (i * 37 % 251).toByte)
    // minimal header
    assert(PpmUtil.pixels(ppm("P6\n2 3\n255\n", plane)).toSeq == plane.toSeq)
    // whitespace runs, CRLF, tabs between fields are all legal separators
    assert(PpmUtil.pixels(ppm("P6  \r\n\t 2\n\n3\t255\n", plane)).toSeq
      == plane.toSeq)
    // comment lines anywhere whitespace is allowed
    assert(PpmUtil.pixels(
      ppm("P6\n# a comment\n2 # inline\n3\n# more\n255\n", plane)).toSeq
      == plane.toSeq)
    // malformed: wrong magic, maxval != 255, truncated plane, empty dims
    assert(PpmUtil.pixels(ppm("P5\n2 3\n255\n", plane)) == null)
    assert(PpmUtil.pixels(ppm("P6\n2 3\n65535\n", plane)) == null)
    assert(PpmUtil.pixels(ppm("P6\n2 3\n255\n", plane.take(5))) == null)
    assert(PpmUtil.pixels(ppm("P6\n0 3\n255\n", Array.empty[Byte])) == null)
    assert(PpmUtil.pixels("P6\n2 3\n255".getBytes("US-ASCII")) == null)
    // reencode: different file bytes (and length), identical plane
    val orig = ppm("P6\n2 3\n255\n", plane)
    val re = PpmUtil.reencode(orig)
    assert(re != null && !re.sameElements(orig) && re.length != orig.length)
    assert(PpmUtil.pixels(re).toSeq == plane.toSeq,
      "decode(reencode(x)) must equal decode(x) — the real-codec seam")
    assert(PpmUtil.reencode("junk".getBytes("US-ASCII")) == null)
  }

  test("mm12: PpmUtil.resizeHalf box-averages the plane with floor " +
      "rounding and edge clamping, emits a valid half-dims P6, and " +
      "rejects malformation to null") {
    import graft.functions.PpmUtil
    def ppm(header: String, px: Array[Byte]): Array[Byte] =
      header.getBytes("US-ASCII") ++ px
    // w=3, h=2 with bytes 0..17: blocks computed by hand —
    // out(0,0,c) = (c + 3+c + 9+c + 12+c)/4 = 6+c (full 2x2 block);
    // out(1,0,c) = (6+c + 15+c)/2 = 10+c floor (clamped 1x2 edge block)
    val in = ppm("P6\n3 2\n255\n", Array.tabulate(18)(_.toByte))
    val rz = PpmUtil.resizeHalf(in)
    assert(rz != null)
    assert(PpmUtil.parseHeader(rz).take(2).toSeq == Seq(2, 1),
      "odd width 3 resizes to ceil(3/2) = 2")
    assert(PpmUtil.pixels(rz).toSeq ==
      Seq[Byte](6, 7, 8, 10, 11, 12))
    // even dims: pure 2x2 means; floor rounding pinned (255+0+0+0)/4 = 63
    val px2 = new Array[Byte](2 * 2 * 3)
    px2(0) = 255.toByte
    val rz2 = PpmUtil.resizeHalf(ppm("P6\n2 2\n255\n", px2))
    assert(PpmUtil.pixels(rz2).toSeq == Seq[Byte](63, 0, 0))
    // a resize of a resize keeps halving (the thumbnail ladder)
    assert(PpmUtil.parseHeader(PpmUtil.resizeHalf(rz)).take(2).toSeq == Seq(1, 1))
    // malformed input → null, like the decoder
    assert(PpmUtil.resizeHalf("junk".getBytes("US-ASCII")) == null)
    // a re-encoded variant resizes to the identical output file (the
    // codec seam composed with the resize)
    assert(PpmUtil.resizeHalf(PpmUtil.reencode(in)).toSeq == rz.toSeq)
  }

  test("mm13: framePlanes parses concatenated-P6 streams frame by frame " +
      "and rejects a corrupt container whole") {
    import graft.functions.PpmUtil
    def ppm(header: String, px: Array[Byte]): Array[Byte] =
      header.getBytes("US-ASCII") ++ px
    val f1 = Array.tabulate(1 * 2 * 3)(i => (i + 1).toByte)
    val f2 = Array.tabulate(2 * 1 * 3)(i => (i + 100).toByte)
    val stream = ppm("P6\n1 2\n255\n", f1) ++ ppm("P6\n# f2\n2 1\n255\n", f2)
    val fs = PpmUtil.framePlanes(stream)
    assert(fs != null && fs.length == 2)
    assert(fs(0).toSeq == f1.toSeq && fs(1).toSeq == f2.toSeq,
      "frames decode in stream order with per-frame dims")
    // a single image is a 1-frame stream
    assert(PpmUtil.framePlanes(ppm("P6\n1 2\n255\n", f1)).length == 1)
    // corrupt second frame (bad magic) rejects the WHOLE container
    assert(PpmUtil.framePlanes(
      ppm("P6\n1 2\n255\n", f1) ++ "P5junk".getBytes("US-ASCII")) == null)
    // trailing garbage after the last frame rejects too
    assert(PpmUtil.framePlanes(stream ++ Array[Byte](1)) == null)
    assert(PpmUtil.framePlanes(Array.empty[Byte]) == null)
  }

  test("mm13: every synthesized container parses to its designed frame " +
      "count through the native expression") {
    import graft.functions.TextHashFunctions.ppmFramePlanes
    val rows = graft.llmdata.Multimodal.ppmAnimTable(spark, sf())
      .select($"media_id",
        size(ppmFramePlanes($"content")).as("nf_parsed"),
        (lit(2) + pmod($"media_id", lit(3))).cast("int").as("nf_want"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("nf_parsed") == r.getAs[Int]("nf_want"),
        s"media ${r.get(0)}: frame count")
    }
  }

  test("mm14: WavUtil walks RIFF chunks for real — skips unknown chunks " +
      "with the odd-size pad rule, validates PCM16 mono, and computes " +
      "the exact integer feature trio") {
    import graft.functions.WavUtil
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) =
      Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def chunk(id: String, body: Array[Byte]) =
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++
        (if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    def fmt(rate: Int, ch: Int = 1, bits: Int = 16) =
      chunk("fmt ", le16(1) ++ le16(ch) ++ le32(rate) ++ le32(rate * 2) ++
        le16(2) ++ le16(bits))
    def data(samples: Int*) = chunk("data", samples.toArray.flatMap(le16))
    def wav(chunks: Array[Byte]*) = {
      val body = "WAVE".getBytes("US-ASCII") ++ chunks.flatten
      "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    }
    // an ODD-size junk chunk (pad byte required) between fmt and data —
    // hardcoding offset 44 or ignoring the pad both fail here
    val junk = chunk("JUNK", Array[Byte](1, 2, 3))
    val f = WavUtil.features(wav(fmt(8000), junk, data(-32768, 1, -1, 127)))
    assert(f != null)
    assert(f.toSeq == Seq[Long](8000, 4, 1073757955L, 32768, 3),
      s"rate/n/energy/peak/crossings: ${f.toSeq}")
    // malformation matrix — each rejects to null
    assert(WavUtil.features(wav(fmt(8000, ch = 2), data(1))) == null, "stereo")
    assert(WavUtil.features(wav(fmt(8000, bits = 8), data(1))) == null, "8-bit")
    assert(WavUtil.features(wav(data(1), fmt(8000))) == null, "data before fmt")
    assert(WavUtil.features(wav(fmt(8000))) == null, "no data chunk")
    val ok = wav(fmt(8000), data(1, 2))
    assert(WavUtil.features(ok) != null)
    assert(WavUtil.features(ok ++ Array[Byte](0)) == null, "trailing garbage")
    assert(WavUtil.features(ok.dropRight(1)) == null, "truncated data")
    val badSize = ok.clone(); badSize(4) = (badSize(4) + 1).toByte
    assert(WavUtil.features(badSize) == null, "RIFF size mismatch")
  }

  test("mm14: every synthesized WAV container parses through the native " +
      "expression with the designed sample count and rate") {
    val rows = graft.llmdata.Multimodal.wavMediaTable(spark, sf())
      .select($"media_id",
        graft.functions.TextHashFunctions.wavFeatures($"content").as("f"))
      .select($"media_id", $"f.n_samples", $"f.sample_rate", $"f.peak_abs")
      .collect()
    assert(rows.nonEmpty)
    val want = graft.sources.Tables.load(spark, sf(), "documents")
      .filter($"text".isNotNull && $"text" =!= "")
      .select($"doc_id",
        (floor(octet_length($"text") / 2) + 4).cast("int").as("n"),
        (lit(8000) + pmod($"doc_id", lit(4)) * 4000).cast("int").as("r"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    rows.foreach { r =>
      val (n, rate) = want(r.getLong(0))
      assert(r.getInt(1) == n, s"media ${r.get(0)}: sample count")
      assert(r.getInt(2) == rate)
      assert(r.getInt(3) == 32768, "the sign preamble's peak")
    }
  }

  test("mm11: synthesized PPM corpus really decodes through the native " +
      "expression — every payload parses, planes match dims, variants " +
      "decode to the original's plane") {
    import graft.functions.TextHashFunctions.{ppmPixels, ppmReencode}
    val m = graft.llmdata.Multimodal.ppmMediaTable(spark, sf())
    val checked = m.select($"media_id",
        octet_length(ppmPixels($"content")).as("n_px"),
        octet_length(ppmPixels(ppmReencode($"content"))).as("n_px_re"),
        (ppmPixels($"content") === ppmPixels(ppmReencode($"content")))
          .as("plane_kept"),
        (ppmReencode($"content") === $"content").as("bytes_same"),
        (lit(8) + pmod($"media_id", lit(8))).cast("int").as("w"),
        (lit(8) + pmod(floor($"media_id" / 8), lit(8))).cast("int").as("h"))
      .collect()
    assert(checked.nonEmpty)
    checked.foreach { r =>
      val want = r.getAs[Int]("w") * r.getAs[Int]("h") * 3
      assert(r.getAs[Int]("n_px") == want, s"media ${r.get(0)}: plane size")
      assert(r.getAs[Int]("n_px_re") == want)
      assert(r.getAs[Boolean]("plane_kept"), s"media ${r.get(0)}: plane changed")
      assert(!r.getAs[Boolean]("bytes_same"), s"media ${r.get(0)}: bytes equal")
    }
  }
}
