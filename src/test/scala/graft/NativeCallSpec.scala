package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{array, col, lit, split, struct, transform}
import org.apache.spark.sql.types._

import graft.functions.{BpeTable, BpeUtil, BpeVocab, LshFunctions, ServeIndex, ServeWalk,
  TextHashFunctions => F}

/** The native helpers are called through Spark's StaticInvoke, which
  * codegens a direct static call and, with codegen off, evaluates by
  * reflection. Both paths must give the same rows — nulls included. */
class NativeCallSpec extends SparkSpec {

  private def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
  private def le32(v: Int) =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  private def chunk(id: String, body: Array[Byte]) =
    id.getBytes("US-ASCII") ++ le32(body.length) ++ body
  /** Canonical PCM16 mono WAVE, four samples. */
  private val wav = {
    val body = "WAVE".getBytes("US-ASCII") ++
      chunk("fmt ", le16(1) ++ le16(1) ++ le32(8000) ++ le32(16000) ++
        le16(2) ++ le16(16)) ++
      chunk("data", Array(-300, 5, -1, 127).flatMap(le16))
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }
  /** Two P6 frames back to back (the first alone is a valid image). */
  private val ppm =
    "P6\n2 2\n255\n".getBytes("US-ASCII") ++ Array.tabulate(12)(i => (i * 20).toByte) ++
      "P6\n1 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](7, 8, 9)
  private val onePpm = ppm.take(11 + 12)

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("toks", ArrayType(StringType)),   // no null elements
    StructField("dirty", ArrayType(StringType)),  // may hold a null element
    StructField("a", StringType),
    StructField("b", StringType),
    StructField("la", ArrayType(LongType)),
    StructField("lb", ArrayType(LongType)),
    StructField("payload", BinaryType),
    StructField("v", ArrayType(DoubleType)),
    StructField("ids", ArrayType(IntegerType))))

  private val rows = Seq(
    Row(1L, Seq("the", "quick", "brown", "fox", "jumps"), Seq("fox", "dog"),
      "martha", "the market was HIGH", Seq(1L, 3L, 5L, 7L), Seq(3L, 5L, 9L),
      onePpm, Seq.tabulate(64)(i => math.sin(i.toDouble)), Seq(0, 1)),
    // the null-returning cases: < 2 elements for sorted_pairs, a null
    // token for clf_total, a payload that is neither P6 nor WAVE; ids
    // outside the vocab for bpe_decode_ids
    Row(2L, Seq("solo"), Seq("x", null), "ca", "abc", Seq(42L), Seq.empty[Long],
      "not a media payload".getBytes("US-ASCII"), Seq.fill(64)(-1.0), Seq(-1, 99)),
    Row(3L, null, null, null, null, null, null, null, null, null),
    Row(4L, Seq.empty[String], Seq.empty[String], "", "", Seq.empty[Long],
      Seq(1L), wav, Seq.fill(64)(0.0), Seq.empty[Int]),
    Row(5L, Seq("a", "b", "a"), Seq("b"), "  two  spaces ", "x", Seq(2L, 4L),
      Seq(4L), ppm, Seq.fill(64)(0.5), Seq(1)))

  /** A vocab of the band-table tokens of "the market": in row 1's
    * "the market was HIGH", "was" and "HIGH" are out of vocabulary. */
  private val marketTokens = BpeUtil.encodeText(
    org.apache.spark.unsafe.types.UTF8String.fromString("the market"),
    BpeTable.Char.bandN).toArray[AnyRef](StringType).map(_.toString).toSeq
  private val vocab = BpeVocab(marketTokens.distinct.sorted.zipWithIndex.toMap)

  /** A serve graph over nodes 1..9 (node 6 has no vector): edges i–i+1
    * and i–i+3, 64-dim vectors. Row 1 enters at 1, 3, 5 and 7, row 2 at
    * node 42 (not in the graph), row 5 at 2 and 4. */
  private val serveIndex = ServeIndex.build(
    (1L to 8L).map(i => i -> (i + 1)) ++ (1L to 6L).map(i => i -> (i + 3)),
    (1L to 9L).filter(_ != 6L).map(i => i -> Array.tabulate(64)(j => math.cos(i * j + 1.0))),
    cosine = true)

  private val calls: Seq[(String, Column)] = {
    val (toks, dirty, a, b, la, lb, payload) =
      (col("toks"), col("dirty"), col("a"), col("b"), col("la"), col("lb"), col("payload"))
    Seq(
      "simhash32" -> F.simhash32(toks),
      "simhash64" -> F.simhash64(dirty),
      "minhash_sig" -> F.minhashSig(dirty, 4),
      "phash64" -> F.phash64(payload, 8),
      "stub_reencode" -> F.stubReencode(payload),
      "decoded_phash64" -> F.decodedPhash64(payload, 8),
      "hamming" -> F.hamming(a, b),
      "jaccard" -> F.jaccard(toks, dirty),
      "jaccard_sorted" -> F.jaccardSorted(la, lb),
      "inter_sorted" -> F.interSorted(la, lb),
      "clf_total" -> F.clfTotal(dirty),
      "gram_hashes" -> F.gramHashes(toks, 2),
      "hashed_gram_set" -> F.hashedGramSet(toks),
      "sorted_pairs" -> F.sortedPairs(la),
      "damerau" -> F.damerau(a, b),
      "jaro_winkler" -> F.jaroWinkler(a, b),
      "winnow_fps" -> F.winnowFps(toks, 2, 2),
      "cdc_chunks" -> F.cdcChunks(payload, 4),
      "ppm_pixels" -> F.ppmPixels(payload),
      "ppm_reencode" -> F.ppmReencode(payload),
      "ppm_resize_half" -> F.ppmResizeHalf(payload),
      "ppm_frame_planes" -> F.ppmFramePlanes(payload),
      "wav_features" -> F.wavFeatures(payload),
      "bpe_encode" -> F.bpeEncode(a),
      "bpe_encode_bytes" -> F.bpeEncodeBytes(b),
      "bpe_decode_bytes" -> F.bpeDecodeBytes(toks),
      "bpe_encode_ids" -> F.bpeEncodeIds(b, vocab),
      "bpe_decode_ids" -> F.bpeDecodeIds(col("ids"), vocab),
      "lsh_code" -> LshFunctions.lshCode(col("v")),
      "serve_walk" -> ServeWalk.visited(col("v"),
        transform(la, x => struct(x.as("node_id"), x.cast(DoubleType).as("score"))),
        serveIndex, 2, 3))
  }

  /** Binary values as byte lists, so nested arrays compare by content
    * (and NaN, jaccard of two empty sets, as a string). */
  private def canon(v: Any): Any = v match {
    case bs: Array[Byte] => bs.toList
    case d: Double if d.isNaN => "NaN"
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case other => other
  }

  private def run(codegen: Boolean): Map[Long, Seq[Any]] = {
    val conf = if (codegen)
      Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false")
    else
      Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // an RDD-backed frame: a local relation would be folded by the
      // optimizer, bypassing both evaluation paths under test
      val df: DataFrame = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
        .select(col("id") +: calls.map { case (n, c) => c.as(n) }: _*)
      val out = df.collect().map(r => r.getLong(0) -> r.toSeq.tail.map(canon)).toMap
      if (codegen) assert(df.queryExecution.executedPlan.toString.contains("*("),
        "the calls must run inside whole-stage codegen")
      out
    } finally conf.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("bpe_encode and bpe_encode_bytes reject a merge-table prefix outside " +
      "1..full, from SQL and through the Column API, with the range message") {
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    for ((fn, table, encode) <- Seq[(String, BpeTable, Int => Column)](
        ("bpe_encode", BpeTable.Char, n => F.bpeEncode(col("t"), n)),
        ("bpe_encode_bytes", BpeTable.Bytes, n => F.bpeEncodeBytes(col("t"), n)));
        n <- Seq(0, table.full.length + 1)) {
      val want = s"$fn: merge-table prefix $n out of range 1..${table.full.length}"
      val api = intercept[IllegalArgumentException](encode(n))
      assert(api.getMessage.contains(want), api.getMessage)
      val sql = intercept[Exception](spark.sql(s"SELECT $fn('the market', $n)").collect())
      assert(messages(sql).exists(m => m != null && m.contains(want)), messages(sql))
    }
  }

  test("every native call returns the same rows, nulls included, with " +
      "codegen on and with the reflective interpreted path") {
    val generated = run(codegen = true)
    val interpreted = run(codegen = false)
    assert(generated.keySet == rows.map(_.getLong(0)).toSet)
    for ((id, got) <- generated; ((name, _), g, i) <- calls.lazyZip(got).lazyZip(interpreted(id)))
      assert(g == i, s"$name differs on row $id: codegen $g, interpreted $i")
    def value(id: Long, name: String) = generated(id)(calls.indexWhere(_._1 == name))
    // null in → null out, for every call
    assert(generated(3L).forall(_ == null), generated(3L))
    // the helpers' own nulls
    assert(value(2L, "sorted_pairs") == null && value(2L, "clf_total") == null)
    Seq("ppm_pixels", "ppm_reencode", "ppm_resize_half", "ppm_frame_planes",
      "wav_features").foreach(n => assert(value(2L, n) == null, n))
    // ...and their non-null counterparts
    assert(value(1L, "ppm_pixels") == onePpm.drop(11).toList)
    assert(value(5L, "ppm_frame_planes") ==
      Seq(onePpm.drop(11).toList, List[Byte](7, 8, 9)))
    assert(value(4L, "wav_features") == Seq(8000, 4, 300L * 300 + 25 + 1 + 127 * 127, 300, 3))
    assert(value(5L, "sorted_pairs") == Seq(Seq(2L, 4L)))
    assert(value(2L, "damerau") == 2L)
    // the vocab rides in as a literal: known tokens get their ids, an
    // out-of-vocabulary token the UnkId, and an out-of-range id decodes to
    // the replacement character
    val known = marketTokens.map(vocab.tokens)
    val ids1 = value(1L, "bpe_encode_ids").asInstanceOf[scala.collection.Seq[Int]]
    assert(ids1.take(known.length) == known && ids1.drop(known.length).nonEmpty &&
      ids1.drop(known.length).forall(_ == BpeUtil.UnkId), ids1)
    assert(value(2L, "bpe_decode_ids") == "\uFFFD\uFFFD")
    assert(value(1L, "bpe_decode_ids") == vocab.inverse.take(2).mkString)
    // the serve index rides in as a literal too: an entry outside the graph
    // is visited alone, no entry walks nothing, and row 1 reaches hop 1
    assert(value(2L, "serve_walk") == Seq(Seq(42L, 42.0, 0)))
    assert(value(4L, "serve_walk") == Seq.empty)
    assert(value(1L, "serve_walk").asInstanceOf[scala.collection.Seq[Seq[Any]]]
      .exists(_(2) == 1))
    // result nullability: null only where the helper itself can return it
    val nn = spark.range(1).select(array(lit("a")).as("t"))
      .select(F.simhash64(col("t")), F.clfTotal(col("t")), F.sortedPairs(array(lit(1L))))
    assert(nn.schema.map(_.nullable) == Seq(false, true, true))
    // the two SQL names ExtensionsSpec does not call resolve to the same defs
    val sql = spark.sql("SELECT winnow_fps(split('a b c d e', ' '), 2, 2) AS w, " +
      "bpe_encode('the market was HIGH') AS t, bpe_encode('the market', 40) AS t40")
    val api = spark.range(1).select(F.winnowFps(split(lit("a b c d e"), " "), 2, 2),
      F.bpeEncode(lit("the market was HIGH")), F.bpeEncode(lit("the market"), 40))
    assert(sql.collect().toSeq == api.collect().toSeq)
  }
}
