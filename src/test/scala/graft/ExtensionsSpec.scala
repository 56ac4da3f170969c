package graft

/** GraftExtensions must expose the native expressions as SQL functions. */
class ExtensionsSpec extends SparkSpec {

  test("cosine_sim and dot_product are callable from SQL") {
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0D, 0.0D), array(0.6D, 0.8D)) AS c,
        |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d""".stripMargin)
      .collect().head
    assert(math.abs(r.getDouble(0) - 0.6) < 1e-12)
    assert(r.getDouble(1) == 11.0)
  }

  test("cosine_sim over float arrays (the embeddings column type)") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f))).toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val r = spark.sql("SELECT cosine_sim(a, b) AS c FROM vecs").collect().head
    assert(r.getDouble(0) == 1.0)
  }

  test("text-hash and lsh expressions are callable from SQL") {
    val r = spark.sql(
      """SELECT simhash32(array('a','b')) AS s32,
        |       simhash64(array('a','b')) AS s64,
        |       minhash_sig(array('a','b'), 4) AS mh,
        |       hamming('0011', '0101') AS h,
        |       jaccard(array('a','b'), array('b','c')) AS j,
        |       damerau('ca', 'abc') AS dl,
        |       jaro_winkler('martha', 'marhta') AS jw""".stripMargin)
      .collect().head
    assert(r.getString(0).matches("[01]{32}"))
    assert(r.getString(1).matches("[01]{64}"))
    // simhash64's first 32 bits use the same md5-prefix votes as simhash32
    assert(r.getString(1).startsWith(r.getString(0)))
    assert(r.getSeq[String](2).length == 4)
    assert(r.getLong(3) == 2L)
    assert(math.abs(r.getDouble(4) - 1.0 / 3.0) < 1e-12)
    // unrestricted DL: transpose then insert = 2 (OSA would say 3)
    assert(r.getLong(5) == 2L)
    // the census-linkage classic: jaro 17/18, prefix 3 -> 0.9611...
    assert(math.abs(r.getDouble(6) - 0.9611111111111111) < 1e-12)
    val code = spark.sql(
      "SELECT lsh_code(array_repeat(1.0D, 64)) AS c").collect().head.getString(0)
    assert(code.matches("[01]{8}"))
    val ph = spark.sql(
      "SELECT phash64(CAST('hello world payload' AS BINARY), 8) AS p")
      .collect().head.getString(0)
    assert(ph.matches("[01]{64}"))
    // mm6's codec-seam pair: re-encode rewrites bytes, decoded phash is
    // invariant under it
    val mm6 = spark.sql(
      """SELECT decoded_phash64(CAST('hello world payload' AS BINARY), 8) AS d,
        |       decoded_phash64(stub_reencode(CAST('hello world payload' AS BINARY)), 8) AS dr,
        |       stub_reencode(CAST('hello world payload' AS BINARY)) AS re""".stripMargin)
      .collect().head
    assert(mm6.getString(0).matches("[01]{64}"))
    assert(mm6.getString(0) == mm6.getString(1))
    assert(!java.util.Arrays.equals(mm6.getAs[Array[Byte]](2),
      "hello world payload".getBytes("UTF-8")))
  }

  test("bpe encode/decode are callable from SQL and round-trip on the " +
      "SQL surface (tx35's registered pair)") {
    val r = spark.sql(
      """SELECT bpe_decode_bytes(bpe_encode_bytes('the market was HIGH')) AS rt,
        |       bpe_decode_bytes(bpe_encode_bytes('a  b', 40)) AS rt2""".stripMargin)
      .collect().head
    assert(r.getString(0) == "the market was HIGH")
    assert(r.getString(1) == "a  b", "multi-space runs survive exactly")
  }

  test("minhash_sig rejects a non-literal hash count") {
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array('a'), length('xx'))").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("type check rejects non-array arguments with a clear message") {
    val e = intercept[Exception] {
      spark.sql("SELECT cosine_sim('x', 'y')").collect()
    }
    assert(e.getMessage.contains("cosine_sim") || e.getMessage.contains("DATATYPE"))
  }
}
