package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.{CdcDecode, CdcEnrich}
import graft.sources.ReplayBus

/** Property-based invariants (SURVEY.md §5 implication list):
  *  - dedupe idempotence and first-seen order
  *  - batching invariance: pipeline output is independent of batchSize
  *  - replay determinism: a kill+restart yields the same output set
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Plain-scalacheck runner (scalatestplus isn't in the offline cache). */
  private def checkProp(p: Prop, minTests: Int = 20): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests), p)
    assert(res.passed, res.status.toString)
  }

  private val idGen = Gen.oneOf((1 to 8).map(i => f"001$i%03d"))
  private val idsGen = Gen.nonEmptyListOf(idGen)

  def envelope(replayId: Long, changeType: String, ids: Seq[String]): String = {
    val idList = ids.map(i => "\"" + i + "\"").mkString(",")
    s"""{"schema":"fp","payload":{"ChangeEventHeader":{"commitNumber":1,""" +
      s""""commitUser":"u","sequenceNumber":1,"entityName":"Account",""" +
      s""""changeType":"$changeType","changedFields":[],"changeOrigin":"t",""" +
      s""""transactionKey":"tk-$replayId","commitTimestamp":1583300894000,""" +
      s""""recordIds":[$idList]}},"event":{"replayId":$replayId}}"""
  }

  test("property: mm9 chunking reconstructs every payload and is deterministic") {
    val word = Gen.alphaNumStr.map(_.take(8)).suchThat(_.nonEmpty)
    val textGen = Gen.nonEmptyListOf(word).map(_.mkString(" ").take(600))
    checkProp(Prop.forAll(Gen.nonEmptyListOf(textGen)) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("media_id", "text")
      val rows = graft.llmdata.Multimodal.cdcChunkRows(docs).collect()
        .groupBy(_.getAs[Long]("media_id"))
      val again = graft.llmdata.Multimodal.cdcChunkRows(docs).collect()
        .groupBy(_.getAs[Long]("media_id"))
      texts.zipWithIndex.forall { case (t, i) =>
        val cs = rows.getOrElse(i.toLong, Array.empty)
        // chunks tile the payload exactly (no byte lost or duplicated)...
        cs.map(_.getAs[Long]("len")).sum == t.getBytes("UTF-8").length.toLong &&
        cs.forall(_.getAs[Long]("len") > 0L) &&
        // ...and the chunking is a pure function of the content
        cs.map(r => (r.getAs[String]("h"), r.getAs[Long]("len"))).sorted.toSeq ==
          again.getOrElse(i.toLong, Array.empty)
            .map(r => (r.getAs[String]("h"), r.getAs[Long]("len"))).sorted.toSeq
      }
    }, minTests = 10)
  }

  test("property: recordIds dedupe is idempotent and first-seen ordered") {
    checkProp(Prop.forAll(idsGen) { ids =>
      val raw = Seq(envelope(1, "UPDATE", ids)).toDF("value")
      val out = CdcDecode.decodeJson(raw, col("value"))
        .select("recordIds").as[Seq[String]].collect().head
      // first-seen order (scala distinct is first-seen ordered), then
      // idempotence: decoding the deduped list again changes nothing
      val again = CdcDecode.decodeJson(
        Seq(envelope(2, "UPDATE", out)).toDF("value"), col("value"))
        .select("recordIds").as[Seq[String]].collect().head
      out == ids.distinct && again == out
    })
  }

  private val tokenGen = Gen.nonEmptyListOf(Gen.oneOf(
    "key", "agg", "row", "scan", "table", "value", "part", "hash"))

  test("property: simhash is token-order invariant and deterministic (64 and 32 bit)") {
    checkProp(Prop.forAll(tokenGen) { tokens =>
      val df = Seq(tokens.mkString(" "), scala.util.Random.shuffle(tokens).mkString(" "))
        .toDF("text")
        .select(
          graft.functions.TextHashFunctions.simhash64(split(col("text"), " ")).as("s64"),
          graft.functions.TextHashFunctions.simhash32(split(col("text"), " ")).as("s32"))
      val rows = df.collect()
      // simhash votes are a sum over tokens — permutation cannot change it;
      // and the 64-bit signature's prefix IS the 32-bit signature (same
      // md5-derived votes, longer prefix of the digest)
      rows(0).getString(0) == rows(1).getString(0) &&
        rows(0).getString(1) == rows(1).getString(1) &&
        rows(0).getString(0).startsWith(rows(0).getString(1))
    })
  }

  test("property: stub-codec natives match the JVM codec; decoded phash is re-encode invariant") {
    val bytesGen = Gen.chooseNum(0, 40)
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)))
    checkProp(Prop.forAll(bytesGen) { bs =>
      val arr = bs.toArray
      val r = Seq(Tuple1(arr)).toDF("content")
        .select(
          graft.functions.TextHashFunctions.stubReencode(col("content")).as("re"),
          graft.functions.TextHashFunctions.decodedPhash64(col("content"), 8).as("ph"),
          graft.functions.TextHashFunctions.decodedPhash64(
            graft.functions.TextHashFunctions.stubReencode(col("content")), 8).as("phr"))
        .collect().head
      val jvmRe = graft.llmdata.Multimodal.StubCodec.reencode(
        graft.llmdata.Multimodal.MediaRecord(0L, "image", arr)).content
      java.util.Arrays.equals(r.getAs[Array[Byte]]("re"), jvmRe) &&
        r.getAs[String]("ph") == r.getAs[String]("phr") &&
        r.getAs[String]("ph").matches("[01]{64}")
    })
  }

  test("property: minhash signature of a superset never exceeds the subset elementwise") {
    checkProp(Prop.forAll(tokenGen, tokenGen) { (a, extra) =>
      val sup = (a ++ extra).distinct
      val df = Seq((a.distinct, sup)).toDF("ga", "gb").select(
        graft.functions.TextHashFunctions.minhashSig(col("ga"), 8).as("sa"),
        graft.functions.TextHashFunctions.minhashSig(col("gb"), 8).as("sb"))
      val r = df.collect().head
      val (sa, sb) = (r.getSeq[String](0), r.getSeq[String](1))
      // each signature element is a MIN over per-gram hashes: adding grams
      // can only lower it — the monotonicity LSH banding relies on
      sa.zip(sb).forall { case (x, y) => y <= x }
    }, minTests = 15)
  }

  test("property: native winnow_fps matches the composable form and honors " +
      "the winnowing guarantee") {
    val wordGen = Gen.chooseNum(4, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "ee", "ff", "gg")))
    checkProp(Prop.forAll(wordGen, wordGen) { (wa, wb) =>
      // plant a shared run of k+w-1 = 7 words: the guarantee says the two
      // docs must then share at least one fingerprint
      val run = Seq("r1", "r2", "r3", "r4", "r5", "r6", "r7")
      val da = (wa ++ run).mkString(" ")
      val db = (run ++ wb).mkString(" ")
      val df = Seq(da, db).toDF("text")
        .withColumn("_w", split(col("text"), " "))
        .select(
          graft.functions.TextHashFunctions.winnowFps(col("_w"), 4, 4).as("native"),
          graft.llmdata.Dedup.winnowFpsComposable(col("_w")).as("composable"))
      val rows = df.collect()
      val parity = rows.forall(r =>
        r.getSeq[Long](0) == r.getSeq[Long](1))
      val shared = rows(0).getSeq[Long](0).toSet
        .intersect(rows(1).getSeq[Long](0).toSet)
      parity && shared.nonEmpty
    }, minTests = 15)
  }

  lazy val snapshot = (1 to 8).map(i => (f"001$i%03d", s"Name$i", i * 1.5))
    .toDF("Id", "Name", "Balance")

  test("property: jaro_winkler is symmetric, bounded, reflexive, and the " +
      "prefix boost never exceeds the 0.7-gated Winkler form") {
    val sGen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    checkProp(Prop.forAll(sGen, sGen) { (a, b) =>
      val rows = Seq((a, b), (b, a), (a, a)).toDF("x", "y")
        .select(graft.functions.TextHashFunctions
          .jaroWinkler(col("x"), col("y")).as("jw")).collect()
      val (ab, ba, aa) = (rows(0).getDouble(0), rows(1).getDouble(0),
        rows(2).getDouble(0))
      val bounded = ab >= 0.0 && ab <= 1.0
      val symmetric = ab == ba
      // DuckDB-pinned edge: empty on either side scores 0, even vs itself
      val reflexive = if (a.isEmpty) aa == 0.0 else aa == 1.0
      bounded && symmetric && reflexive
    }, minTests = 40)
  }

  test("property: bloom admission never false-negatives a true duplicate") {
    val textGen = Gen.nonEmptyListOf(Gen.identifier).map(_.mkString(" "))
    val corpusGen = Gen.nonEmptyListOf(textGen).map(_.distinct)
    checkProp(Prop.forAll(corpusGen, Gen.chooseNum(0, 3)) { (corpus, nDup) =>
      // incoming = nDup exact copies of corpus texts + one guaranteed-new
      // doc; ids ≡ 0 (mod 10) mark the incoming slice (dd15's fixture
      // convention), corpus docs get non-multiples
      val dups = corpus.take(nDup)
      val fresh = corpus.mkString(" ") + " definitely new tail"
      val docs =
        corpus.zipWithIndex.map { case (t, i) => (i * 10 + 1L, t) } ++
          (dups :+ fresh).zipWithIndex.map { case (t, i) => (i * 10 + 10L, t) }
      val dir = Files.createTempDirectory("graft-bloom").toString
      docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = graft.llmdata.Dedup.bloomPrefilter(spark, dir).collect()
      rows.length == dups.length + 1 &&
        // the guarantee: a true duplicate ALWAYS hits the filter
        rows.filter(_.getAs[Boolean]("is_exact_dup"))
          .forall(_.getAs[Boolean]("bloom_maybe")) &&
        // and every copied text was recognized as an exact duplicate
        rows.count(_.getAs[Boolean]("is_exact_dup")) >= dups.distinct.length
    }, minTests = 8)
  }

  test("property: routed output is a function of the change set (no order dependence)") {
    checkProp(Prop.forAll(Gen.listOfN(3, idsGen), Gen.listOfN(3, idsGen)) { (a, b) =>
      val evs = (a.map(("UPDATE", _)) ++ b.map(("DELETE", _))).zipWithIndex
        .map { case ((ct, ids), i) => envelope(i + 1, ct, ids) }
      def run(order: Seq[String]): Set[String] = {
        val changes = CdcDecode.explodeIds(
          CdcDecode.decodeJson(order.toDF("value"), col("value")))
        CdcEnrich(changes, snapshot)
          .select(to_json(struct(col("Id"), col("UIND")))).as[String]
          .collect().toSet
      }
      run(evs) == run(evs.reverse)
    }, minTests = 10)
  }

  test("property: streaming output set is independent of batchSize (B1/B4)") {
    val topic = "t_prop_batch"
    val events = (1 to 17).map(i => envelope(i, if (i % 3 == 0) "DELETE" else "UPDATE",
      Seq(f"001${i % 8 + 1}%03d")))

    def run(batchSize: Int): Set[String] = {
      ReplayBus.clear(topic)
      events.foreach(e => ReplayBus.publish(topic, e))
      val name = s"prop_b$batchSize"
      val raw = spark.readStream.format("cdc-replay")
        .option("topic", topic).option("replayFrom", "-2")
        .option("batchSize", batchSize.toString).load()
      val routed = graft.streaming.CdcPipeline.transform(raw, snapshot)
      val q = graft.streaming.CdcPipeline.toJsonLines(routed)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).select("value").as[String].collect().toSet
    }

    val full = run(1000)
    assert(run(1) == full)
    assert(run(4) == full)
    assert(full.nonEmpty)
  }

  test("property: kill + restart from checkpoint replays to the same output set") {
    val topic = "t_prop_replay"
    ReplayBus.clear(topic)
    val ckpt = Files.createTempDirectory("prop_ckpt").toString
    val out = Files.createTempDirectory("prop_out").toString
    val mk = (i: Int) => envelope(i, if (i % 4 == 0) "DELETE" else "CREATE",
      Seq(f"001${i % 8 + 1}%03d"))

    def run(): Unit = {
      val raw = spark.readStream.format("cdc-replay")
        .option("topic", topic).option("replayFrom", "-2")
        .option("batchSize", "2").load()
      val routed = graft.streaming.CdcPipeline.transform(raw, snapshot)
      val q = graft.streaming.CdcPipeline.toJsonLines(routed)
        .writeStream.format("json").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    (1 to 5).foreach(i => ReplayBus.publish(topic, mk(i)))
    run() // first run consumes 1..5
    (6 to 9).foreach(i => ReplayBus.publish(topic, mk(i)))
    run() // "restart": resumes from WAL, consumes 6..9 only

    // oracle: one batch run over all events
    val all = (1 to 9).map(mk)
    val expected = graft.streaming.CdcPipeline.toJsonLines(
      graft.streaming.CdcPipeline.transform(
        all.toDF("value"), snapshot))
      .select("value").as[String].collect().toSeq.sorted
    val got = spark.read.json(out).select("value").as[String].collect().toSeq.sorted
    assert(got == expected)
  }

  // ---------------- BPE encoders (r15): JVM-level properties -------------

  private def bpeChar(s: String, n: Int): Seq[String] =
    graft.functions.BpeUtil.encodeText(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), n)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
      .array.map(_.toString).toSeq

  private def bpeBytes(s: String): Seq[String] =
    graft.functions.BpeBytesUtil.encodeText(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      graft.functions.BpeTable.Bytes.bandN)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
      .array.map(_.toString).toSeq

  test("property: bpe_encode round-trips arbitrary space-separated text, " +
      "respects the word/char bounds, and is memo-deterministic at every " +
      "table prefix") {
    val word = Gen.chooseNum(1, 12)
      .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar)).map(_.mkString)
    val textGen = Gen.listOf(word).map(_.mkString(" "))
    val nGen = Gen.oneOf(1, 40, graft.functions.BpeTable.Char.bandN,
      graft.functions.BpeTable.Char.full.length)
    checkProp(Prop.forAll(textGen, nGen) { (text, n) =>
      val toks = bpeChar(text, n)
      val words = text.split(" ").filter(_.nonEmpty)
      val squashed = text.replace(" ", "")
      toks.mkString == squashed &&                   // lossless
        toks.length >= words.length &&               // >= 1 token per word
        toks.length <= squashed.length &&            // <= 1 token per char
        toks == bpeChar(text, n)                     // deterministic (memo)
    })
  }

  test("property: bpe_encode_ids → bpe_decode_ids is the space-squashed " +
      "identity under a corpus-derived vocab; out-of-vocab ids decode to " +
      "U+FFFD (tx34's JVM core)") {
    import org.apache.spark.unsafe.types.UTF8String
    val n = graft.functions.BpeTable.Char.bandN
    val word = Gen.chooseNum(1, 12)
      .flatMap(k => Gen.listOfN(k, Gen.alphaLowerChar)).map(_.mkString)
    val textGen = Gen.listOf(word).map(_.mkString(" "))
    checkProp(Prop.forAll(textGen) { text =>
      // vocab = lexicographic ranks of the text's own token set — the
      // same construction as TextAnalysis.bpeVocabCore
      val vocab = graft.functions.BpeVocab(
        bpeChar(text, n).distinct.sorted.zipWithIndex.toMap)
      val ids = graft.functions.BpeUtil.encodeTextIds(
        UTF8String.fromString(text), n, vocab)
      graft.functions.BpeUtil.decodeIds(ids, vocab).toString ==
        text.replace(" ", "")
    })
    // a frozen vocab meeting NEW text: UnkId and any out-of-range id
    // decode to the replacement character, never throw
    val stray = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array(0, graft.functions.BpeUtil.UnkId, 99))
    assert(graft.functions.BpeUtil.decodeIds(stray,
      graft.functions.BpeVocab(Map("x" -> 0))).toString ==
      "x��")
  }

  test("property: bpe_encode_bytes round-trips printable ASCII under the " +
      "space→Ġ map and never merges across pretoken classes") {
    val chunk = Gen.oneOf(
      Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaChar)),
      Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, Gen.numChar)),
      Gen.chooseNum(1, 4).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("!#$%&()*+,-./:;<=>?@[]^_{}~".toSeq))),
      Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, Gen.const(' '))))
    val textGen = Gen.listOf(chunk).map(_.flatten.mkString)
    checkProp(Prop.forAll(textGen) { text =>
      val toks = bpeBytes(text)
      val mapped = text.replace(' ', 'Ġ')
      val pure = toks.forall { t =>
        val core = t.replace("Ġ", "")
        Seq(core.exists(_.isLetter), core.exists(_.isDigit),
          core.exists(c => !c.isLetterOrDigit)).count(identity) <= 1
      }
      toks.mkString == mapped && pure && toks == bpeBytes(text)
    })
  }

  test("property: bpe_decode_bytes ∘ bpe_encode_bytes is the EXACT " +
      "identity — spaces included — for any text without a literal " +
      "U+0120, opaque pretokens included (tx35's JVM core)") {
    import org.apache.spark.unsafe.types.UTF8String
    val chunk = Gen.oneOf(
      Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaChar)),
      Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, Gen.numChar)),
      Gen.chooseNum(1, 4).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("!#$%&()*+,-./:;<=>?@[]^_{}~".toSeq))),
      Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, Gen.const(' '))),
      // non-ASCII -> opaque pretokens, which must pass through raw
      Gen.chooseNum(1, 2).flatMap(n => Gen.listOfN(n, Gen.oneOf("é≠ü√".toSeq))))
    val textGen = Gen.listOf(chunk).map(_.flatten.mkString)
    checkProp(Prop.forAll(textGen) { text =>
      val toks = graft.functions.BpeBytesUtil.encodeText(
        UTF8String.fromString(text), graft.functions.BpeTable.Bytes.bandN)
      graft.functions.BpeBytesUtil.decodeText(toks).toString == text
    })
    // the documented blind spot, pinned so any behavior change is loud:
    // a literal U+0120 is an opaque pretoken indistinguishable from a
    // mapped space at decode time, so it decodes as a space
    val gd = graft.functions.BpeBytesUtil.encodeText(
      UTF8String.fromString("aĠb"), graft.functions.BpeTable.Bytes.bandN)
    assert(graft.functions.BpeBytesUtil.decodeText(gd).toString == "a b")
  }

  test("bpe_encode_bytes: a pretoken with a byte outside printable ASCII " +
      "is an opaque single token, raw and unmapped (the twin-parity guard)") {
    // ' é≠' pretokenizes as ONE ' ?[^a-zA-Z0-9 ]+' match (leading space +
    // two non-alnum chars) and contains non-ASCII -> opaque, space NOT
    // mapped to Ġ inside it
    val toks = bpeBytes("ab é≠ cd")
    assert(toks.contains(" é≠"), s"opaque pretoken must pass through raw: $toks")
    assert(toks.mkString == "ab é≠Ġcd",
      s"mapped segments around the opaque token must still tile: $toks")
  }
}
