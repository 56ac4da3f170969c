package graft.extensions

import org.apache.spark.sql.{Column, GraftColumn, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke

import graft.functions.{CosineSimilarity, DotProduct, LshFunctions, TextHashFunctions => F}

/** SparkSessionExtensions entry point: registers graft's native SQL
  * functions so `spark.sql("SELECT cosine_sim(a, b) ...")` works too.
  * Enable with `.config("spark.sql.extensions", "graft.extensions.GraftExtensions")`
  * (or `.withExtensions(new GraftExtensions)`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    def reg(name: String, clazz: Class[_], build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        build))
    // a Column-API def of graft.functions, registered under its SQL name
    def native(name: String, build: Seq[Expression] => Column): Unit =
      reg(name, classOf[StaticInvoke], args => GraftColumn.expr(build(args)))
    def c(e: Expression): Column = GraftColumn.of(e)

    reg("cosine_sim", classOf[CosineSimilarity], args => CosineSimilarity(args(0), args(1)))
    reg("dot_product", classOf[DotProduct], args => DotProduct(args(0), args(1)))
    native("simhash32", a => F.simhash32(c(a(0))))
    native("simhash64", a => F.simhash64(c(a(0))))
    native("minhash_sig", a => F.minhashSig(c(a(0)), intArg(a(1), "minhash_sig")))
    native("hamming", a => F.hamming(c(a(0)), c(a(1))))
    native("jaccard", a => F.jaccard(c(a(0)), c(a(1))))
    native("lsh_code", a => LshFunctions.lshCode(c(a(0))))
    native("phash64", a => F.phash64(c(a(0)), intArg(a(1), "phash64")))
    native("decoded_phash64",
      a => F.decodedPhash64(c(a(0)), intArg(a(1), "decoded_phash64")))
    native("stub_reencode", a => F.stubReencode(c(a(0))))
    native("damerau", a => F.damerau(c(a(0)), c(a(1))))
    native("jaro_winkler", a => F.jaroWinkler(c(a(0)), c(a(1))))
    native("winnow_fps", a => F.winnowFps(c(a(0)), intArg(a(1), "winnow_fps"),
      intArg(a(2), "winnow_fps")))
    native("bpe_encode", a =>
      if (a.length > 1) F.bpeEncode(c(a(0)), intArg(a(1), "bpe_encode"))
      else F.bpeEncode(c(a(0))))
    native("bpe_encode_bytes", a =>
      if (a.length > 1) F.bpeEncodeBytes(c(a(0)), intArg(a(1), "bpe_encode_bytes"))
      else F.bpeEncodeBytes(c(a(0))))
    native("bpe_decode_bytes", a => F.bpeDecodeBytes(c(a(0))))
  }
}
