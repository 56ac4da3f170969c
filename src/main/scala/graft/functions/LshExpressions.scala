package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Random-hyperplane LSH code as a native function.
  *
  * The composable form (8 hyperplanes × 64 `lit(sign) * element_at(v, i)`
  * terms) builds a ~1000-node expression tree whose analysis/codegen cost
  * dwarfs the actual arithmetic on small inputs and bloats generated
  * methods on large ones. This is one tight loop.
  *
  * Hyperplane signs are derived from md5("hp:<j>:<d>") — top bit of the
  * first digest byte — the same deterministic derivation the DuckDB oracle
  * embeds as literals, and dots accumulate in index order: bit-identical
  * codes across engines.
  */
object HyperplaneLsh {

  val NumHyperplanes = 8
  val Dim = 64

  /** signs(j)(d) ∈ {+1,-1}. */
  lazy val signs: Array[Array[Double]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(NumHyperplanes, Dim) { (j, d0) =>
      val hex = md.digest(s"hp:$j:${d0 + 1}".getBytes(StandardCharsets.UTF_8))
      if ((hex(0) & 0x80) != 0) 1.0 else -1.0
    }
  }

  /** 8-char '0'/'1' code of a double vector. */
  def code(v: ArrayData): UTF8String = {
    val n = math.min(v.numElements(), Dim)
    val out = new Array[Byte](NumHyperplanes)
    var j = 0
    while (j < NumHyperplanes) {
      val s = signs(j)
      var dot = 0.0
      var d = 0
      while (d < n) {
        dot += s(d) * v.getDouble(d)
        d += 1
      }
      out(j) = if (dot > 0) '1'.toByte else '0'.toByte
      j += 1
    }
    UTF8String.fromBytes(out)
  }
}

object LshFunctions {
  /** `lsh_code(v)` over array<double>; an array<float> argument is widened
    * by Spark's implicit cast, which is exact, so the code is the same. */
  def lshCode(v: Column): Column =
    GraftColumn.staticCall(HyperplaneLsh, "code", StringType, Seq(v),
      Seq(ArrayType(DoubleType)), returnsNull = false)
}
