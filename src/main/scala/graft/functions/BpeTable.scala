package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.unsafe.types.UTF8String

/** A trained BPE merge table: the one home of the table format, the
  * default band size, the prefix range check and the per-prefix merge
  * state behind both tokenizers ([[BpeUtil]], char level; [[BpeBytesUtil]],
  * byte level).
  *
  * The tables are data, written by `tools/train_bpe.py <sf0.1 dir> 2000
  * char|bytes` as `{"band": N, "merges": [[left, right], ...]}`, one pair
  * per line, rank = position. Each level is read once per JVM, on first
  * use.
  *
  * PREFIX PROPERTY: merges are learned in global frequency order, so
  * `full.take(n)` is itself the exact n-merge table for the training
  * corpus (the fixtures' full text surface, word-frequency weighted).
  * `band` is the prefix the trainer measures as the smallest whose
  * fertility over `documents` is <= 1.35 tokens/word (the published
  * ~1.1-1.6 band: 153 merges at 1.328 for char, 158 at 1.337 for bytes);
  * it is the DEFAULT table for the documents-family operators. Beyond
  * ~N=160 the fixture's closed 31-word prose vocabulary merges completely
  * (fertility exactly 1.0 and packing drift identically 0 — the measured
  * saturation that bounds the default table; documents-only training
  * exhausts outright at 89 merges). `full` is used where a realistic-size
  * table is non-degenerate: the cross-domain audit's entity-name domains.
  */
final class BpeTable private (
    /** (left, right) merge pairs in training order; rank = index. */
    val full: IndexedSeq[(String, String)],
    /** Default-table size (see the class scaladoc). */
    val bandN: Int) {

  /** The default (documents-family) table: the band prefix. */
  def band: IndexedSeq[(String, String)] = full.take(bandN)

  private val prefixes = new ConcurrentHashMap[Integer, BpeTable.Prefix]()

  /** The merge state of the first-`n`-merges table, built once per JVM;
    * `fn` names the SQL function in the range error. The table is
    * immutable data, so prefixes are JVM-global and never cleared; only a
    * handful of prefix sizes exist in practice (band, full). */
  def prefix(n: Int, fn: String): BpeTable.Prefix = {
    require(n > 0 && n <= full.length,
      s"$fn: merge-table prefix $n out of range 1..${full.length}")
    prefixes.computeIfAbsent(Integer.valueOf(n),
      k => new BpeTable.Prefix(full.take(k.intValue()).toArray))
  }
}

object BpeTable {
  /** Character-level table (codepoint symbols, whitespace-split words). */
  lazy val Char: BpeTable = load("char")
  /** Byte-level table (GPT-2-shaped pretokens, space → U+0120). */
  lazy val Bytes: BpeTable = load("bytes")

  private def load(level: String): BpeTable = {
    val in = getClass.getResourceAsStream(s"/graft/bpe/merges_$level.json")
    require(in != null, s"BPE merge table for level $level is missing")
    val root =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
    val ms = root.get("merges")
    new BpeTable((0 until ms.size).map(i => (ms.get(i).get(0).asText, ms.get(i).get(1).asText)),
      root.get("band").asInt)
  }

  /** All per-prefix state for one n-merge table view. */
  final class Prefix(mergeArr: Array[(String, String)]) {
    /** rank(left + NUL + right) → merge priority; the U+0000 joiner
      * cannot appear inside a token on either level. Boxed Integer, NOT
      * Int: a HashMap[String, Int].get would unbox an absent-key null to
      * 0, aliasing every unknown pair to rank 0 and spinning the merge
      * loop forever. */
    private val rank: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer]()
      var i = 0
      while (i < mergeArr.length) {
        m.put(mergeArr(i)._1 + "\u0000" + mergeArr(i)._2, Integer.valueOf(i))
        i += 1
      }
      m
    }

    /** Per-word (char level) or per-pretoken (byte level) encode memo.
      * Capping is approximate by design: the size check and the
      * putIfAbsent are not atomic together, so the cap can overshoot by
      * ~thread count; putIfAbsent keeps the entry itself race-free.
      * Never cleared: safe only because the table is immutable. */
    val memo = new ConcurrentHashMap[String, Array[UTF8String]]()

    /** The greedy lowest-rank merge loop of both levels: find the
      * lowest-rank adjacent pair, merge every left-to-right
      * non-overlapping occurrence, repeat until no ranked pair remains. */
    def merge(toks0: Array[String]): Array[String] = {
      var toks = toks0
      var done = toks.length <= 1
      while (!done) {
        var best = Int.MaxValue
        var j = 0
        while (j < toks.length - 1) {
          val r = rank.get(toks(j) + "\u0000" + toks(j + 1))
          if (r != null && r.intValue() < best) best = r.intValue()
          j += 1
        }
        if (best == Int.MaxValue) done = true
        else {
          val (a, b) = mergeArr(best)
          val out = new java.util.ArrayList[String](toks.length)
          var k = 0
          while (k < toks.length) {
            if (k + 1 < toks.length && toks(k) == a && toks(k + 1) == b) {
              out.add(a + b); k += 2
            } else { out.add(toks(k)); k += 1 }
          }
          toks = out.toArray(new Array[String](out.size))
          if (toks.length <= 1) done = true
        }
      }
      toks
    }
  }
}
