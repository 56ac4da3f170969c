package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded top-k per group as a typed `Aggregator` — the scale-friendly
  * alternative to `row_number().over(window) <= k`: a window sorts every
  * group's FULL row set (and the whole shuffle partition) before discarding
  * all but k rows; this aggregator keeps a k-bounded buffer through the
  * normal partial-aggregation shuffle, so memory is O(k) per group and the
  * sort is over k elements, not the group. Semantics: top k by
  * (score DESC, id ASC) — a deterministic total order.
  */
object TopKByScore {

  final case class Entry(score: Double, id: Long)
  final case class Buf(entries: List[Entry])

  /** (score desc, id asc) — matches ORDER BY score DESC, id. Also the
    * serve walk's frontier order ([[ServeWalk]]). */
  val ord: Ordering[Entry] =
    Ordering.by[Entry, (Double, Long)](e => (-e.score, e.id))

  class Agg(k: Int) extends Aggregator[Entry, Buf, Seq[Entry]] {
    private def trim(l: List[Entry]): List[Entry] = {
      val s = l.sorted(ord)
      if (s.size <= k) s else s.take(k)
    }
    override def zero: Buf = Buf(Nil)
    override def reduce(b: Buf, e: Entry): Buf =
      // fast path: buffer full and candidate sorts after the current last
      if (b.entries.size >= k && ord.gteq(e, b.entries.last)) b
      else Buf(trim(e :: b.entries))
    override def merge(a: Buf, b: Buf): Buf = Buf(trim(a.entries ++ b.entries))
    override def finish(b: Buf): Seq[Entry] = b.entries
    override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    override def outputEncoder: Encoder[Seq[Entry]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Entry]]()
  }

  /** Column form: the product input encoder flattens Entry to two args. */
  def topK(score: Column, id: Column, k: Int): Column =
    udaf(new Agg(k), Encoders.product[Entry]).apply(score, id)
}

/** Bounded FIRST-k by (string key ASC, id ASC), each entry carrying a
  * long payload — the deterministic-sample-with-accounting shape: rank by
  * an md5 hex digest (128-bit order that a Double score cannot represent
  * exactly), keep the k lowest, and let the payload (e.g. a token count)
  * ride along so sample statistics come straight off the aggregate with
  * no join back to the corpus. Same O(k)-per-group contract as
  * [[TopKByScore]]: the buffer survives the normal partial-aggregation
  * shuffle, so no group is ever sorted whole.
  */
object BottomKByKey {

  final case class KEntry(key: String, id: Long, payload: Long)
  final case class KBuf(entries: List[KEntry])

  /** (key asc, id asc) — matches ORDER BY key, id. */
  private val ord: Ordering[KEntry] =
    Ordering.by[KEntry, (String, Long)](e => (e.key, e.id))

  class Agg(k: Int) extends Aggregator[KEntry, KBuf, Seq[KEntry]] {
    private def trim(l: List[KEntry]): List[KEntry] = {
      val s = l.sorted(ord)
      if (s.size <= k) s else s.take(k)
    }
    override def zero: KBuf = KBuf(Nil)
    override def reduce(b: KBuf, e: KEntry): KBuf =
      if (b.entries.size >= k && ord.gteq(e, b.entries.last)) b
      else KBuf(trim(e :: b.entries))
    override def merge(a: KBuf, b: KBuf): KBuf = KBuf(trim(a.entries ++ b.entries))
    override def finish(b: KBuf): Seq[KEntry] = b.entries
    override def bufferEncoder: Encoder[KBuf] = Encoders.product[KBuf]
    override def outputEncoder: Encoder[Seq[KEntry]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[KEntry]]()
  }

  /** Column form; result is array<struct<key,id,payload>> of the k
    * first entries in (key, id) order. */
  def bottomK(key: Column, id: Column, payload: Column, k: Int): Column =
    udaf(new Agg(k), Encoders.product[KEntry]).apply(key, id, payload)
}
