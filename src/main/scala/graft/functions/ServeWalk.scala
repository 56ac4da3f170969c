package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The graph a serve walk searches, built once on the driver and shipped
  * with the plan as a literal (like [[BpeVocab]]): the undirected
  * adjacency as one sorted neighbor-id array per node, the node vectors,
  * and the score kind — exact cosine, or the dot product against
  * dequantized SQ8 codes (ss21). Both id columns are sorted, so a lookup
  * is a binary search.
  *
  * Size: O(corpus) — every node's vector plus at most twice the edge
  * count in longs (at 1 990 64-dim vectors and out-degree 10, 1.0 MB of
  * vectors and at most 0.3 MB of adjacency). It rides in each stage's
  * task binary, so it bounds the corpus one driver can serve; SCALING.md
  * records the bound. */
final case class ServeIndex(nodes: Array[Long], adjacency: Array[Array[Long]],
    vecIds: Array[Long], vectors: Array[Array[Double]], cosine: Boolean) {

  def neighbors(id: Long): Array[Long] = {
    val i = java.util.Arrays.binarySearch(nodes, id)
    if (i >= 0) adjacency(i) else Array.emptyLongArray
  }

  /** The node's vector, or null when the store has none. */
  def vector(id: Long): Array[Double] = {
    val i = java.util.Arrays.binarySearch(vecIds, id)
    if (i >= 0) vectors(i) else null
  }

  def score(q: Array[Double], v: Array[Double]): Double =
    if (cosine) ServeWalk.cosine(q, v) else ServeWalk.dot(q, v)

  /** The same graph scored against other vectors. */
  def withVectors(vecs: Iterable[(Long, Array[Double])], cosine: Boolean): ServeIndex = {
    val byId = vecs.toArray.sortBy(_._1)
    copy(vecIds = byId.map(_._1), vectors = byId.map(_._2), cosine = cosine)
  }

  override def toString: String =
    s"ServeIndex(${nodes.length} nodes, ${vecIds.length} ${if (cosine) "cosine" else "dot"} vectors)"
}

object ServeIndex {
  /** Index over directed `edges` (each is walked both ways). */
  def build(edges: Iterable[(Long, Long)], vecs: Iterable[(Long, Array[Double])],
      cosine: Boolean): ServeIndex = {
    val both = edges.iterator.flatMap { case (s, n) => Iterator((s, n), (n, s)) }
      .toArray.groupMap(_._1)(_._2)
    val nodes = both.keys.toArray.sorted
    ServeIndex(nodes, nodes.map(both(_).distinct.sorted), Array.emptyLongArray,
      Array.empty, cosine).withVectors(vecs, cosine)
  }
}

/** Per-query beam search over a [[ServeIndex]], one
  * [[GraftColumn.staticCall]] per query row (ss17/ss19/ss20/ss21 and
  * `AnnIngest`'s inserts). It is the loop the DuckDB twins unroll as one
  * CTE chain per hop, and keeps their rules exactly:
  *
  *  - the entries are hop 0 and start the frontier;
  *  - hop h's candidates are the distinct neighbors of the frontier,
  *    minus every node visited so far;
  *  - a candidate without a vector is skipped and not marked visited
  *    (the twin's inner score join);
  *  - the next frontier is the top-`beam` of the nodes newly scored at
  *    hop h in [[TopKByScore.ord]] order (score desc, then node id);
  *  - an empty frontier ends the walk, and so does hop `hops`.
  *
  * Scores come from [[cosine]] and [[dot]], whose left-to-right double
  * arithmetic is that of `cosine_sim` and `dot_product`, so every double
  * is bit-identical to the twins' (ServeWalkSpec). Work per query is
  * O(hops·beam·degree) scored nodes. */
object ServeWalk {
  private val Index = ObjectType(classOf[ServeIndex])
  private val EntryType = ArrayType(StructType(Seq(
    StructField("node_id", LongType), StructField("score", DoubleType))))
  private val Visit = StructType(Seq(
    StructField("node_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("hop", IntegerType, nullable = false)))

  /** array<struct<node_id, score, hop>> of every node the walk from
    * `entries` (array<struct<node_id, score>>) scores for query vector
    * `q`, entries included at hop 0. */
  def visited(q: Column, entries: Column, index: ServeIndex, beam: Int,
      hops: Int): Column =
    GraftColumn.staticCall(this, "walk", ArrayType(Visit, containsNull = false),
      Seq(q, entries, GraftColumn.of(Literal.create(index, Index)),
        GraftColumn.of(Literal(beam)), GraftColumn.of(Literal(hops))),
      Seq(ArrayType(DoubleType), EntryType, Index, IntegerType, IntegerType),
      returnsNull = false)

  def walk(q: ArrayData, entries: ArrayData, index: ServeIndex, beam: Int,
      hops: Int): ArrayData = {
    val qv = q.toDoubleArray()
    val out = mutable.ArrayBuffer.empty[InternalRow]
    def emit(id: Long, score: Double, hop: Int): Unit =
      out += new GenericInternalRow(Array[Any](id, score, hop))
    val entry = (0 until entries.numElements()).map(entries.getStruct(_, 2))
      .sortBy(_.getLong(0))
    entry.foreach(r => emit(r.getLong(0), r.getDouble(1), 0))
    var frontier: Seq[Long] = entry.map(_.getLong(0))
    val seen = mutable.HashSet.empty[Long] ++= frontier
    var hop = 1
    while (hop <= hops && frontier.nonEmpty) {
      val cands = frontier.flatMap(index.neighbors(_)).distinct.filterNot(seen).sorted
      val scored = cands.flatMap { id =>
        Option(index.vector(id)).map(v => TopKByScore.Entry(index.score(qv, v), id))
      }
      scored.foreach { e => seen += e.id; emit(e.id, e.score, hop) }
      frontier = scored.sorted(TopKByScore.ord).take(beam).map(_.id)
      hop += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** `cosine_sim` over two double vectors: the same loop as
    * [[CosineSimilarity]], common prefix included. */
  def cosine(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      dot += x(i) * y(i)
      na += x(i) * x(i)
      nb += y(i) * y(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** `dot_product` over two double vectors: the same loop as
    * [[DotProduct]]. */
  def dot(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var d = 0.0
    var i = 0
    while (i < n) {
      d += x(i) * y(i)
      i += 1
    }
    d
  }
}
