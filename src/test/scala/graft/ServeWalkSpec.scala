package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{array, col, explode, lit, struct}

import graft.functions.{ServeIndex, ServeWalk, VectorFunctions}
import graft.llmdata.Dedup

/** The serve walk's contract — the rules the DuckDB twins' unrolled hop
  * chain follows: candidates are the frontier's distinct neighbors minus
  * everything visited, a node without a vector is skipped and never
  * visited, the frontier is the top-beam of the newly scored nodes by
  * (score desc, node id), an empty frontier ends the walk, and scores are
  * bit-identical to `cosine_sim` / `dot_product`. */
class ServeWalkSpec extends SparkSpec {

  /** Seven nodes scored by the dot against q = (1, 0), so each score is
    * the vector's first component:
    * {{{
    *   1 (entry) ── 2 (0.8) ── 5 (0.3)
    *     ├───────── 3 (0.8) ── 6 (0.9) ── 7 (0.2)
    *     └───────── 4 (no vector)
    * }}}
    * 2 and 3 tie; 5 and 7 are dead ends. */
  private val graph = ServeIndex.build(
    Seq(1L -> 3L, 1L -> 2L, 4L -> 1L, 2L -> 5L, 6L -> 3L, 6L -> 7L),
    Seq(1L -> Array(0.5, 0.0), 2L -> Array(0.8, 0.1), 3L -> Array(0.8, -0.3),
      5L -> Array(0.3, 0.0), 6L -> Array(0.9, 0.0), 7L -> Array(0.2, 0.0)),
    cosine = false)

  private def walk(beam: Int, hops: Int): Seq[(Long, Double, Int)] = {
    val q = spark.range(1).select(
      array(lit(1.0), lit(0.0)).as("q"),
      array(struct(lit(1L).as("node_id"), lit(0.5).as("score"))).as("entries"))
    q.select(explode(ServeWalk.visited(col("q"), col("entries"), graph, beam, hops)).as("w"))
      .select(col("w.node_id"), col("w.score"), col("w.hop"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      .sortBy(r => (r._3, r._1))
  }

  test("beam 1: the 0.8 tie keeps node 2 (lower id), the vectorless node 4 " +
      "is never visited, and the walk ends on an empty frontier") {
    // hop 1 scores 2 and 3 (4 has no vector); the frontier keeps 2 alone;
    // hop 2 scores 5; 5's only neighbor is visited, so hop 3 has no
    // candidate and the walk stops short of its 5-hop budget
    assert(walk(beam = 1, hops = 5) == Seq(
      (1L, 0.5, 0), (2L, 0.8, 1), (3L, 0.8, 1), (5L, 0.3, 2)))
  }

  test("beam 2: both tied nodes expand, and each node is scored once, at " +
      "its first hop") {
    assert(walk(beam = 2, hops = 5) == Seq(
      (1L, 0.5, 0), (2L, 0.8, 1), (3L, 0.8, 1), (5L, 0.3, 2), (6L, 0.9, 2),
      (7L, 0.2, 3)))
    // the hop budget cuts the walk as the twin's unroll depth does
    assert(walk(beam = 2, hops = 1).map(_._1) == Seq(1L, 2L, 3L))
  }

  test("the walk's cosine and dot equal cosine_sim and dot_product bit for " +
      "bit over every (query, corpus) pair of the benchmark fixture") {
    val e = spark.read.parquet("perfbench/data/sf0.001/embeddings.parquet")
      .select(col("vec_id"), Dedup.vecD(col("embedding")).as("v"))
    val nq = graft.llmdata.Similarity.NumQueries
    val pairs = e.filter(col("vec_id") < nq).select(col("v").as("q"))
      .crossJoin(e.filter(col("vec_id") >= nq))
      .select(col("q"), col("v"),
        VectorFunctions.cosineSim(col("q"), col("v")).as("cos"),
        VectorFunctions.dotProduct(col("q"), col("v")).as("dot"))
      .collect()
    assert(pairs.length > 1000)
    def vec(r: Row, i: Int): Array[Double] = r.getSeq[Double](i).toArray
    pairs.foreach { r =>
      val (q, v) = (vec(r, 0), vec(r, 1))
      assert(java.lang.Double.doubleToLongBits(ServeWalk.cosine(q, v)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)))
      assert(java.lang.Double.doubleToLongBits(ServeWalk.dot(q, v)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
  }
}
