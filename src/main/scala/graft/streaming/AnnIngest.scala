package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.llmdata.{Dedup, SessionCache, Similarity}

/** INCREMENTAL ANN-INDEX MAINTENANCE (r12 verdict task 3 — the
  * dd12-for-vectors), r14: VERSIONED DELTA-LOG ARTIFACTS. Admitted
  * embeddings upsert into a PERSISTED ANN index instead of
  * rebuild-per-snapshot. The index artifact set extends the ss7/ss17
  * `write_index` posture:
  *
  *   /exemplars  (cell, cv)            — the trained IVF codebook (static)
  *   /vectors    (vec_id, v)           +batch_id — the indexed vector store
  *   /cells      (vec_id, cell)        +batch_id — scan-side IVF assignment
  *   /graph      (src_id, out_rank, neighbor_id, cos_sim, diversified)
  *               +batch_id             — the ss18 diversified serving graph
  *
  * vectors/cells/graph are `batch_id`-partitioned DELTA LOGS, each batch
  * written through [[CdcPipeline.exactlyOnceBatchWrite]] (r13 verdict task 4):
  * the full build lands as partition [[BaseBatchId]], and each upsert
  * batch writes ONLY its delta — the new vectors/cells plus the new and
  * re-trimmed adjacency lists — into its own partition via dynamic
  * partition overwrite. The read side is a LATEST VIEW: per key
  * (vec_id, or src_id for the graph) the rows of that key's highest
  * batch_id win. Consequences, each closing an r13 residual:
  *
  *   - EXACTLY-ONCE without markers: replaying batch N recomputes the
  *     identical delta from prior state (strictly `batch_id < N` — a
  *     partial first attempt is invisible to the replay) and rewrites
  *     exactly partition N of each artifact. A crash midway through the
  *     three writes — including a TORN single-artifact write, the case
  *     the r13 design could not recover — heals to the never-crashed
  *     bytes instead of re-trimming against leaked state
  *     (spec-adjudicated with a failpoint between the writes).
  *   - TRUE UPSERT: a batch re-embedding EXISTING ids is an update, not
  *     a skipped replay (the r13 id-presence check silently dropped it):
  *     its delta supersedes the old rows in the latest view, and the
  *     updated vectors are re-inserted into the graph against prior
  *     state minus themselves. Residual: in-edges held by UNTOUCHED
  *     nodes keep their stale similarity scores until the periodic
  *     rebuild — the same amortization every production graph index
  *     makes; found neighbors' lists are re-trimmed with fresh scores.
  *   - SCALE: an upsert writes O(batch · degree) rows, never the whole
  *     artifact (the r13 design rewrote the full graph per batch). The
  *     latest view is one window over versions of each key; on a
  *     lakehouse table the same batch_id column drives MERGE INTO and
  *     compaction replaces the version tail — parquet partitions are
  *     the offline stand-in, same as CdcMaterialize's ledgers.
  *
  * An insert batch follows the HNSW insert shape: each new vector is
  * ASSIGNED to its cell scan-side with the stored codebook (training is
  * stable — the documented staleness contract), then SEARCHED against
  * the existing graph (an insert IS a serve-search for the insertion
  * neighborhood), its top-R results become its out-edges, and each found
  * neighbor's adjacency list is re-trimmed to top-R by similarity with
  * the new back-edge as a candidate. Inserted edges carry
  * `diversified = false` — they are similarity-trimmed, not
  * occlusion-rule-checked; a periodic rebuild ([[writeAnnIndex]], i.e.
  * the ss16+ss18 build) restores rule-pruned edge sets and compacts the
  * version tail, exactly how production graph indexes amortize insert
  * cost against rebuild quality. Batch vectors never score each other:
  * ordering within a batch cannot matter.
  */
object AnnIngest {

  /** The full build's version; stream batch ids (0, 1, …) sort above. */
  final val BaseBatchId = -1L

  /** Dynamic partition overwrite of exactly this batch's partition —
    * [[CdcPipeline.exactlyOnceBatchWrite]] on a parquet artifact. */
  private def writeDelta(df: DataFrame, path: String, batchId: Long): Unit =
    CdcPipeline.exactlyOnceBatchWrite(df, batchId).parquet(path)

  /** Full (static) overwrite as the base version — the build/compaction
    * write: unlike [[writeDelta]] it replaces the WHOLE artifact,
    * dropping every prior version partition. */
  private def writeBase(df: DataFrame, path: String): Unit =
    df.withColumn("batch_id", lit(BaseBatchId)).write.mode("overwrite")
      // pinned, not inherited: under a session/global "dynamic" default
      // this would replace only partition -1 and leave stale delta
      // partitions outranking the fresh base in every latest view
      .option("partitionOverwriteMode", "static")
      .partitionBy("batch_id")
      .parquet(path)

  /** Latest view of a delta-log artifact: per `key`, the rows of the
    * highest batch_id ≤ `upTo` win (pass Long.MaxValue for the serving
    * view; an upsert passes its own batchId − 1 so a partial prior
    * attempt of ITSELF is invisible). */
  private[graft] def latestView(df: DataFrame, key: String,
                                upTo: Long = Long.MaxValue): DataFrame = {
    val w = Window.partitionBy(col(key))
    df.filter(col("batch_id") <= upTo)
      .withColumn("_mx", max(col("batch_id")).over(w))
      .filter(col("batch_id") === col("_mx"))
      .drop("_mx", "batch_id")
  }

  /** Highest batch whose COMMIT MARKER landed: the upsert write order
    * puts /vectors last, so the max batch_id present there is the newest
    * fully-committed version. Serving reads bound by this so a torn
    * later /graph or /cells partition (crash between the three writes,
    * before the replay heals it) never leaks into a query.
    *
    * Assumption (r14 ADVICE, documented): the FINAL /vectors partition
    * write must itself be effectively atomic — true in practice for the
    * parquet committer's task-then-job rename protocol on a real
    * filesystem, where the partition becomes visible only at job commit.
    * A filesystem without atomic rename can expose a partially-visible
    * partition that raises the marker early; a production deployment
    * puts a transactional table (or a per-batch _commit file) under
    * this, exactly as the delta-log design anticipates. */
  def committedBatchId(spark: SparkSession, indexDir: String): Long = {
    // partition-column inference reads batch_id back as INT — cast
    val row = spark.read.parquet(s"$indexDir/vectors")
      .agg(max(col("batch_id").cast(LongType))).collect()(0)
    if (row.isNullAt(0)) BaseBatchId else row.getLong(0)
  }

  /** The serving-time latest graph of a versioned index — bounded by
    * [[committedBatchId]], not by whatever partitions exist. */
  def latestGraph(spark: SparkSession, indexDir: String): DataFrame =
    latestView(spark.read.parquet(s"$indexDir/graph"), "src_id",
      committedBatchId(spark, indexDir))

  /** Full index build from a fixture dir — the rebuild path an
    * incremental deployment runs periodically. Rebuilding into a live
    * index dir compacts it: mode("overwrite") without dynamic partition
    * overwrite drops every prior version partition. */
  def writeAnnIndex(spark: SparkSession, dir: String, out: String): Unit = {
    writeBase(Similarity.graphDiversify(spark, dir), s"$out/graph")
    val ex = Similarity.exemplarsOf(spark, dir)
    ex.write.mode("overwrite").parquet(s"$out/exemplars")
    val vecs = graft.sources.Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") >= Similarity.NumQueries)
      .select(col("vec_id"), Dedup.vecD(col("embedding")).as("v"))
    writeBase(vecs, s"$out/vectors")
    writeBase(Similarity.assignCellsWith(vecs, "v", ex)
      .select(col("vec_id"), col("cell")), s"$out/cells")
  }

  /** Upsert one batch of (vec_id, embedding) rows into the persisted
    * index at `indexDir` as version `batchId`. Safe to call from
    * `foreachBatch`: a replay (same batchId) rewrites exactly its own
    * partition with the identical delta; a crash between the three
    * artifact writes heals on replay. `failpoint(i)` fires before the
    * i-th artifact write (0 = graph, 1 = cells, 2 = vectors) — the
    * crash-adjudication spec's hook, a no-op in production. Every frame
    * the upsert pins is released before it returns or throws; the
    * insert search collects the prior graph and vector store into one
    * driver-side index (O(index), like the serve path) and pins nothing. */
  def upsertVectors(spark: SparkSession, indexDir: String,
                    batch: DataFrame, batchId: Long,
                    failpoint: Int => Unit = _ => ()): Unit =
    SessionCache.withPins { pins =>
      val newV = batch
        .select(col("vec_id"), Dedup.vecD(col("embedding")).as("v"))
        .transform(pins.pin)
      val newIds = newV.select(col("vec_id"))
      def prior(name: String, key: String): DataFrame =
        latestView(spark.read.parquet(s"$indexDir/$name"), key, batchId - 1)

      // prior state EXCLUDING the batch ids: for an UPDATE batch the old
      // version of each vector leaves the searchable store (else the
      // re-insert would find its own stale self as a neighbor)
      val vectors = prior("vectors", "vec_id")
        .join(newIds, Seq("vec_id"), "left_anti").transform(pins.pin)
      val graph = prior("graph", "src_id").transform(pins.pin)
      val ex = spark.read.parquet(s"$indexDir/exemplars")
      val nPrior = vectors.count()
      // the stored graph's own out-degree is the trim bound (max out_rank —
      // one scalar, deterministic from the artifact); a degenerate empty
      // prior graph (tiny index fully covered by the batch) falls back to
      // the build formula instead of NPE-ing the stream
      val rRow = graph.agg(max(col("out_rank"))).collect()(0)
      val r =
        if (rRow.isNullAt(0))
          Similarity.pruneDegreeOf(Similarity.degreeOf(math.max(nPrior, 2L)))
        else rRow.getLong(0).toInt

      // 1) HNSW insert = serve-search: new vectors as queries against the
      //    prior graph/vector store; entries restricted to exemplar cells
      //    that are still prior nodes (a batch could contain an exemplar
      //    id). Nodes whose vector left the store (updated ids reachable
      //    via stale in-edges) are skipped by the walk, never visited.
      val exPrior = ex.join(vectors.select(col("vec_id").as("cell")), "cell")
      val q = newV.select(col("vec_id").as("query_id"), col("v").as("q"))
      val visited = Similarity.serveSearch(q, exPrior,
        Similarity.serveIndexOf(graph, vectors),
        beam = 8, entries = 3, hops = Similarity.serveHopsOf(nPrior))
      val found = visited.groupBy(col("query_id"))
        .agg(graft.functions.TopKByScore.topK(
          col("score"), col("node_id"), r).as("top"))
        .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("query_id").as("src_id"),
          (col("pos") + 1).cast(LongType).as("out_rank"),
          col("e.id").as("neighbor_id"), col("e.score").as("cos_sim"),
          lit(false).as("diversified"))
        .transform(pins.pin)

      // 2) back-edges: every found neighbor re-trims its list to top-r by
      //    similarity with the new vectors as candidates; its prior edges
      //    INTO batch ids (stale versions, update case) leave the list
      val backCand = found
        .select(col("neighbor_id").as("src_id"), col("src_id").as("neighbor_id"),
          col("cos_sim"), lit(false).as("diversified"))
      val touchedIds = backCand.select(col("src_id")).distinct()
      val touchedOld = graph.join(touchedIds, Seq("src_id"), "left_semi")
        .join(newIds.withColumnRenamed("vec_id", "neighbor_id"),
          Seq("neighbor_id"), "left_anti")
        .select(col("src_id"), col("neighbor_id"), col("cos_sim"),
          col("diversified"))
      val w = Window.partitionBy(col("src_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      val touchedNew = touchedOld.union(backCand)
        .withColumn("out_rank", row_number().over(w).cast(LongType))
        .filter(col("out_rank") <= r)
        .select(col("src_id"), col("out_rank"), col("neighbor_id"),
          col("cos_sim"), col("diversified"))

      // 3) the batch's DELTA: new + re-trimmed lists only — untouched
      //    nodes' lists stay in their prior partitions (the latest view
      //    supersedes per src_id, so nothing else needs rewriting)
      val graphDelta = touchedNew.union(found.select(touchedNew.columns
          .map(col).toIndexedSeq: _*))
        .orderBy(col("src_id"), col("out_rank")).transform(pins.pin)
      val cellsDelta = Similarity.assignCellsWith(newV, "v", ex)
        .select(col("vec_id"), col("cell")).orderBy(col("vec_id"))
        .transform(pins.pin)
      val vectorsDelta = newV.orderBy(col("vec_id")).transform(pins.pin)

      // the pins above materialize every delta BEFORE any overwrite (the
      // deltas' lineage reads the same parquet roots being written);
      // vectors last preserves the r13 reader convention (a fully-present
      // vectors partition implies the sibling partitions landed)
      failpoint(0)
      writeDelta(graphDelta, s"$indexDir/graph", batchId)
      failpoint(1)
      writeDelta(cellsDelta, s"$indexDir/cells", batchId)
      failpoint(2)
      writeDelta(vectorsDelta, s"$indexDir/vectors", batchId)
    }

  // -------------------------------------------------------------------
  // Version-tail management (r15): the latest view is one window over
  // ALL delta partitions, so serve-read amplification grows linearly
  // with upsert count (measured in SCALING.md's version-tail probe).
  // Compaction rewrites the latest view as a fresh base and drops the
  // tail — the MERGE-INTO/OPTIMIZE step of a lakehouse table, run here
  // on the parquet stand-in.

  /** Version-tail statistics of the /graph artifact (the largest and
    * the serve-path one): committed delta versions and their row share
    * vs the base. ONE column-pruned scan of `batch_id`. */
  final case class TailStats(nVersions: Long, deltaRows: Long,
                             baseRows: Long) {
    def deltaShare: Double =
      if (baseRows > 0) deltaRows.toDouble / baseRows
      else if (deltaRows > 0) Double.PositiveInfinity
      else 0.0
  }

  def tailStats(spark: SparkSession, indexDir: String,
                upTo: Long = Long.MaxValue): TailStats = {
    val bound = math.min(committedBatchId(spark, indexDir), upTo)
    val r = spark.read.parquet(s"$indexDir/graph")
      .select(col("batch_id").cast(LongType).as("b"))
      .filter(col("b") <= bound)
      .agg(
        countDistinct(when(col("b") > BaseBatchId, col("b"))).as("nv"),
        count(when(col("b") > BaseBatchId, 1)).as("dr"),
        count(when(col("b") === BaseBatchId, 1)).as("br"))
      .collect()(0)
    TailStats(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Compaction trigger defaults: rebuild the base when the committed
    * tail exceeds [[CompactMaxVersions]] versions OR its rows exceed
    * [[CompactMaxDeltaShare]] of the base. The version count bounds the
    * PARTITION/file amplification every latest-view read pays (the
    * probe's dominant term at small batches); the row share bounds the
    * window's data amplification when batches are large. Compaction
    * costs one full-artifact rewrite, amortized to ≤ 1/K of that per
    * batch by the trigger. */
  final val CompactMaxVersions = 16
  final val CompactMaxDeltaShare = 0.25

  /** Rewrite each artifact's LATEST VIEW (bounded by the /vectors commit
    * marker and `upTo`) as the new base partition, dropping the version
    * tail. CONTENT-PRESERVING by construction: the new base IS the
    * latest view's rows (copied, never recomputed — no float re-derive),
    * which LlmDataSpec asserts byte-identically.
    *
    * Crash-safety uses the same "/vectors last" convention as the
    * upsert: a crash after the graph/cells base writes but before the
    * vectors write leaves committedBatchId at the old bound, and the
    * already-compacted artifacts' latest views are IDENTICAL to their
    * pre-compaction views (base == view-at-bound), so serving stays
    * correct and a re-run finishes the job idempotently. */
  def compact(spark: SparkSession, indexDir: String,
              upTo: Long = Long.MaxValue): Unit = {
    val bound = math.min(committedBatchId(spark, indexDir), upTo)
    if (bound == BaseBatchId) return
    // pin every view BEFORE any overwrite (their lineage reads the same
    // parquet roots being replaced); released once the bases are written
    SessionCache.withPins { pins =>
      def view(name: String, key: String): DataFrame =
        latestView(spark.read.parquet(s"$indexDir/$name"), key, bound)
          .transform(pins.pin)
      val g = view("graph", "src_id")
      val c = view("cells", "vec_id")
      val v = view("vectors", "vec_id")
      writeBase(g, s"$indexDir/graph")
      writeBase(c, s"$indexDir/cells")
      writeBase(v, s"$indexDir/vectors")
    }
  }

  /** Compact if the committed tail crossed either trigger. Returns
    * whether compaction ran. */
  def maybeCompact(spark: SparkSession, indexDir: String,
                   upTo: Long = Long.MaxValue,
                   maxVersions: Int = CompactMaxVersions,
                   maxDeltaShare: Double = CompactMaxDeltaShare): Boolean = {
    val st = tailStats(spark, indexDir, upTo)
    val due = st.nVersions > maxVersions || st.deltaShare > maxDeltaShare
    if (due) compact(spark, indexDir, upTo)
    due
  }

  /** `foreachBatch` adapter: wire as
    * `.writeStream.foreachBatch(AnnIngest.foreachBatchUpsert(indexDir) _)`
    * on a (vec_id, embedding) stream.
    *
    * Compaction runs at batch START over strictly-prior state
    * (`upTo = batchId − 1`), never at batch end — the replay-safety
    * argument: when batch N replays after a crash, everything the
    * compaction folded into the base is ≤ N−1, so the replay's
    * prior-state view (`batch_id ≤ N−1`, which the base's −1 passes) is
    * content-identical to the never-crashed run's and the recomputed
    * delta is bit-identical. A complete-but-uncommitted partition N
    * (crash between the vectors write and the stream's epoch commit) is
    * dropped by the static base overwrite and immediately rewritten by
    * the replayed upsert — the same heal path as a torn write. Folding
    * batch N itself into the base (end-of-batch compaction) would
    * instead leak N into its own replay's prior state. */
  def foreachBatchUpsert(indexDir: String)
                        (batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty) {
      maybeCompact(batch.sparkSession, indexDir, upTo = batchId - 1)
      upsertVectors(batch.sparkSession, indexDir, batch, batchId)
    }
}
