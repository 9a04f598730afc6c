package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.io.ManifestTable

/** Streaming/incremental IVF ANN index: embeddings arrive in
  * micro-batches and become immediately searchable, without ever
  * rewriting (or even reading) what was ingested before.
  *
  * This is [[graft.io.ManifestTable]]'s second production face (after
  * the near-dup corpus): each ingest assigns its batch to IVF cells —
  * a pure codegen'd argmin projection against the centroid literals
  * ([[graft.ext.Similarity.assignCellsVec]]), zero shuffle — and
  * appends ONE segment laid out as hive-style `cell=<c>` partition
  * dirs. A top-k query computes its probe cells (bounded driver list,
  * ≤ ncells), then reads ONLY those partition dirs across segments:
  * parquet partition pruning, not a post-scan filter, so query IO is
  * O(probed cells' rows) no matter how big the index has grown.
  *
  * Reference surface: the batch `ivf_topk` operator, re-expressed as a
  * maintained index (the shape a 100 TB embedding store needs — the
  * corpus is ingested once, searched many times; re-assigning cells per
  * query would re-scan everything).
  *
  * Scale contract:
  *  - ingest writes O(batch) bytes + a few-hundred-byte manifest;
  *    committed segments stay byte-identical forever (ManifestTable's
  *    spec-pinned append contract);
  *  - replay (foreachBatch is at-least-once) is detected from the
  *    MANIFEST ALONE: segments are tagged `b<batchId>` and a replayed
  *    batch whose tag is already committed is skipped — an O(segments)
  *    name scan, no data read, no dedup join;
  *  - queries prune to probed `cell=` dirs; the probe set is
  *    parameter-bounded (≤ queries × nprobe distinct cells, itself
  *    ≤ ncells) and the per-segment reads keep partition discovery
  *    single-rooted;
  *  - the quantizer (ncells centroid vectors) is bounded driver state,
  *    same class as the PQ codebook; it must stay FROZEN for the
  *    index's lifetime — cell assignment is persisted, so re-training
  *    means re-indexing (an explicit [[compact]]-class rebuild, not a
  *    silent drift);
  *  - segment count grows one per ingest; [[compact]] folds them back
  *    to one, preserving the `cell=` layout.
  *
  * At 100 TB: `ncells` is sized like any hash-partition count (e.g.
  * 4096–65536 lists), segments land on the same store as the corpus,
  * and the per-query read is nprobe/ncells of the data — the standard
  * IVF serving ratio, here enforced by the physical layout. */
object AnnIndex {

  /** Root dir of a streaming ANN index under the warehouse. */
  private[graft] def annRoot(spark: SparkSession, table: String): String =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      table.toLowerCase + "__annivf").toString

  private def batchTag(batchId: Long): String = s"b$batchId"

  /** Has `batchId` already committed? Name scan over the manifest —
    * no data read. */
  private[graft] def committed(spark: SparkSession, root: String,
      batchId: Long): Boolean =
    ManifestTable.segments(spark, root)
      .exists(_.contains(s"-${batchTag(batchId)}-"))

  /** Ingest one micro-batch of (id, vector) rows: assign each row to
    * its nearest centroid (6-dp-rounded cosine, ties to lowest cid —
    * the exact [[graft.ext.Similarity.assignCells]] rule, so the
    * persisted assignment is replayable cross-engine) and append one
    * cell-partitioned segment. Returns the number of rows ingested
    * (0 for an empty or already-committed batch).
    *
    * Ids are assumed unique across the stream (the upstream dedup
    * contract); the index stores NORMALIZED vectors so queries never
    * re-normalize the corpus. */
  def ingest(spark: SparkSession, table: String, batch: DataFrame,
      cents: Seq[(Long, Seq[Double])], batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding",
      optimizeEvery: Int = 0,
      smallBytes: Long = 32L * 1024 * 1024): Long = {
    require(cents.nonEmpty, "AnnIndex.ingest: need a non-empty quantizer")
    val root = annRoot(spark, table)
    if (committed(spark, root, batchId)) return 0L
    // snapshot BEFORE any action: foreachBatch re-evaluation would
    // re-scan the source per pass (count + write)
    val b = batch.localCheckpoint()
    try {
      val n = b.count()
      if (n == 0) return 0L
      // (id, cell, v): the partition column must be a stable scalar —
      // cast to int so hive-style dir inference round-trips the type
      val assigned = Similarity.assignCellsVec(b, cents, idCol, vecCol)
        .select(col("id"), col("cell").cast("int").as("cell"), col("v"))
      ManifestTable.append(spark, root, assigned,
        partitionBy = Seq("cell"), tag = Some(batchTag(batchId)))
      // auto-maintenance cadence: once the segment count reaches
      // `optimizeEvery`, bin-pack the small ones inline so a probe's
      // per-segment open debt stays bounded WITHOUT operator action
      // (0 = manual maintenance only). Idempotent on replay — a
      // re-run that folds nothing commits nothing — and rewrite-
      // marked, so change-feed consumers walk through it.
      if (optimizeEvery > 0 &&
          ManifestTable.dataSegments(spark, root).size >= optimizeEvery)
        optimize(spark, table, smallBytes)
      n
    } finally graft.core.Lineage.release(b)
  }

  /** The index restricted to `cells`: the merge-on-read index (one
    * scan, minus tombstoned ids — the tombstone set is O(deleted) and
    * BROADCAST into a left-anti join, so honoring deletes never
    * shuffles the corpus side; [[compact]] applies deletes physically
    * and resets that cost to zero) whose `cell` filter is partition
    * pruning: only the named `cell=` dirs of each segment are opened. */
  private def readCells(spark: SparkSession, root: String,
      cells: Seq[Int]): DataFrame =
    ManifestTable.readMerged(spark, root).filter(col("cell").isin(cells: _*))

  /** Merge-on-read DELETE from the index: append the ids as one
    * tombstone segment — O(ids) IO, every data segment stays
    * byte-identical. Queries stop returning them at the next manifest
    * version; [[compact]] applies the deletes physically (the
    * right-to-be-forgotten path at 100 TB: the forget is immediate
    * and cheap, the space reclaim is the scheduled maintenance
    * action). */
  def delete(spark: SparkSession, table: String, ids: DataFrame,
      idCol: String = "vec_id"): Unit =
    ManifestTable.delete(spark, annRoot(spark, table),
      ids.select(col(idCol).cast("long").as("id")))

  /** Top-k cosine neighbors for each query against the ACCUMULATED
    * index, reading only probed cells. Same semantics as
    * [[graft.ext.Similarity.ivfTopK]] over the union of all ingested
    * batches (cell assignment is per-row and the quantizer is frozen,
    * so batching never changes the result — spec-pinned split
    * invariance): (query_id, rank, nbr_id, cosine), rank 1 = best,
    * ties to lowest nbr_id, self-matches excluded. */
  def topK(spark: SparkSession, table: String, queries: DataFrame, k: Int,
      cents: Seq[(Long, Seq[Double])], nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val root = annRoot(spark, table)
    val probes = Similarity.probeCells(queries, cents, nprobe, idCol, vecCol)
    // the distinct probed-cell list is parameter-bounded (≤ ncells):
    // collecting it is what turns the cell filter into partition
    // pruning inside every segment scan below
    val cells = probes.select(col("cell").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val corpus = readCells(spark, root, cells)
      .select(col("id").as("nbr_id"), col("cell").cast("long").as("cell"),
        col("v").as("cv"))
    // each corpus row lives in exactly one cell and a query's probed
    // cells are distinct -> every (query, nbr) pair meets at most once
    val scored = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        round(graft.functions.fx.vecDot(col("cv"), col("qv")), 6).as("cosine"))
    Similarity.explodeTopK(
      scored.groupBy("query_id")
        .agg(graft.functions.fx.topKByScore(col("cosine"), col("nbr_id"), k)
          .as("top")),
      "query_id", "nbr_id", "cosine")
  }

  /** Streaming SemDeDup: ingest one micro-batch of (id, vector) rows
    * into an accumulating ACCEPTED corpus, rejecting near-duplicates
    * in embedding space — the cosine twin of
    * [[Stream.mergeNearDupBatch]]'s MinHash path, built on this
    * index's physical layout instead of an LSH band index.
    *
    * Accept rule (exactly replayable cross-engine — every compare is
    * on the 6-dp-rounded cosine and cell assignment is the frozen
    * [[graft.ext.Similarity.assignCellsVec]] argmin):
    *  1. within-batch: a row is rejected when ANY lower-id batch row
    *     in the SAME cell has cosine ≥ `threshold` (the batch
    *     [[graft.ext.Dedup.semanticDedup]] removal rule, applied to
    *     the batch alone);
    *  2. cross-batch: a within-batch survivor is rejected when ANY
    *     already-accepted corpus row in the same cell has cosine ≥
    *     `threshold` (keep-first across arrival order).
    * Same-cell is the candidate scope on BOTH sides — the SemDeDup
    * contract: with ncells sized to the corpus (50k cells for LAION),
    * within-cell comparisons stay bounded while cross-cell near-dups
    * are accepted collateral, identically in batch and streaming form.
    *
    * Scale shape per ingest: cell assignment is a zero-shuffle
    * codegen'd argmin; the within-batch pair join is cell-keyed
    * (Σ|batch∩cell|², never batch²); the corpus side reads ONLY the
    * batch's cell partitions (pruned — the distinct cell list is
    * ≤ min(|batch|, ncells), collected bounded) and joins them against
    * the BROADCAST batch survivors, so nothing O(corpus) shuffles; the
    * accepted rows append as one cell-partitioned segment (O(batch)
    * write + manifest). Replay is the manifest name-scan skip; a
    * replayed batch that accepted nothing re-runs harmlessly (the
    * corpus it reads is unchanged, so it accepts nothing again).
    * Returns the number of rows ACCEPTED (0 for empty/replayed). */
  def semanticIngest(spark: SparkSession, table: String, batch: DataFrame,
      cents: Seq[(Long, Seq[Double])], threshold: Double, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Long = {
    require(cents.nonEmpty, "AnnIndex.semanticIngest: need a non-empty quantizer")
    val root = annRoot(spark, table)
    if (committed(spark, root, batchId)) return 0L
    val b = batch.localCheckpoint()
    try {
      if (b.isEmpty) return 0L
      val assigned = Similarity.assignCellsVec(b, cents, idCol, vecCol)
      val cos = (x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =>
        round(graft.functions.fx.vecDot(x, y), 6)
      // 1. within-batch removal: cell-keyed pair join, lower id wins
      val removedIn = assigned.as("a")
        .join(assigned.as("b").hint("shuffle_merge"),
          col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
        .filter(cos(col("a.v"), col("b.v")) >= threshold)
        .select(col("b.id").as("id")).distinct()
      val surv = assigned.join(removedIn, Seq("id"), "left_anti")
      // 2. cross-batch: prune the corpus read to the batch's own cells
      // (bounded collect ≤ ncells — the projection never joins), then
      // broadcast the survivors into the pruned corpus
      val accepted = if (ManifestTable.dataSegments(spark, root).isEmpty) surv else {
        val cells = assigned.select(col("cell").cast("int")).distinct()
          .collect().map(_.getInt(0)).toSeq
        val corpus = readCells(spark, root, cells)
          .select(col("cell").cast("long").as("cell"), col("v").as("cv"))
        val hit = corpus
          .join(broadcast(surv.select(col("id"), col("cell"), col("v"))), Seq("cell"))
          .filter(cos(col("cv"), col("v")) >= threshold)
          .select(col("id")).distinct()
        surv.join(hit, Seq("id"), "left_anti")
      }
      // snapshot so count + append execute the accept pipeline once
      val acc = accepted
        .select(col("id"), col("cell").cast("int").as("cell"), col("v"))
        .localCheckpoint()
      try {
        val n = acc.count()
        if (n > 0)
          ManifestTable.append(spark, root, acc,
            partitionBy = Seq("cell"), tag = Some(batchTag(batchId)))
        n
      } finally graft.core.Lineage.release(acc)
    } finally graft.core.Lineage.release(b)
  }

  /** The accumulated accepted corpus of [[semanticIngest]]:
    * (id, cell) per accepted row. */
  def semanticCorpus(spark: SparkSession, table: String): DataFrame =
    ManifestTable.readMerged(spark, annRoot(spark, table))
      .select(col("id"), col("cell").cast("long").as("cell"))

  /** Two-batch MemoryStream run of [[semanticIngest]] through the real
    * micro-batch engine (rows matching `batch2Pred` arrive second);
    * returns the final accepted corpus. HARNESS BOUNDARY — the
    * driver-side collect is fixture-bounded (explicit batch control
    * needs MemoryStream); production is [[semanticIngest]] inside any
    * foreachBatch sink, which never collects. */
  def foreachBatchSemanticDedup(
      spark: SparkSession,
      emb: DataFrame,
      batch2Pred: org.apache.spark.sql.Column,
      cents: Seq[(Long, Seq[Double])],
      threshold: Double,
      table: String = "graft_stream_semdedup"
  ): DataFrame = {
    import spark.implicits._
    val rows = emb
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"),
        coalesce(batch2Pred.cast("boolean"), lit(false)))
      .collect()
    def part(second: Boolean) = rows.filter(_.getBoolean(2) == second)
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    drop(spark, table)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])](
        implicitly[org.apache.spark.sql.Encoder[(Long, Seq[Double])]],
        spark.sqlContext)
    val stream = ms.toDF().toDF("vec_id", "embedding")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        semanticIngest(spark, table, batch, cents, threshold, id)
        ()
      }
      .start()
    try {
      ms.addData(part(second = false))
      q.processAllAvailable()
      ms.addData(part(second = true))
      q.processAllAvailable()
    } finally q.stop()
    semanticCorpus(spark, table)
  }

  /** Fold all segments into one, keeping the `cell=` layout (the
    * explicit maintenance action; readers see old or new manifest,
    * never a half-fold). */
  def compact(spark: SparkSession, table: String): Unit =
    ManifestTable.compact(spark, annRoot(spark, table),
      partitionBy = Seq("cell"))

  /** Index bin-packing between compacts: fold only the segments
    * smaller than `smallBytes` ([[ManifestTable.optimize]]), keeping
    * the `cell=` layout. Streaming ingest accretes one segment per
    * micro-batch and every probe opens each segment's probed `cell=`
    * dirs, so per-query file opens grow with ingest count; packing
    * resets them toward O(nprobe) at O(small segments) IO — without
    * [[compact]]'s full rewrite or tombstone retirement. Folded
    * segments lose their `b<batchId>` replay tags (same as compact):
    * run it from maintenance, not from inside the ingest's
    * crash-replay window. Returns the number of segments folded. */
  def optimize(spark: SparkSession, table: String, smallBytes: Long): Int =
    ManifestTable.optimize(spark, annRoot(spark, table), smallBytes,
      partitionBy = Seq("cell"))

  /** Remove the index entirely. */
  def drop(spark: SparkSession, table: String): Unit =
    ManifestTable.destroy(spark, annRoot(spark, table))

  /** Two-batch MemoryStream run through the real micro-batch engine:
    * rows matching `batch2Pred` arrive as batch 2. HARNESS BOUNDARY —
    * the driver-side collect is fixture-bounded (explicit batch
    * control needs MemoryStream); the production path is
    * [[ingest]] inside any foreachBatch sink, which never collects. */
  def foreachBatchIngest(
      spark: SparkSession,
      emb: DataFrame,
      batch2Pred: org.apache.spark.sql.Column,
      cents: Seq[(Long, Seq[Double])],
      table: String = "graft_stream_ann"
  ): Unit = {
    import spark.implicits._
    val rows = emb
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"),
        coalesce(batch2Pred.cast("boolean"), lit(false)))
      .collect()
    def part(second: Boolean) = rows.filter(_.getBoolean(2) == second)
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    drop(spark, table)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])](
        implicitly[org.apache.spark.sql.Encoder[(Long, Seq[Double])]],
        spark.sqlContext)
    val stream = ms.toDF().toDF("vec_id", "embedding")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ingest(spark, table, batch, cents, id)
        ()
      }
      .start()
    try {
      ms.addData(part(second = false))
      q.processAllAvailable()
      ms.addData(part(second = true))
      q.processAllAvailable()
    } finally q.stop()
  }
}
