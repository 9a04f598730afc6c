package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.ManifestTable

/** Persisted banded LSH index for a streaming near-dup corpus — the
  * READ-side scale primitive completing the manifest corpus's
  * append-only write side.
  *
  * The corpus ([[graft.io.ManifestTable]] under `root`) persists each
  * accepted doc's minhash signature, but re-deriving band buckets from
  * those signatures on every ingest scans and re-hashes the whole
  * corpus per micro-batch. This index persists the banding once per
  * ingest as one more manifest table, [[bandsRoot]], whose segments
  * hold `(band, bucket, id)` rows hash-partitioned on `pb =
  * pmod(xxhash64(band, bucket), PartBuckets)`, so an ingest reads only
  * the `pb` partitions its own band buckets can collide with (manifest
  * partition pruning, the [[AnnIndex]] cell-read shape).
  *
  * Invariant: the index's ids are a SUPERSET of the corpus's. Every
  * ingest appends the novel rows' bands BEFORE it appends the rows to
  * the corpus, and each append is one atomic manifest commit, so a
  * crash between the two leaves band rows for docs the corpus lacks —
  * never the reverse. Those extra rows are harmless: a candidate's
  * corpus id is looked up in the corpus alone
  * ([[graft.ext.Dedup.verifyIncrement]]), so a candidate naming a doc
  * the corpus never committed drops out of the verify. Nothing else
  * moves the invariant: a corpus compact keeps its doc set, and
  * [[pack]] rewrites the index's own rows in one commit. A corpus
  * whose index table is missing (first ingest after an upgrade, or a
  * changed [[PartBuckets]] — the count is in the table's name) gets it
  * rebuilt from the corpus by [[ensure]].
  *
  * Scale: index rows are `bands` (16) × ~20 bytes per doc — ~2.5% of
  * the signature column they replace, and the per-ingest read is
  * further cut to the colliding `pb` partitions. `PartBuckets` = 16
  * keeps test-scale dirs inspectable AND bounds the per-ingest write
  * commit to 16 partition dirs (r18: at 64 the dir-commit overhead was
  * ~2/3 of every index write at bench scale — measured 1.2 s → 0.6 s
  * per ingest at 16); a 100 TB deployment sizes it like any
  * hash-partitioned state layout (e.g. 4096) so one micro-batch's
  * collision set touches a small fraction of partitions. */
object NearDupIndex {

  /** Hash-partition count of the `pb` pruning key. Writer and reader
    * must agree — a reader pruning with pb values computed at another
    * count silently misses collisions (false accepts) — so the count
    * names the table ([[bandsRoot]]): a deployment that changes it
    * finds no table at the new name and [[ensure]] rebuilds. */
  val PartBuckets = 16

  /** Parent dir of the index: it holds nothing but [[bandsRoot]]. */
  private def bandsDir(root: String): String = root + "__bands"

  private[graft] def bandsRoot(root: String): String =
    s"${bandsDir(root)}/pb$PartBuckets"

  /** Attach the physical pruning key to a banded relation. */
  private[graft] def withPb(banded: DataFrame): DataFrame =
    banded.withColumn("pb",
      pmod(xxhash64(col("band"), col("bucket")), lit(PartBuckets)).cast("int"))

  /** Append the bands of `sig` `(id, sig)` as one index segment. The
    * rows are repartitioned BY `pb` before the partitioned write so
    * each pb dir gets exactly one file — without it every task writes
    * into every colliding dir and a 32-thread local session scatters a
    * tiny segment's index across up to 64×32 files, paying seconds of
    * file-commit overhead per ingest (measured; the same write was the
    * round-12 bench regression). */
  private[graft] def write(spark: SparkSession, root: String,
      sig: DataFrame): Unit =
    ManifestTable.append(spark, bandsRoot(root),
      withPb(graft.ext.Dedup.bandedFromSig(sig)).repartition(col("pb")),
      partitionBy = Seq("pb"))

  /** Build the index from the committed corpus at `root` when the
    * index table is not committed: anything else under the bands dir
    * (an index at another pb count, or the per-segment dirs older
    * versions kept) is deleted first. One existence test when the
    * index is there. A crash mid-rebuild leaves no committed index, so
    * the next call starts over. */
  private[graft] def ensure(spark: SparkSession, root: String): Unit =
    if (!ManifestTable.exists(spark, bandsRoot(root))) {
      destroy(spark, root)
      write(spark, root, ManifestTable.read(spark, root)
        .select(col("doc_id").as("id"), col("sig")))
    }

  /** The index's data segments: the roots a probed [[read]] opens, the
    * file-open budget of every ingest's corpus check that [[pack]]
    * shrinks. Empty when there is no index. */
  def indexRoots(spark: SparkSession, root: String): Seq[String] =
    ManifestTable.dataSegments(spark, bandsRoot(root))

  /** Index-side bin-packing: rewrite every index segment as one, in
    * one rewrite commit. Between corpus compactions a streaming table
    * accretes one index segment per ingest and every ingest's corpus
    * check opens all of them; packing resets that count to 1 without
    * touching corpus data (the index is ~2.5% of the signature bytes —
    * the cheap maintenance action). Returns the number of segments
    * folded (0 = fewer than two, nothing to do). */
  def pack(spark: SparkSession, root: String): Int = {
    val n = indexRoots(spark, root).size
    if (n < 2) return 0
    ManifestTable.replace(spark, bandsRoot(root),
      ManifestTable.read(spark, bandsRoot(root)).repartition(col("pb")),
      Seq("pb"), rewrite = true)
    n
  }

  /** Read the corpus index pruned to the given `pb` partitions (the
    * batch's own collision partitions — a ≤[[PartBuckets]]-element
    * driver list, parameter-bounded): one relation, whose `pb` filter
    * prunes partition dirs from the manifest's file list. */
  def read(spark: SparkSession, root: String, pbs: Seq[Int]): DataFrame =
    ManifestTable.read(spark, bandsRoot(root))
      .filter(col("pb").isin(pbs: _*))
      .select("band", "bucket", "id")

  /** Remove the index entirely (the [[graft.io.ManifestTable.destroy]]
    * sibling for [[graft.streaming.Stream.dropNearDup]]). */
  def destroy(spark: SparkSession, root: String): Unit =
    ManifestTable.destroy(spark, bandsDir(root))
}
