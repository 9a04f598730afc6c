package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted banded LSH index for a streaming near-dup corpus — the
  * READ-side scale primitive completing the manifest corpus's
  * append-only write side.
  *
  * The corpus ([[graft.io.ManifestTable]] under `root`) persists each
  * accepted doc's minhash signature, but re-deriving band buckets from
  * those signatures on every ingest scans and re-hashes the whole
  * corpus per micro-batch. This index persists the banding ONCE per
  * segment: for corpus segment `seg-N-x` a sibling dir
  * `<root>__bands/seg-N-x/pb=<p>/…` holds its `(band, bucket, id)`
  * rows, hash-partitioned on `pb = pmod(xxhash64(band, bucket),
  * PartBuckets)` so an ingest reads ONLY the hash partitions its own
  * band buckets can collide with (`pb` is a physical partition dir —
  * parquet partition pruning, not a post-scan filter).
  *
  * Consistency: the index is a pure DERIVATION of the corpus (same
  * [[graft.ext.Dedup.bandedFromSig]] over the same persisted sig
  * arrays — bit-identical to fresh banding), so it needs no second
  * commit protocol. The corpus manifest stays the single source of
  * truth; [[sync]] reconciles the index to it — building band dirs for
  * segments that lack one (first sight of a new segment, or the crash
  * window between a corpus commit and the index write) and deleting
  * dirs whose segment the manifest no longer names (post-[[graft.io
  * .ManifestTable.compact]] orphans). A missing or half-written index
  * dir (no _SUCCESS marker) is rebuilt idempotently from its segment;
  * readers run AFTER sync, so they only ever see complete dirs.
  *
  * Scale: per-segment index rows are `bands` (16) × ~20 bytes per doc —
  * ~2.5% of the signature column they replace, and the per-ingest read
  * is further cut to the colliding `pb` partitions. `PartBuckets` = 16
  * keeps test-scale dirs inspectable AND bounds the per-ingest write
  * commit to 16 partition dirs (r18: at 64 the dir-commit overhead was
  * ~2/3 of every index write at bench scale — measured 1.2 s → 0.6 s
  * per ingest at 16); a 100 TB deployment sizes it like any
  * hash-partitioned state layout (e.g. 4096) so one micro-batch's
  * collision set touches a small fraction of partitions — the
  * `_pb_count` marker + [[sync]] self-heal makes the constant safely
  * retunable per deployment. */
object NearDupIndex {

  /** Hash-partition count of the `pb` pruning key. Writer and reader
    * must agree — a reader pruning with pb values computed at a count
    * the segment was NOT written at silently misses collisions (false
    * accepts), so each segment dir records its count in a
    * `_pb_count_<n>` marker and [[sync]] REBUILDS any segment whose
    * recorded count differs from the current constant. A deployment
    * can therefore change this value and the next ingest self-heals;
    * no manual index deletion, no silent mis-pruning window (readers
    * run after sync). */
  val PartBuckets = 16

  private def pbMarker(segDir: Path, n: Int): Path =
    new Path(segDir, s"_pb_count_$n")

  private[graft] def bandsRoot(root: String): String = root + "__bands"

  /** Dir-name prefix of a PACKED index dir (see [[pack]]): one parquet
    * root holding the band rows of MANY corpus segments, named in its
    * `_covers` sidecar. Packing is index-side bin-packing — between
    * corpus compactions a streaming table accretes one band dir per
    * ingest, and every probed read opens each of them; [[pack]] folds
    * them into one root (index rows are ~2.5% of the signature bytes,
    * so this is cheap maintenance, not a corpus rewrite). */
  private val PackPrefix = "_packed-"
  private val CoversFile = "_covers.graft"

  /** Attach the physical pruning key to a banded relation. */
  private[graft] def withPb(banded: DataFrame): DataFrame =
    banded.withColumn("pb",
      pmod(xxhash64(col("band"), col("bucket")), lit(PartBuckets)).cast("int"))

  private def hadoopFs(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** A pack dir is valid iff its parquet job committed (_SUCCESS), it
    * carries a covers sidecar and the current pb-count marker, and
    * every segment it covers is still manifest-live — a corpus
    * rewrite that retired any covered segment invalidates the whole
    * pack (its rows may include vanished docs; [[sync]] deletes it and
    * rebuilds per-segment dirs for the surviving segments). */
  private def packCovers(f: org.apache.hadoop.fs.FileSystem,
      dir: Path): Option[Seq[String]] = {
    val covers = new Path(dir, CoversFile)
    if (!f.exists(new Path(dir, "_SUCCESS")) || !f.exists(covers) ||
        !f.exists(pbMarker(dir, PartBuckets))) None
    else {
      val in = f.open(covers)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList)
      finally in.close()
    }
  }

  /** Valid packs under the bands root: (pack dir name, covered segs). */
  private def validPacks(f: org.apache.hadoop.fs.FileSystem, br: Path,
      live: Set[String]): Seq[(String, Seq[String])] =
    if (!f.exists(br)) Seq.empty
    else f.listStatus(br).toSeq
      .map(_.getPath).filter(_.getName.startsWith(PackPrefix))
      .flatMap { p =>
        packCovers(f, p).filter(_.forall(live)).map(p.getName -> _)
      }

  /** Reconcile the index to the corpus manifest: delete pack dirs a
    * corpus rewrite invalidated or a newer pack made redundant, delete
    * per-segment band dirs that are dead (segment gone) or covered by
    * a kept pack, then build band dirs for live uncovered segments
    * that lack a complete one. O(new segments) work in steady state —
    * an already-indexed segment costs one existence check. */
  def sync(spark: SparkSession, root: String): Unit = {
    val (f, br) = hadoopFs(spark, bandsRoot(root))
    if (!graft.io.ManifestTable.exists(spark, root)) {
      if (f.exists(br)) f.delete(br, true)
      return
    }
    val segs = graft.io.ManifestTable.dataSegments(spark, root)
    val live = segs.toSet
    val covered: Set[String] =
      if (!f.exists(br)) Set.empty
      else {
        // invalid packs first, so the kept set below is trustworthy
        f.listStatus(br).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith(PackPrefix) &&
              !packCovers(f, st.getPath).exists(_.forall(live)))
            f.delete(st.getPath, true)
        }
        // redundant packs next: a crash in pack() between publishing
        // the new pack and deleting its inputs leaves an older pack
        // fully covered by the newer one — both valid, both read,
        // duplicate rows forever. Keep greedily by descending cover
        // size (name-tiebroken); a pack contributing no new coverage
        // is deleted here, completing pack()'s crash recovery.
        val packs = validPacks(f, br, live)
          .sortBy { case (n, c) => (-c.size, n) }
        var kept = Set.empty[String]
        packs.foreach { case (name, covers) =>
          if (covers.forall(kept)) f.delete(new Path(br, name), true)
          else kept ++= covers
        }
        // per-segment dirs: dead or redundant (covered by a kept pack)
        f.listStatus(br).foreach { st =>
          val n = st.getPath.getName
          if (!n.startsWith(PackPrefix) &&
              (!live.contains(n) || kept.contains(n)))
            f.delete(st.getPath, true)
        }
        kept
      }
    lazy val metas = graft.io.ManifestTable.segmentMetas(spark, root)
    segs.filterNot(covered).foreach { seg =>
      val segDir = new Path(br, seg)
      // complete = committed AND banded at the CURRENT pb count; a
      // count mismatch (constant changed between deployments) would
      // mis-prune — rebuild the segment's index at the new count
      if (!f.exists(new Path(segDir, "_SUCCESS")) ||
          !f.exists(pbMarker(segDir, PartBuckets)))
        writeFor(spark, root, seg,
          graft.io.ManifestTable.readSegs(spark, root, Seq(seg), metas)
            .select(col("doc_id").as("id"), col("sig")))
    }
  }

  /** The parquet roots a probed [[read]] opens right now: valid pack
    * dirs plus per-segment dirs of uncovered live segments. The
    * file-open budget of every ingest's corpus check — [[pack]]'s
    * whole purpose is to shrink this list. */
  def indexRoots(spark: SparkSession, root: String): Seq[String] = {
    val (f, br) = hadoopFs(spark, bandsRoot(root))
    val live = graft.io.ManifestTable.dataSegments(spark, root)
    val packs = validPacks(f, br, live.toSet)
    val covered = packs.flatMap(_._2).toSet
    packs.map(_._1) ++ live.filterNot(covered)
  }

  /** Index-side bin-packing: fold every current index root (packs and
    * per-segment dirs alike) into ONE packed dir covering all live
    * segments, then retire the inputs. Between corpus compactions a
    * streaming table accretes one band dir per ingest and every
    * ingest's corpus check opens all of them; packing resets that
    * per-read open count to 1 WITHOUT touching corpus data (the index
    * is ~2.5% of the signature bytes — this is the cheap maintenance
    * action; corpus [[graft.io.ManifestTable.optimize]]/compact remain
    * the data-side ones, and [[sync]] keeps the index consistent
    * through either order). Crash-safe without a commit protocol: a
    * pack missing _SUCCESS/_covers is invisible (deleted by sync); a
    * crash after the pack lands but before input cleanup leaves
    * duplicate index rows, which candidate generation dedups
    * (`distinct()` on (id_a, id_b)) and the next sync removes.
    * Returns the number of roots folded (0 = nothing to do). */
  def pack(spark: SparkSession, root: String): Int = {
    sync(spark, root) // start complete: every live segment indexed
    val (f, br) = hadoopFs(spark, bandsRoot(root))
    val roots = indexRoots(spark, root)
    if (roots.size < 2) return 0
    val live = graft.io.ManifestTable.dataSegments(spark, root)
    val dir = s"$PackPrefix${java.util.UUID.randomUUID().toString.take(8)}"
    roots.map(r => spark.read.parquet(s"${bandsRoot(root)}/$r"))
      .reduce(_ unionByName _)
      .select(col("band"), col("bucket"), col("id"), col("pb"))
      // insurance against a prior crash's overlapping inputs: band
      // rows are set-semantic, so dedup here is free correctness
      .distinct()
      .repartition(col("pb"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("pb")
      .parquet(s"${bandsRoot(root)}/$dir")
    val d = new Path(br, dir)
    val out = f.create(new Path(d, CoversFile), true)
    try out.write((live.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    f.create(pbMarker(d, PartBuckets), true).close()
    roots.foreach(r => f.delete(new Path(br, r), true))
    roots.size
  }

  /** Write segment `seg`'s band dir from its signature relation.
    * Callers that still hold the just-appended rows in memory pass
    * them directly (the normal ingest path — no re-read of the
    * segment); [[sync]] derives the same relation from disk when
    * healing. The rows are repartitioned BY `pb` before the
    * partitioned write so each pb dir gets exactly one file — without
    * it every task writes into every colliding dir and a 32-thread
    * local session scatters a tiny segment's index across up to
    * 64×32 files, paying seconds of file-commit overhead per ingest
    * (measured; the same write was the round-12 bench regression). */
  private[graft] def writeFor(spark: SparkSession, root: String,
      seg: String, sig: DataFrame): Unit = {
    val dir = s"${bandsRoot(root)}/$seg"
    withPb(graft.ext.Dedup.bandedFromSig(sig))
      .repartition(col("pb"))
      .write.mode("overwrite")
      // pin whole-dir replace semantics regardless of session config:
      // a rebuild at a NEW pb count must not leave old-count dirs
      // behind (dynamic mode only overwrites colliding partitions)
      .option("partitionOverwriteMode", "static")
      .partitionBy("pb")
      .parquet(dir)
    val (f, _) = hadoopFs(spark, dir)
    f.create(pbMarker(new Path(dir), PartBuckets), true).close()
  }

  /** Read the corpus index pruned to the given `pb` partitions (the
    * batch's own collision partitions — a ≤[[PartBuckets]]-element
    * driver list, parameter-bounded). Per-segment reads keep partition
    * discovery single-rooted; the `pb` filter pushes into each scan as
    * partition pruning. Call [[sync]] first. */
  def read(spark: SparkSession, root: String, pbs: Seq[Int]): DataFrame = {
    val roots = indexRoots(spark, root)
    require(roots.nonEmpty, s"no committed corpus under $root")
    roots.map { r =>
      spark.read.parquet(s"${bandsRoot(root)}/$r")
        .filter(col("pb").isin(pbs: _*))
        .select("band", "bucket", "id")
    }.reduce(_ unionByName _)
  }

  /** Remove the index entirely (the [[graft.io.ManifestTable.destroy]]
    * sibling for [[graft.streaming.Stream.dropNearDup]]). */
  def destroy(spark: SparkSession, root: String): Unit = {
    val (f, br) = hadoopFs(spark, bandsRoot(root))
    f.delete(br, true)
    ()
  }
}
