package graft.ext

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.functions._
import graft.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Five tiers, each with a distinct cost/recall profile at 100 TB:
  *
  *  1. exact        — hash-groupBy on a normalized fingerprint; one
  *                    shuffle on a 64-bit key (not the document text!),
  *                    map-side combinable.
  *  2. minhashLsh   — shingle → k minhashes → b bands → bucket-join.
  *                    Candidate generation shuffles only (band, bucket
  *                    hash) pairs; pair verification touches candidates,
  *                    never the full n² cross product.
  *  3. simhash      — 64-bit simhash, banded into 4×16-bit sub-keys;
  *                    Hamming-distance verify on bucket collisions.
  *  4. ngramJaccard — token/shingle-set Jaccard via explode + join on
  *                    token; exact, for small-to-medium corpora or as
  *                    the verify stage after 2/3.
  *  5. embeddingCos — cosine near-dup over embeddings (see Similarity
  *                    for the ANN variants).
  *
  * All signature computation is pure Spark column expressions
  * (codegen'd); no UDFs.
  */
object Dedup {

  // ------------------------------------------------------------- 1. exact

  /** Exact dedup: keep the first (min id) document per normalized-text
    * fingerprint. Shuffles md5 keys only; at 100 TB the shuffle payload
    * is ~32 bytes/doc + id regardless of document size. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), fingerprintMd5(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dupes"))

  /** Exact-dedup'd corpus: drop all but the min-id row per fingerprint
    * (a self-semi-join on the survivors; both sides shuffle on the same
    * key so AQE plans a co-partitioned join). */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keep = exact(docs, idCol, textCol).select(col(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** INCREMENTAL exact dedup — the daily-ingest shape: which rows of a
    * new `batch` survive against an already-deduped `corpus`?
    * Fingerprints anti-join (batch vs corpus), then first-(min id)-per-
    * fingerprint WITHIN the batch. The corpus side reduces to a
    * distinct 32-byte-key relation before the join — at 100 TB the
    * anti join moves fingerprints, never corpus text, and in a real
    * deployment the corpus fingerprint table is materialized once
    * (ideally bucketed on fp via the DISTKEY path) and reused every
    * ingest. Pinned shuffle-merge: both sides are unbounded relations
    * that must never broadcast. */
  def exactIncrement(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val cfp = corpus.select(fingerprintMd5(col(textCol)).as("fp")).distinct()
    val bfp = batch.select(col(idCol), fingerprintMd5(col(textCol)).as("fp"))
    val fresh = bfp.join(cfp.hint("shuffle_merge"), Seq("fp"), "left_anti")
    val keep = fresh.groupBy("fp").agg(min(col(idCol)).as(idCol)).select(idCol)
    batch.join(keep.hint("shuffle_merge"), Seq(idCol), "left_semi")
  }

  /** [[exactIncrement]] with a BLOOM pre-filter — the two-tier
    * membership shape for daily ingest at corpus scale: the corpus
    * fingerprint set is summarized once into a parameter-sized Bloom
    * filter ([[Sketch.bloomBuild]], broadcastable); batch rows whose
    * fingerprint FAILS the filter are definitely new (no false
    * negatives) and skip the corpus join entirely; only the
    * bloom-positive slice — true dups plus the deterministic false
    * positives — pays the exact anti-join verify. At a 1 % FP rate the
    * corpus-sized join input shrinks to (dup rate + 1 %) of the batch.
    * Output is IDENTICAL to [[exactIncrement]] by construction, which
    * is exactly how the gate verifies it. */
  def exactIncrementBloom(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 4,
      bits: Int = 65536
  ): DataFrame = {
    val cfp = corpus.select(fingerprintMd5(col(textCol)).as("fp")).distinct()
    val bloom = Sketch.bloomBuild(cfp, "fp", k, bits)
    val bfp = batch.select(col(idCol), fingerprintMd5(col(textCol)).as("fp"))
    val flagged = Sketch.bloomContains(bloom, bfp.select("fp").distinct(), "fp", k, bits)
    val definitelyNew = bfp.join(
      flagged.filter(!col("bloom_member")).select("fp").hint("shuffle_merge"),
      Seq("fp"), "left_semi")
    val maybe = bfp.join(
      flagged.filter(col("bloom_member")).select("fp").hint("shuffle_merge"),
      Seq("fp"), "left_semi")
    val verified = maybe.join(cfp.hint("shuffle_merge"), Seq("fp"), "left_anti")
    val fresh = verified.unionByName(definitelyNew)
    val keep = fresh.groupBy("fp").agg(min(col(idCol)).as(idCol)).select(idCol)
    batch.join(keep.hint("shuffle_merge"), Seq(idCol), "left_semi")
  }

  /** SEGMENT-level exact dedup — the paragraph-dedup pass every web
    * corpus runs (MassiveText/CCNet drop repeated paragraphs;
    * boilerplate headers/footers recur across millions of pages):
    * split each document into fixed `segTokens`-token windows
    * ([[Text.chunk]] with zero overlap — the fixture text has no
    * newline structure, so the window IS the paragraph unit; a real
    * corpus would pass a `\n\n`-split segment frame through the same
    * winners/reassembly tail), keep only the FIRST corpus-wide
    * occurrence of each distinct segment (min (doc, position) order),
    * and reassemble each document from its surviving segments.
    * Documents reduced to zero segments drop out entirely.
    *
    * 100 TB shape — built to survive boilerplate skew: the winner per
    * segment is chosen with a map-side-combinable `min(struct(id,
    * idx))` aggregation on the segment HASH (32-byte keys; a segment
    * duplicated a million times combines to one row per map task
    * before the shuffle — a `Window.partitionBy(hash)` here would
    * funnel all copies into one task). Segment text shuffles exactly
    * once, keyed by (id, idx), for the survivor semi join + per-doc
    * reassembly; both joins are pinned shuffle-merge (winners is
    * corpus-sized — one row per distinct segment — and must never
    * broadcast). Reassembly orders deterministically via
    * array_sort over (idx, text) structs, not collect_list order. */
  def segmentDedup(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", segTokens: Int = 16): DataFrame = {
    val segs = Text.chunk(docs, idCol, textCol, chunkTokens = segTokens, overlap = 0)
      .withColumn("__h", fingerprintMd5(col("chunk_text")))
    val winners = segs.groupBy("__h")
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("__w"))
      .select(col("__w")(idCol).as(idCol), col("__w")("chunk_idx").as("chunk_idx"))
    segs.join(winners.hint("shuffle_merge"), Seq(idCol, "chunk_idx"), "left_semi")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_segments"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
            x => x("chunk_text"))).as(textCol))
  }

  // -------------------------------------------------------- 2. minhash LSH

  /** Per-doc MinHash signatures as k columns `m0..m{k-1}`.
    *
    * Computed explode-then-aggregate: one row per (doc, shingle) with a
    * single 64-bit base hash, then k `min` aggregates over the
    * universal-hash family h_i(x) = (a_i·x + b_i) mod p. The k hashes
    * are plain long arithmetic inside one whole-stage-codegen'd hash
    * aggregation with map-side partial mins — this is both the fast
    * local shape and the 100 TB shape (vs per-row array lambdas, which
    * build k·|shingles| deep expression trees and fall out of codegen;
    * measured 100×+ slower).
    */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 64,
      shingle: Int = 3
  ): DataFrame =
    signaturesFromShingleRows(
      docs.select(col(idCol).as("id"),
        explode(charShingles(col(textCol), shingle)).as("s")), k)

  /** Signature aggregation over pre-exploded (id, shingle-string) rows
    * — the shingler-agnostic core of [[minhashSignatures]], shared with
    * the banded candidate path of [[ngramJaccardPairs]]. */
  private def signaturesFromShingleRows(sh: DataFrame, k: Int): DataFrame = {
    val hashed = sh.withColumn("h", xxhash64(col("s")))
    val mins = (0 until k).map { i =>
      val a = (2862933555777941757L ^ (i.toLong * 0x9E3779B97F4A7C15L)) | 1L
      val b = 0xD1B54A32D192ED03L + i.toLong * 0x2545F4914F6CDD1DL
      min(affineHash(col("h"), a, b)).as(s"m$i")
    }
    hashed.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** LSH candidate pairs: band the signature into `bands` groups of
    * rows, hash each band, self-join on (band, bucket). Returns
    * (id_a, id_b) candidate pairs, id_a < id_b, distinct.
    *
    * Scale: the join key is (band_idx, band_hash) — the shuffle moves
    * b rows of 16 bytes per doc; the n² blow-up only happens inside a
    * bucket, which LSH keeps small by construction. */
  def minhashCandidates(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 64,
      bands: Int = 16,
      shingle: Int = 3
  ): DataFrame =
    bandPairs(minhashSignatures(docs, idCol, textCol, k, shingle), k, bands)

  /** Band a k-column signature relation into candidate pairs — the
    * self-join core of [[minhashCandidates]], shared with the banded
    * candidate path of [[ngramJaccardPairs]]. */
  private def bandPairs(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    val bandCols = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))
      xxhash64((cols :+ lit(b)): _*)
    }
    val banded = sig.select(
      col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket"))
    )
    banded.as("a")
      .join(banded.as("b"),
        F.col("a.band") === F.col("b.band") &&
          F.col("a.bucket") === F.col("b.bucket") &&
          F.col("a.id") < F.col("b.id"))
      .select(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"))
      .distinct()
  }

  /** MinHash signature as ONE array column `(id, sig)` — the storable
    * form: a streaming/incremental consumer persists it with the doc
    * and re-derives band buckets from the array without ever touching
    * the text again ([[bandedFromSig]]). Element i == column `mi` of
    * [[minhashSignatures]] exactly. */
  def sigArrays(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 64,
      shingle: Int = 5
  ): DataFrame = {
    val sig = minhashSignatures(docs, idCol, textCol, k, shingle)
    sig.select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Sorted hashed-shingle arrays `(id, sz, hs)` — the storable verify
    * side: the exact-Jaccard verify needs only these, so a stored
    * corpus row never re-shingles. Identical to the arrays
    * [[minhashNearDupes]] builds inline. */
  def hashedShingleArrays(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingle: Int = 5
  ): DataFrame =
    docs.select(col(idCol).as("id"), charShingles(col(textCol), shingle).as("sh"))
      .select(col("id"), size(col("sh")).as("sz"),
        array_sort(array_distinct(transform(col("sh"), s => xxhash64(s)))).as("hs"))

  /** Band buckets from a STORED signature array — bit-identical to the
    * text-path banding (same xxhash64 over the same minima), so stored
    * and fresh relations join against each other freely. */
  def bandedFromSig(sig: DataFrame, k: Int = 64, bands: Int = 16): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val rowsPerBand = k / bands
    val bandCols = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand)
        .map(r => element_at(col("sig"), b * rowsPerBand + r + 1))
      xxhash64((cols :+ lit(b)): _*)
    }
    sig.select(col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
  }

  /** Within-set near-dup pairs from STORED (sig, hashed) relations —
    * [[minhashNearDupes]] semantics without touching any text. */
  def nearDupePairsStored(sig: DataFrame, hashed: DataFrame,
      threshold: Double, k: Int = 64, bands: Int = 16): DataFrame = {
    val banded = bandedFromSig(sig, k, bands)
    val cands = banded.as("a")
      .join(banded.as("b"),
        F.col("a.band") === F.col("b.band") &&
          F.col("a.bucket") === F.col("b.bucket") &&
          F.col("a.id") < F.col("b.id"))
      .select(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(cands, hashed, hashed, threshold)
  }

  /** Batch-vs-corpus near-dup pairs where BOTH sides are stored
    * relations — [[minhashIncrementPairs]] without reprocessing the
    * corpus text: the corpus contributes only its persisted signature
    * and shingle-hash arrays. MICRO-BATCH contract: `batchSig` is
    * ingest-sized (a micro-batch, not a corpus half), so its banded
    * rows broadcast and the corpus side is pruned to candidates before
    * the verify — per-ingest shuffle is O(batch · collisions), never
    * O(corpus). Callers that already hold a persisted banded index use
    * [[incrementCandidatesBanded]] + [[verifyIncrement]] directly and
    * skip the corpus-wide re-banding this convenience form pays. */
  def minhashIncrementPairsStored(
      corpusSig: DataFrame, corpusHashed: DataFrame,
      batchSig: DataFrame, batchHashed: DataFrame,
      threshold: Double, k: Int = 64, bands: Int = 16): DataFrame = {
    val cands = incrementCandidatesBanded(
      bandedFromSig(batchSig, k, bands), bandedFromSig(corpusSig, k, bands))
    verifyIncrement(cands, corpusHashed, batchHashed, threshold)
  }

  /** Batch-vs-corpus LSH candidate pairs against a PRE-BANDED corpus
    * index `(band, bucket, id)` — the read-side twin of the manifest
    * corpus's append-only write side. The batch's banded rows (bands
    * rows of ~20 bytes per batch doc) BROADCAST, so the corpus index
    * streams through a broadcast hash join with NO shuffle of corpus
    * data at all; at scale the caller additionally prunes the index
    * manifest's partition dirs to the batch's colliding (band, bucket)
    * hash partitions ([[graft.streaming.NearDupIndex.read]]), making
    * the scan — not just the shuffle — O(colliding buckets). Returns
    * distinct (id_a = batch id, id_b = index id). The index's ids are
    * a superset of the corpus's, so an `id_b` may name a doc the
    * corpus never committed; [[verifyIncrement]] drops those pairs. */
  def incrementCandidatesBanded(batchBanded: DataFrame,
      corpusBanded: DataFrame): DataFrame =
    broadcast(batchBanded.select("id", "band", "bucket")).as("a")
      .join(corpusBanded.as("b"),
        F.col("a.band") === F.col("b.band") &&
          F.col("a.bucket") === F.col("b.bucket"))
      .select(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"))
      .distinct()

  /** Verify increment candidates with the corpus side PRUNED first:
    * the distinct candidate corpus-id set — O(batch · collisions),
    * bucket-cap-bounded — broadcasts into a left-semi join that keeps
    * only candidate rows of `corpusHashed`, so [[verifyJaccard]]'s
    * pinned shuffle-merge joins move O(candidates) hashed-shingle
    * arrays instead of the whole corpus per ingest (the round-11
    * read-side scale fix). Prune-then-verify returns exactly what
    * verify-over-everything returned: a corpus row without a candidate
    * pair cannot appear in the verify output.
    *
    * Two-sided: `id_a` is looked up in `batchHashed` only and `id_b`
    * in the pruned corpus only. A candidate whose corpus id the corpus
    * does not hold — a band row the index committed ahead of a corpus
    * append that never landed ([[graft.streaming.NearDupIndex]]) —
    * drops out; looked up in a batch ∪ corpus union, a replayed doc
    * would instead find its own batch row and reject itself at J = 1. */
  def verifyIncrement(cands: DataFrame, corpusHashed: DataFrame,
      batchHashed: DataFrame, threshold: Double): DataFrame = {
    val candIds = cands.select(col("id_b").as("id")).distinct()
    val pruned = corpusHashed.join(broadcast(candIds), Seq("id"), "left_semi")
    verifyJaccard(cands, batchHashed, pruned, threshold)
      .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"),
        col("jaccard"))
  }

  /** Verify stage shared by the minhash and prefix-filter pipelines:
    * join candidate pairs back to the per-doc hashed-shingle arrays —
    * `id_a` to `hashedA`, `id_b` to `hashedB` (the same relation for a
    * within-set pass) — and keep pairs with exact Jaccard ≥ threshold.
    *
    * 100 TB shape: `hashed` is corpus-sized, so it must NEVER be
    * broadcast — both joins are explicit shuffle merge joins on id
    * (`SHUFFLE_MERGE` hint pins the strategy so neither the 10 MB
    * auto-broadcast threshold at test scale nor an AQE re-plan can
    * reintroduce a corpus-wide broadcast). Two shuffles of one
    * (id, sorted-hash-array) row per doc, one of the candidate pairs —
    * all linear in corpus + candidates.
    *
    * The intersect carries the required-overlap early exit
    * ([[graft.functions.SortedIntersectAtLeast]]): J ≥ t ⟺
    * I ≥ t/(1+t)·(|a|+|b|), so a failing pair bails the moment the
    * remaining elements cannot reach that bound (returns -1 → filtered;
    * the usual 1e-9 ceil slack only ever loosens the bound, and the
    * exact `jaccard >= threshold` filter still runs on survivors). */
  private def verifyJaccard(cands: DataFrame, hashedA: DataFrame,
      hashedB: DataFrame, threshold: Double): DataFrame =
    cands
      .join(hashedA.select(col("id").as("id_a"), col("sz").as("sz_a"), col("hs").as("hs_a"))
        .hint("shuffle_merge"), "id_a")
      .join(hashedB.select(col("id").as("id_b"), col("sz").as("sz_b"), col("hs").as("hs_b"))
        .hint("shuffle_merge"), "id_b")
      .withColumn("inter", graft.functions.fx.sortedIntersectAtLeast(
        col("hs_a"), col("hs_b"),
        ceil(lit(threshold / (1.0 + threshold)) * (col("sz_a") + col("sz_b")) - lit(1e-9))))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("inter") >= 0 && col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Full near-dup pipeline: LSH candidates verified with exact
    * shingle-Jaccard ≥ threshold. */
  def minhashNearDupes(
      docs: DataFrame,
      threshold: Double,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 64,
      bands: Int = 16,
      shingle: Int = 3
  ): DataFrame = {
    val cands = minhashCandidates(docs, idCol, textCol, k, bands, shingle)
    val hashed = docs.select(col(idCol).as("id"),
        charShingles(col(textCol), shingle).as("sh"))
      .select(col("id"), size(col("sh")).as("sz"),
        array_sort(array_distinct(transform(col("sh"), s => xxhash64(s)))).as("hs"))
    verifyJaccard(cands, hashed, hashed, threshold)
  }

  /** Exact CONTAINMENT-similarity pairs: |A∩B| / min(|A|, |B|) ≥
    * `threshold` over distinct char-`shingle` sets — the asymmetric
    * near-dup measure that catches a document EMBEDDED in a larger one
    * (quote-and-extend, boilerplate wrapping), which symmetric Jaccard
    * dilutes toward 0 as the size ratio grows. Candidates are pairs
    * sharing ≥ 1 shingle of document frequency ≤ `maxDf` (any
    * containment > 0 pair shares a shingle, so the only recall loss is
    * pairs whose EVERY common shingle is boilerplate-frequent — the
    * same documented guard as [[substringPairs]], mirrored by the
    * oracle); verification intersects the FULL sorted hashed shingle
    * sets, so reported containment is exact.
    *
    * Scale shape: the candidate self-join moves (shingle, id) pairs
    * with per-shingle fan-out bounded by maxDf²; the verify stage is
    * the [[verifyJaccard]] pattern — two pinned shuffle-merge fetches
    * of one (id, sorted-hash-array) row per doc, a codegen'd
    * two-pointer intersect per pair, no broadcast, no cartesian. */
  def containmentPairs(
      docs: DataFrame,
      threshold: Double,
      shingle: Int = 5,
      maxDf: Int = 100,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    val sh = docs.select(col(idCol).cast("long").as("id"),
      charShingles(col(textCol), shingle).as("sh"))
    val hashed = sh.select(col("id"), size(col("sh")).as("sz"),
      array_sort(array_distinct(transform(col("sh"), s => xxhash64(s)))).as("hs"))
    val exploded = sh.select(col("id"), explode(col("sh")).as("s"))
    val keep = exploded.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("s")
    val kept = exploded.join(keep.hint("shuffle_merge"), "s")
    val cands = kept.as("a")
      .join(kept.as("b").hint("shuffle_merge"),
        F.col("a.s") === F.col("b.s") && F.col("a.id") < F.col("b.id"))
      .select(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"))
      .distinct()
    cands
      .join(hashed.select(col("id").as("id_a"), col("sz").as("sz_a"), col("hs").as("hs_a"))
        .hint("shuffle_merge"), "id_a")
      .join(hashed.select(col("id").as("id_b"), col("sz").as("sz_b"), col("hs").as("hs_b"))
        .hint("shuffle_merge"), "id_b")
      .withColumn("inter", graft.functions.fx.sortedIntersectCount(col("hs_a"), col("hs_b")))
      .withColumn("containment",
        round(col("inter").cast("double") / least(col("sz_a"), col("sz_b")), 6))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  // ------------------------------------------------------------ 3. simhash

  /** INCREMENTAL fuzzy dedup: near-dup pairs between a new `batch` and
    * the existing `corpus` (ids must be disjoint across the two — the
    * daily-ingest contract), via MinHash-LSH banding on BOTH sides and
    * an exact shingle-Jaccard verify ≥ `threshold`. The fuzzy
    * counterpart of [[exactIncrement]]: the corpus is never
    * self-joined — the banded join is batch×corpus only, so each
    * ingest pays O(batch · collisions), not O(corpus²).
    *
    * Output: (batch_id, corpus_id, jaccard). Precision is 1 (exact
    * verify); recall is the banding OR-amplification — identical
    * signatures/banding to [[minhashNearDupes]], so any pair that
    * scheme catches corpus-wide is caught here when it straddles the
    * batch/corpus split.
    *
    * Scale shape: both banded relations shuffle on (band, bucket) —
    * bands rows of 16 bytes per doc; the verify stage is the pinned
    * shuffle-merge [[verifyJaccard]], `id_a` looked up in the batch's
    * hashed rows and `id_b` in the corpus's. No broadcast, no
    * cartesian. */
  def minhashIncrementPairs(
      corpus: DataFrame,
      batch: DataFrame,
      threshold: Double = 0.8,
      k: Int = 64,
      bands: Int = 16,
      shingle: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val rowsPerBand = k / bands
    def banded(df: DataFrame): DataFrame = {
      val sig = minhashSignatures(df, idCol, textCol, k, shingle)
      val bandCols = (0 until bands).map { b =>
        val cols = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))
        xxhash64((cols :+ lit(b)): _*)
      }
      sig.select(col("id"), posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
    }
    val cands = banded(batch).as("a")
      .join(banded(corpus).as("b").hint("shuffle_merge"),
        F.col("a.band") === F.col("b.band") && F.col("a.bucket") === F.col("b.bucket"))
      .select(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"))
      .distinct()
    def hashed(df: DataFrame): DataFrame =
      df.select(col(idCol).as("id"), charShingles(col(textCol), shingle).as("sh"))
        .select(col("id"), size(col("sh")).as("sz"),
          array_sort(array_distinct(transform(col("sh"), s => xxhash64(s)))).as("hs"))
    verifyJaccard(cands, hashed(batch), hashed(corpus), threshold)
      .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"), col("jaccard"))
  }

  /** Exact char-shingle Jaccard pairs (the discriminative variant for
    * short/low-vocab text: shingles capture order and multiplicity).
    * `lshBands` > 0 selects the banded candidate path — see
    * [[ngramJaccardPairs]] for the recall contract. */
  def shingleJaccardPairs(
      docs: DataFrame,
      threshold: Double,
      shingle: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text",
      lshK: Int = 64,
      lshBands: Int = 0
  ): DataFrame =
    ngramJaccardPairs(docs, threshold, idCol, textCol, charShingles(_, shingle),
      lshK, lshBands)

  /** Per-doc SimHash as a single long column `sh`: for each of the
    * `nbits` low bits of the shingle hash, sum +1/-1 votes; bit set if
    * the vote is positive. Explode-then-aggregate like
    * [[minhashSignatures]]: nbits codegen'd `sum` aggregates with
    * map-side combine, folded into one long in a final projection.
    *
    * `hashFn` picks the per-shingle hash: xxhash64 (default — fastest)
    * or [[graft.functions.md5Hash60]] with nbits = 60, which is
    * reproducible in plain SQL and makes the WHOLE signature scheme
    * cross-engine checkable (the dedup_simhash oracle recomputes
    * signatures, banding, and Hamming distances in DuckDB from
    * scratch). */
  def simhashSignatures(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingler: Column => Column = tokenSet(_),
      nbits: Int = 64,
      hashFn: Column => Column = xxhash64(_)
  ): DataFrame = {
    require(nbits > 0 && nbits <= 64, s"nbits must be in [1, 64], got $nbits")
    val tok = docs.select(col(idCol).as("id"),
        explode(shingler(col(textCol))).as("s"))
      .withColumn("h", hashFn(col("s")))
    val votes = (0 until nbits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$i")
    }
    val agg = tok.groupBy("id").agg(votes.head, votes.tail: _*)
    val bits = (0 until nbits).map { i =>
      when(col(s"v$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    agg.select(col("id"), bits.reduce(_.bitwiseOR(_)).as("sh"))
  }

  /** SimHash near-dup candidates: band the 64-bit hash into
    * `maxHamming + 1` chunks, bucket-join on (band, chunk), verify
    * Hamming ≤ maxHamming via bit_count(xor).
    *
    * Recall guarantee (pigeonhole): a pair within Hamming distance
    * `maxHamming` differs in at most `maxHamming` bits, and with
    * `maxHamming + 1` disjoint chunks at least one chunk holds none of
    * those bits — the pair MUST collide in that band. Bands are derived
    * from `maxHamming` so the guarantee holds for every call site (a
    * fixed band count silently drops distant pairs; caught by the
    * ExtSpec recall property vs a brute-force bit_count join). */
  def simhashNearDupes(
      docs: DataFrame,
      maxHamming: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingler: Column => Column = tokenSet(_),
      nbits: Int = 64,
      hashFn: Column => Column = xxhash64(_)
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming < nbits,
      s"maxHamming must be in [0, ${nbits - 1}], got $maxHamming")
    val bands = maxHamming + 1
    val base = nbits / bands
    val extra = nbits % bands // first `extra` bands get one extra bit
    val widths = (0 until bands).map(i => base + (if (i < extra) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    val chunks = (0 until bands).map { i =>
      val mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1L
      shiftright(col("sh"), offsets(i)).bitwiseAND(mask)
    }
    val sigs = simhashSignatures(docs, idCol, textCol, shingler, nbits, hashFn)
    val banded = sigs.select(col("id"),
      posexplode(array(chunks: _*)).as(Seq("band", "chunk")))
    // hamming verify INSIDE the bucket join (signatures ride along as
    // one long per side — cheaper than re-joining them later), then
    // dedup the surviving, already-filtered pairs
    val withSig = banded.join(sigs, "id")
    withSig.as("a").join(withSig.as("b"),
        F.col("a.band") === F.col("b.band") &&
          F.col("a.chunk") === F.col("b.chunk") &&
          F.col("a.id") < F.col("b.id") &&
          bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))) <= maxHamming)
      .select(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"),
        bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).as("hamming"))
      .distinct()
  }

  // ------------------------------------------------- 4. n-gram Jaccard exact

  /** EXACT set-similarity self-join with prefix filtering (the
    * AllPairs/PPJoin family): returns all pairs with Jaccard ≥
    * `threshold`, id_a < id_b — identical output to the naive
    * all-shared-tokens join, at a fraction of the cost.
    *
    * Prefix-filter guarantee: order all tokens by a global total order
    * (here: ascending document frequency, ties by token). If
    * J(a,b) ≥ t, the two sets MUST share a token within their first
    * |s| − ⌈t·|s|⌉ + 1 tokens under that order. So candidate
    * generation only joins on each doc's rarest few tokens — the join
    * key distribution is by construction the low-df tail, which kills
    * the quadratic buckets that ubiquitous tokens create (measured
    * 440 s → seconds on the self-similar documents corpus at sf0.1).
    * Survivors are exact-verified with a full set intersection.
    *
    * 100 TB: two shuffles on token (df count + candidate join), one on
    * id (verify join); no step depends on n².
    *
    * `lshBands` > 0 switches candidate generation to MinHash banding
    * over the SAME shingle sets (k = `lshK` hashes, `lshBands` bands
    * of k/bands rows), skipping the df-count + per-doc-prefix-sort
    * machinery entirely — for dense char-shingle sets (thousands of
    * shingles per doc) the prefix path's global df join and per-doc
    * window sort dominate, while signatures cost one linear min-agg
    * pass. The trade is the documented LSH recall contract: a pair at
    * Jaccard J misses all bands with probability
    * (1 − J^(k/bands))^bands — at k=64, bands=16, J=0.9 that is
    * ~5·10⁻⁹; the exact verify keeps precision at 1 either way. Use
    * the default (0 = prefix filter) when recall exactly 1 is
    * required. */
  def ngramJaccardPairs(
      docs: DataFrame,
      threshold: Double,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingler: Column => Column = tokenSet(_),
      lshK: Int = 64,
      lshBands: Int = 0
  ): DataFrame = {
    val sets = docs.select(col(idCol).as("id"), shingler(col(textCol)).as("sh"))
      .withColumn("sz", size(col("sh")))
    if (lshBands > 0) {
      require(lshK % lshBands == 0, s"lshBands ($lshBands) must divide lshK ($lshK)")
      val cands = bandPairs(signaturesFromShingleRows(
        sets.select(col("id"), explode(col("sh")).as("s")), lshK), lshK, lshBands)
      val hashed = sets.select(col("id"), col("sz"),
        array_sort(array_distinct(transform(col("sh"), s => xxhash64(s)))).as("hs"))
      return verifyJaccard(cands, hashed, hashed, threshold)
    }
    val tok = sets.select(col("id"), col("sz"), explode(col("sh")).as("tok"))
    val dfreq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("tok"))
    // every ⌈t·sz⌉ below carries a 1e-9 slack: when t·sz is
    // mathematically an exact integer the double product can land one
    // ulp above it (e.g. 0.1 * 30 = 3.0000000000000004) and ceil would
    // round up, silently tightening the bound past the paper's — the
    // slack only ever loosens (more candidates), never drops a
    // qualifying pair
    val prefix = tok.join(dfreq, "tok")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
      .select("id", "tok", "sz", "rn")
    // Candidate join with two PPJoin prunes evaluated INSIDE the join,
    // before the distinct:
    //  - length filter: J ≥ t forces t ≤ |a|/|b| ≤ 1/t.
    //  - positional filter: J ≥ t forces overlap ≥ α = ⌈t/(1+t)·(|a|+|b|)⌉,
    //    and at the FIRST shared token (positions pa, pb under the global
    //    order) overlap ≤ 1 + min(|a|−pa, |b|−pb). A qualifying pair
    //    therefore passes the bound at its first-match occurrence, so
    //    dropping the occurrences that fail it never drops a qualifying
    //    pair (the 1e-9 slack keeps ⌈·⌉ from rounding up on exact
    //    floating-point integers).
    val alpha = ceil(lit(threshold / (1.0 + threshold)) * (F.col("a.sz") + F.col("b.sz")) - lit(1e-9))
    val cands = prefix.as("a").join(prefix.as("b"),
        F.col("a.tok") === F.col("b.tok") && F.col("a.id") < F.col("b.id") &&
          F.col("b.sz") >= ceil(lit(threshold) * F.col("a.sz") - lit(1e-9)) &&
          F.col("a.sz") >= ceil(lit(threshold) * F.col("b.sz") - lit(1e-9)) &&
          lit(1) + least(F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")) >= alpha)
      .select(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"))
      .distinct()
    // verify on hashed+sorted token arrays with the codegen'd two-pointer
    // intersect (vs array_intersect's per-row hash set): same counts
    // (64-bit hash collisions between distinct tokens are ~0) at a
    // fraction of the per-pair cost
    val hashed = sets.select(col("id"), col("sz"),
      array_sort(array_distinct(transform(col("sh"), s => xxhash64(s)))).as("hs"))
    verifyJaccard(cands, hashed, hashed, threshold)
  }

  // ---------------------------------------------- 5. embedding cosine dedup

  /** Embedding near-dup pairs: cosine ≥ threshold. EXACT variant.
    *
    * Exact all-pairs over DENSE vectors is Θ(n²) dot products by
    * nature: prefix/feature filters (Bayardo et al., WWW'07) need
    * sparsity, and LSH amplification cannot give recall 1 at a
    * threshold with adjacent below-threshold mass (at cos t = 0.45
    * the collision-probability gap vs unrelated pairs, (p₁/p₀)^b =
    * (0.649/0.5)^b, needs ~10⁵ signature bits for recall ≈ 1 — see
    * the testdata, where qualifying pairs sit at 0.4501 against mass
    * at 0.4497). So the honest scale posture is: the *memory* profile
    * must be flat even though *compute* is quadratic — the
    * SHUFFLE_REPLICATE_NL hint pins a partition-replicated cartesian
    * (each task streams one block pair; no corpus-wide broadcast, no
    * BroadcastNestedLoopJoin, no driver collect), and corpora where n²
    * compute is unpayable use the approximate [[Similarity.lshNearDupes]]
    * path with an explicit recall contract instead.
    *
    * Vectors are L2-normalized in a projection first so each pair costs
    * one fused-loop dot product ([[graft.functions.VecDotProduct]]). */
  def embeddingNearDupes(
      emb: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      pairsPerTask: Long = 1000L * 1000L
  ): DataFrame = {
    val n = emb.select(col(idCol).as("id"), normalize(col(vecCol)).as("v"))
    // Size the block grid to the CORPUS, not the session (r18):
    // SHUFFLE_REPLICATE_NL runs leftParts × rightParts tasks, so at the
    // session's shuffle-partition count a small corpus explodes into
    // partitions² near-empty tasks (32² = 1024 tasks for 2k vectors —
    // measured pure scheduling overhead), while a huge corpus would
    // want MORE than partitions² blocks. One cheap count (row count
    // only — the projection is pruned) picks p so each task streams
    // ~pairsPerTask dot products; compute stays Θ(n²) by nature, the
    // grid just keeps every task usefully sized at ANY scale.
    val rows = math.max(1L, n.count())
    val p = math.max(1, math.ceil(
      rows.toDouble / math.sqrt(pairsPerTask.toDouble)).toInt)
    val blocked = n.repartition(p)
    blocked.as("a")
      .join(blocked.as("b").hint("shuffle_replicate_nl"), F.col("a.id") < F.col("b.id"))
      .select(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"),
        round(graft.functions.fx.vecDot(F.col("a.v"), F.col("b.v")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // --------------------------------------- 6. pair → cluster / survivor

  /** Min-label propagation half-round (factored out so the plan shape
    * is assertable). Message-passing form: each edge forwards its
    * source's label to its destination (`edges` carries a self-loop per
    * node, so a node's own label arrives through the same join — no
    * in-loop union with `labels`, which would put the same relation on
    * both sides of a Union and trip Catalyst's constraint rewrite),
    * then a single map-side-combinable `min` per node — ONE keyed
    * shuffle-merge join + one aggregation exchange. `labels` and
    * `edges` are corpus-sized relations that must NEVER ride a
    * broadcast (pinned shuffle-merge). */
  private[graft] def ccPropagate(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.select(col("id").as("src"), col("lbl")).hint("shuffle_merge"), "src")
      .select(col("dst").as("id"), col("lbl"))
      .groupBy("id").agg(min("lbl").as("lbl"))

  /** Pointer-jump half-round (path halving): lbl := lbl(lbl). Labels
    * are always node ids (they start as ids and only ever take mins
    * over ids), so the lookup side is the same relation — this is the
    * step that turns O(diameter) propagation into O(log n) rounds on
    * chain-shaped components. The caller materializes `prop`
    * (localCheckpoint) first so the self-join reads the checkpointed
    * relation on both sides instead of recomputing the propagate
    * subtree twice. */
  private[graft] def ccJump(prop: DataFrame): DataFrame =
    prop.as("x")
      .join(prop.select(col("id").as("jid"), col("lbl").as("jlbl")).hint("shuffle_merge"),
        F.col("x.lbl") === F.col("jid"), "left")
      .select(F.col("x.id").as("id"), coalesce(col("jlbl"), F.col("x.lbl")).as("lbl"))

  /** Connected components over an undirected near-dup pair graph:
    * returns (id, lbl) where `lbl` is the MINIMUM node id in the
    * node's component — the survivor-selection rule. Join-based
    * iterative min-label propagation with pointer jumping (no GraphX,
    * no driver-side graph state):
    *
    *   - per round: one keyed shuffle-merge join to pull neighbor
    *     labels + a map-side-combinable min aggregate, then a
    *     path-halving jump join — O(log n) rounds on any topology
    *     (plain propagation alone needs O(diameter), pathological on
    *     chain-shaped duplicate clusters);
    *   - each round ends in `localCheckpoint` (eager): the iteration
    *     output is materialized and its lineage truncated, so the plan
    *     does not grow exponentially across rounds and the convergence
    *     `count` reads the checkpoint, not a recomputation;
    *   - convergence = zero labels changed (checked with a keyed join,
    *     not a driver collect); `maxIter` is a safety valve (50 ≫
    *     log₂ of any real corpus).
    *
    * 100 TB: every step is a shuffle on a long key (ids/labels), with
    * nothing broadcast and nothing on the driver — the pair graph from
    * [[ngramJaccardPairs]]/[[Similarity.lshNearDupes]] is far smaller
    * than the corpus (near-dup pairs are sparse by construction). */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIter: Int = 50
  ): DataFrame = {
    val e0 = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    // checkpoint the symmetrized pair set FIRST: `nodes` (and thus the
    // self-loop union below) re-reads `sym`, and without this the whole
    // upstream pair pipeline — potentially an expensive similarity
    // join — would execute twice inside the edges checkpoint job
    val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    val nodes = sym.select(col("src")).distinct()
    // self-loops: every node messages itself its own label each round
    // (see ccPropagate — keeps the half-round to one join + one agg)
    val edges = sym
      .union(nodes.select(col("src").as("src"), col("src").as("dst")))
      .localCheckpoint()
    var labels = nodes.select(col("src").as("id"), col("src").as("lbl")).localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val prop = ccPropagate(edges, labels).localCheckpoint()
      val next = ccJump(prop).localCheckpoint()
      changed = next.as("n")
        .join(labels.select(col("id"), col("lbl").as("prev")), Seq("id"))
        .filter(col("lbl") =!= col("prev")).count()
      // next is materialized (eager checkpoint) and the convergence
      // count has consumed the old labels — release the round's
      // intermediates so storage stays O(1) across iterations
      graft.core.Lineage.release(prop, labels)
      labels = next
      iter += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    // the result is its own checkpoint; the topology is no longer read
    graft.core.Lineage.release(sym, edges)
    labels
  }

  /** Cluster assignment for every document: (idCol, cluster_id) where
    * cluster_id = min doc id of the near-dup component; documents in no
    * pair are their own singleton cluster. */
  def clusterIds(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      aCol: String = "id_a",
      bCol: String = "id_b"
  ): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    docs.select(col(idCol).cast("long").as(idCol))
      .join(cc.select(col("id").as(idCol), col("lbl")).hint("shuffle_merge"),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("lbl"), col(idCol)).as("cluster_id"))
  }

  /** Near-dedup'd corpus: keep ONE survivor (the min-id document) per
    * connected component of the near-dup pair graph — the step every
    * pair-emitting dedup operator above feeds into. Non-survivors are
    * dropped with an anti join on id (no broadcast of the corpus). */
  def nearDedupCorpus(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      aCol: String = "id_a",
      bCol: String = "id_b"
  ): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    val dropped = cc.filter(col("id") =!= col("lbl")).select(col("id").as(idCol))
    docs.join(dropped.hint("shuffle_merge"), Seq(idCol), "left_anti")
  }

  /** Survivor selection by QUALITY: keep, per connected component of
    * the near-dup pair graph, the member with the HIGHEST `scoreCol`
    * (ties to the lowest id) — the production alternative to
    * [[nearDedupCorpus]]'s min-id rule when duplicates differ in
    * quality (keep the longest / cleanest / highest-scored copy, drop
    * the rest). Returns the surviving rows with their `cluster_id`.
    *
    * Scale shape: clustering is the same O(log n)-round
    * [[connectedComponents]]; winner selection is ONE keyed
    * aggregation (min of a (−score, id) struct per cluster — skew-safe,
    * no window over the corpus) plus a shuffle-merge semi-join back.
    * Nothing broadcasts, nothing reaches the driver. */
  def survivorsBy(
      docs: DataFrame,
      pairs: DataFrame,
      scoreCol: String,
      idCol: String = "doc_id",
      aCol: String = "id_a",
      bCol: String = "id_b"
  ): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    val withCluster = docs
      .join(cc.select(col("id").as(idCol), col("lbl")).hint("shuffle_merge"),
        Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("lbl"), col(idCol).cast("long")))
      .drop("lbl")
    val winners = withCluster.groupBy("cluster_id")
      .agg(min(struct((-col(scoreCol)).as("ns"),
        col(idCol).cast("long").as("wid"))).as("w"))
      .select(col("cluster_id"), col("w.wid").as("__winner"))
    withCluster
      .join(winners.hint("shuffle_merge"), Seq("cluster_id"))
      .filter(col(idCol) === col("__winner"))
      .drop("__winner")
  }

  // ------------------------------------------------- substring-window dedup

  /** Exact substring-overlap pairs: documents sharing at least one
    * normalized `w`-char window — the substring-level duplication
    * signal (Gopher/RefinedWeb run exact substring dedup alongside
    * document-level fuzzy dedup; a 40+-char verbatim overlap is
    * near-certain copying, whatever the rest of the docs look like).
    * Windows are distinct-per-doc single-pass kernels
    * ([[graft.functions.charShingles]] at n=w); documents shorter
    * than `w` contribute their whole normalized text as one window.
    *
    * `maxDf` is the boilerplate guard every corpus needs at scale: a
    * window occurring in more than `maxDf` documents (site chrome,
    * license headers) is dropped BEFORE any pair generation — without
    * it, a window shared by k docs emits k² pairs and one hot key
    * stalls the stage. With it, the per-window fan-out is bounded by
    * maxDf², and the df filter itself is one keyed aggregation.
    *
    * Plan (ONE shuffle of the window set, r17 — previously four): the
    * windows never shuffle as TEXT; each rides as a 16-byte pair of
    * independent xxhash64 values (vs the old 32-byte md5 hex string —
    * half the shuffle bytes, and codegen'd longs instead of a digest +
    * hex round-trip per window; 128 combined bits makes a cross-window
    * collision astronomically unlikely, and the correctness oracle
    * joins the real window text, so the hash is purely plan-internal).
    * One aggregation does everything the old count → df-filter →
    * join-back → self-join pipeline did: [[graft.functions
    * .CappedLongList]] collects each window's doc ids with the cap AT
    * maxDf — a boilerplate window overflows its (bounded!) buffer and
    * evaluates to NULL, so hot keys never materialize their id sets
    * anywhere, map-side partials included. The id pairs then expand
    * MAP-SIDE from each surviving ≤maxDf group (fan-out ≤ maxDf² by
    * construction) into the final distinct. Exact by construction, so
    * fully hash-oracle-able. */
  def substringPairs(
      docs: DataFrame,
      w: Int = 40,
      maxDf: Int = 50,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(w >= 1, s"w must be >= 1, got $w")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    // (h1, h2, id) is distinct by construction: charShingles dedupes
    // windows within a document — the CappedLongList precondition
    val wins = docs.select(col(idCol).cast("long").as("id"),
        explode(charShingles(col(textCol), w)).as("win"))
      .select(col("id"),
        xxhash64(col("win")).as("h1"),
        xxhash64(lit(0x9E3779B9L), col("win")).as("h2"))
    wins.groupBy("h1", "h2")
      .agg(graft.functions.fx.cappedLongList(col("id"), maxDf).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  // ------------------------------------------------- eval decontamination

  /** Benchmark decontamination: drop every corpus document sharing at
    * least one word `n`-gram with the evaluation set — the standard
    * n-gram-overlap rule for keeping test sets out of training data
    * (GPT-3 App. C / PaLM-style 8–13-gram matching; `n` is the
    * caller's knob).
    *
    * Plan shape for 100 TB: the eval side is SMALL by nature (test
    * sets, not corpora) — its distinct grams are broadcast, so corpus
    * gram explosion is map-side with no corpus shuffle; the
    * contaminated-id set (distinct ids, ≤ corpus keys) then drops via
    * one keyed anti join. The corpus text itself never shuffles.
    * Caveat: `explode` before the broadcast join multiplies rows
    * transiently (~n_tokens per doc) inside the scan stage — column
    * prune keeps that to (id, gram) pairs. */
  def decontaminate(
      corpus: DataFrame,
      evalSet: DataFrame,
      n: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val evalGrams = evalSet
      .select(explode(wordNgrams(col(textCol), n)).as("__g")).distinct()
    val contaminated = corpus
      .select(col(idCol), explode(wordNgrams(col(textCol), n)).as("__g"))
      .join(broadcast(evalGrams), "__g")
      .select(idCol).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------- blocked entity resolution

  /** Blocked fuzzy entity-resolution candidate pairs: distinct names
    * (with their row counts) are grouped into blocks by `blockKey`
    * (default: last whitespace token — the classic "same last word"
    * ER blocking), and every within-block pair at Levenshtein
    * distance ≤ `maxDist` is emitted.
    *
    * `maxBlock` is the hot-block guard — the [[substringPairs]]
    * `maxDf` / SRP-LSH `maxBucket` pattern applied to blocking: a
    * blocking key with fixed vocabulary (part-name colors, surname
    * tokens) grows its block size LINEARLY with data, so the
    * within-block self-join is Θ(k²) per block and a few hot keys
    * become a near-cartesian at 100×. Blocks larger than `maxBlock`
    * are dropped BEFORE the join (one keyed count + a semi-join),
    * bounding join fan-out at maxBlock² per block; the recall cost is
    * only pairs inside oversized blocks — the blocks where a
    * distance-≤-4 match is least informative anyway (BENCHNOTES has
    * the recall-vs-cap curve on the fixture).
    *
    * Distance uses Spark's bounded `levenshtein(l, r, threshold)` —
    * rows above the bound return -1 and the kernel early-exits, so
    * cost per pair is O(maxDist · len) not O(len²).
    *
    * Plan: one keyed dedup agg → block-size agg + semi-join guard →
    * keyed self-join on the block key → codegen'd bounded
    * levenshtein. No broadcast of the name table, no cartesian. */
  def erPairs(
      df: DataFrame,
      nameCol: String,
      maxDist: Int = 4,
      maxBlock: Int = 500,
      blockKey: Column => Column = substring_index(_, " ", -1)
  ): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    val names = df.groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("blk", blockKey(col("name")))
    val smallBlocks = names.groupBy("blk").agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBlock).select("blk")
    val kept = names.join(smallBlocks.hint("shuffle_merge"), Seq("blk"), "left_semi")
    kept.as("l")
      .join(kept.as("r").hint("shuffle_merge"),
        col("l.blk") === col("r.blk") && col("l.name") =!= col("r.name"))
      .withColumn("dist", levenshtein(col("l.name"), col("r.name"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("l.name").as("name"), col("l.n_rows").as("n_rows"),
        col("r.name").as("cand"), col("dist"))
  }

  // --------------------------------------- 6. semantic (cluster-then-dedup)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): coarse-cluster the embedding space, then look
    * for near-duplicates ONLY within each cluster. A row is removed
    * when a lower-id member of its own cluster sits at cosine ≥
    * `threshold`; `dup_of` reports the lowest such id (null for kept
    * rows).
    *
    * This is the scale mechanism that replaces the Θ(n²) exact pass
    * ([[embeddingNearDupes]]): with k cells the candidate space is
    * Σ|cell|² ≈ n²/k, and k GROWS with the corpus (SemDeDup used 50k
    * clusters for LAION) so cells stay bounded — the within-cell
    * self-join is a cell-keyed shuffle whose per-key fan-out is the
    * cell size, never an all-pairs product. Cell assignment itself is
    * a pure codegen'd argmin projection (zero shuffle,
    * [[Similarity.assignCellsVec]]).
    *
    * Determinism/oracle contract: the quantizer is the deterministic
    * first-`ncells` init ([[Similarity.firstNCentroids]]); centroid
    * scores and pair cosines round to 6 dp BEFORE the argmin /
    * threshold compare (the repo's cross-engine float discipline), so
    * cluster membership and every removal decision replay exactly in
    * SQL. Train a k-means quantizer ([[Similarity.kmeansCentroids]])
    * for production quality — the dedup semantics are identical. */
  def semanticDedup(
      emb: DataFrame,
      ncells: Int,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      centroids: Option[Seq[(Long, Seq[Double])]] = None
  ): DataFrame = {
    require(ncells >= 1, s"ncells must be >= 1, got $ncells")
    val cents = centroids.getOrElse(
      Similarity.firstNCentroids(emb, ncells, idCol, vecCol))
    val assigned = Similarity.assignCellsVec(emb, cents, idCol, vecCol)
    val pairs = assigned.as("a")
      .join(assigned.as("b").hint("shuffle_merge"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(round(graft.functions.fx.vecDot(col("a.v"), col("b.v")), 6) >= threshold)
      .select(col("b.id").as("id"), col("a.id").as("lo"))
    val removed = pairs.groupBy("id").agg(min(col("lo")).as("dup_of"))
    assigned.select(col("id"), col("cell"))
      .join(removed, Seq("id"), "left")
      .select(col("id"), col("cell"), col("dup_of").isNull.as("kept"),
        col("dup_of"))
  }
}
