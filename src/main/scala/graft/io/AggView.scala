package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An incrementally-maintained materialized AGGREGATE view over a
  * [[ManifestTable]] log: each ingest appends the batch's PARTIAL
  * aggregate (one tiny segment, O(distinct groups in the batch) rows),
  * and a read merges the partials with the aggregate's combine
  * function. Maintenance IO is O(batch) per ingest — the view never
  * re-reads the base data — and read IO is O(Σ partials), reset to
  * O(groups) by [[compact]]. This is the standard lakehouse pattern
  * for keeping a 100 TB fact stream's rollup queryable in seconds:
  * the raw log and the view share the same manifest commit primitive
  * (atomic publish, replay tags, crash-orphan GC), so view and base
  * stay in step batch-for-batch.
  *
  * Only aggregates with an associative-commutative merge are
  * expressible — count/sum/min/max (avg = sum/count at read time).
  * The stored representation invariant: a view column always holds a
  * PARTIAL in the aggregate's own merge domain (count merges by sum),
  * so compaction output is indistinguishable from a single big
  * partial and further ingests keep merging against it unchanged.
  *
  * Determinism note: floating-point sums are shuffle-order-dependent;
  * callers that need bit-stable results across replans cast the
  * measure to DECIMAL before [[ingest]] (exact, order-free sums) and
  * cast back at the read edge.
  */
object AggView {

  /** One aggregate column: `fn` ∈ count|sum|min|max|hll applied to
    * `input` (ignored for count), surfaced as `as`. `hll` keeps a
    * MERGEABLE DataSketches HLL binary (Spark's hll_sketch_agg /
    * hll_union_agg pair) — the sketch-typed rollup column every
    * at-scale store keeps for distinct-count metrics, because exact
    * distincts don't decompose into partials but sketches do;
    * estimates are order-insensitive and deterministic for a given
    * value set, so a sketch view is replay-stable. Read the estimate
    * at the edge with `hll_sketch_estimate(col)`. */
  final case class Agg(fn: String, input: String, as: String) {
    require(Set("count", "sum", "min", "max", "hll")(fn),
      s"unsupported agg fn: $fn")
    /** Batch-local partial. */
    private[io] def partial: Column = fn match {
      case "count" => count(lit(1)).as(as)
      case "sum"   => sum(col(input)).as(as)
      case "min"   => min(col(input)).as(as)
      case "max"   => max(col(input)).as(as)
      case "hll"   => hll_sketch_agg(col(input)).as(as)
    }
    /** Merge of stored partials (count merges by sum; hll by sketch
      * union, whose output is itself a sketch — the representation
      * invariant compact() relies on holds for every fn). */
    private[io] def merge: Column = fn match {
      case "count" | "sum" => sum(col(as)).as(as)
      case "min"           => min(col(as)).as(as)
      case "max"           => max(col(as)).as(as)
      case "hll"           => hll_union_agg(col(as)).as(as)
    }
    /** Is this aggregate a GROUP: does a deletion's effect equal
      * merging the NEGATED partial of the deleted rows? True for
      * count/sum (the abelian-group aggregates); min/max/hll only
      * form monoids — a retraction there needs the surviving rows,
      * i.e. a rebuild. */
    private[io] def retractable: Boolean = fn == "count" || fn == "sum"
    /** Negated batch-local partial of deleted pre-image rows. */
    private[io] def retract: Column = fn match {
      case "count" => (-count(lit(1))).as(as)
      case "sum"   => (-sum(col(input))).as(as)
      case other   => throw new IllegalStateException(
        s"$other does not retract") // guarded by retractable above
    }
  }

  /** View definition: grouping columns + aggregate columns (builder
    * style: `AggView.spec("k").count("n").sum("v", "s")`). */
  final case class Spec(groupCols: Seq[String], aggs: Seq[Agg]) {
    def count(as: String): Spec = copy(aggs = aggs :+ Agg("count", "", as))
    def sum(input: String, as: String): Spec = copy(aggs = aggs :+ Agg("sum", input, as))
    def min(input: String, as: String): Spec = copy(aggs = aggs :+ Agg("min", input, as))
    def max(input: String, as: String): Spec = copy(aggs = aggs :+ Agg("max", input, as))
    def hll(input: String, as: String): Spec = copy(aggs = aggs :+ Agg("hll", input, as))
    private[io] def checked: Spec = {
      require(aggs.nonEmpty, "a view needs at least one aggregate"); this
    }
  }
  def spec(groupCols: String*): Spec = Spec(groupCols, Seq.empty)

  /** Fold one batch into the view: group the batch, append the partial
    * as one manifest segment. `tag` gives at-least-once replay safety
    * exactly as in [[ManifestTable.append]] — derive it from the
    * micro-batch id and check [[ManifestTable.segments]] first when
    * the caller replays. The `b<digits>` shape is RESERVED for the
    * change-feed cursor ([[syncFromLog]] rides it in segment names):
    * a caller tag like `b7` would read back as "synced through base
    * v7" and make a later sync silently skip base versions — so it is
    * rejected loudly here (prefix such tags, e.g. `batch-7`). */
  def ingest(spark: SparkSession, root: String, batch: DataFrame,
      spec0: Spec, tag: Option[String] = None): Unit = {
    tag.foreach { t =>
      require(CursorRe.findFirstIn(s"-$t-").isEmpty,
        s"tag '$t' collides with the reserved change-feed cursor " +
          "namespace b<digits> (it would be parsed as a sync cursor " +
          "and silently skip base versions); prefix it, e.g. 'batch-7'")
    }
    ingestPartial(spark, root, batch, spec0, tag)
  }

  private def ingestPartial(spark: SparkSession, root: String,
      batch: DataFrame, spec0: Spec, tag: Option[String]): Unit = {
    val spec = spec0.checked
    val partial = batch.groupBy(spec.groupCols.map(col): _*)
      .agg(spec.aggs.head.partial, spec.aggs.tail.map(_.partial): _*)
    ManifestTable.append(spark, root, partial, tag = tag)
  }

  /** Current view contents: merge every stored partial. The scan is
    * O(Σ partial rows) — independent of base-table size. */
  def read(spark: SparkSession, root: String, spec0: Spec): DataFrame = {
    val spec = spec0.checked
    ManifestTable.read(spark, root)
      .groupBy(spec.groupCols.map(col): _*)
      .agg(spec.aggs.head.merge, spec.aggs.tail.map(_.merge): _*)
  }

  /** Fold all partial segments into one merged segment (the stored
    * form IS a valid partial — see the representation invariant), so
    * per-read merge cost resets to a single-segment scan. A change-
    * feed cursor riding in the segment tags (see [[syncFromLog]])
    * survives the fold. */
  def compact(spark: SparkSession, root: String, spec: Spec): Unit = {
    val cur = cursorOf(spark, root)
    val snap = read(spark, root, spec).localCheckpoint()
    try ManifestTable.replace(spark, root, snap,
      tag = if (cur > 0) Some(s"b$cur") else None, rewrite = true)
    finally graft.core.Lineage.release(snap)
  }

  // ------------------------------------------------------------------
  // Change-feed-driven maintenance: the view tracks its base
  // ManifestTable by version number. The cursor (highest base version
  // the view reflects) rides in the view's OWN segment tags
  // (`…-b<version>-…`), so it is committed atomically with the partial
  // it describes — a crash between ingest and "cursor update" cannot
  // exist, and a replayed sync sees cursor == head and no-ops. This is
  // the incremental-view-maintenance loop a 100 TB deployment runs on
  // a schedule: each sync costs O(new base segments), never the base.
  // ------------------------------------------------------------------

  private val CursorRe = "-b(\\d+)-".r

  /** Highest base version this view reflects (0 = never synced). */
  def cursorOf(spark: SparkSession, root: String): Long =
    if (!ManifestTable.exists(spark, root)) 0L
    else ManifestTable.segments(spark, root)
      .flatMap(n => CursorRe.findAllMatchIn(n).map(_.group(1).toLong))
      .maxOption.getOrElse(0L)

  /** Pull the view up to date with `baseRoot` through the change
    * feed: read ONLY the base segments committed after the cursor,
    * fold them in as one partial, and advance the cursor — all in one
    * atomic manifest commit on the view.
    *
    * Deletes RETRACT when every aggregate is count/sum (the
    * abelian-group aggregates), keeping the view equal to a rollup of
    * [[ManifestTable.readMerged]] under the table's merge-on-read
    * semantics (a tombstone hides every matching row — earlier or
    * later-committed — until a compact retires it):
    *  - the window's INSERT rows are anti-joined against the base's
    *    outstanding tombstones (broadcast, O(deleted keys)), exactly
    *    as a merged read would hide them;
    *  - the window's NEW tombstone keys retract the PRE-IMAGE they
    *    killed: rows alive at the cursor ([[ManifestTable
    *    .readMergedAt]] cursor — earlier tombstones already applied,
    *    so nothing double-subtracts) semi-joined to the keys
    *    (broadcast; shuffle is O(matched rows)), folded in as a
    *    NEGATED partial. The pre-image scan is O(segments at cursor)
    *    IO — far below the O(base) recompute of [[rebuild]] for
    *    point deletes.
    * Both pieces commit atomically with the cursor tag. A bootstrap
    * sync (cursor 0) has no pre-image to retract — it reads the
    * merged current state directly, so it works for EVERY aggregate
    * even with outstanding tombstones.
    *
    * Row-level DML commits ([[ManifestDml]]) in the window maintain
    * incrementally too, and EXACTLY: the dropped segments' rows fold
    * in as a negated partial and the replacement segment rides the
    * insert side — count/sum deltas are multiset-additive, so no row
    * identity is needed (this is stronger than the value-identity
    * contract the change feed itself carries). The dropped dirs must
    * still exist: size the base's retention horizon to the sync
    * cadence.
    *
    * min/max/hll keep the rebuild contract (a retraction there needs
    * the surviving rows): a tombstone or DML in a non-bootstrap window
    * with any non-retractable aggregate throws — [[rebuild]] instead,
    * same as after a base rewrite breaks the feed. The pre-image read
    * needs the cursor's manifest version: if [[ManifestTable
    * .expireVersions]] already trimmed it, the read fails loudly —
    * rebuild.
    *
    * Known divergence, documented: a group whose rows are ALL deleted
    * keeps a zero-valued partial row (count 0, sum 0) where a SQL
    * recompute would drop the group; readers that need exact GROUP BY
    * semantics filter on the count column (or [[rebuild]], which
    * recomputes from survivors). Returns the new cursor. */
  def syncFromLog(spark: SparkSession, viewRoot: String, baseRoot: String,
      spec0: Spec): Long = {
    val spec = spec0.checked
    val vs = ManifestTable.versions(spark, baseRoot)
    if (vs.isEmpty) return cursorOf(spark, viewRoot)
    val head = vs.max
    val cursor = cursorOf(spark, viewRoot)
    if (cursor >= head) return cursor
    val (chgSegs, pre) =
      ManifestTable.changedSegmentsDml(spark, baseRoot, cursor, head)
    val dels = chgSegs.filter(_.startsWith("del-"))
    require((dels.isEmpty && pre.isEmpty) || cursor == 0L ||
        spec.aggs.forall(_.retractable),
      s"base $baseRoot committed deletes in ($cursor, $head] and the view " +
        "holds non-retractable aggregates (min/max/hll need the surviving " +
        "rows, not the deleted ones) — rebuild() the view")
    // a window holding BOTH a row-level DML and merge-on-read deletes
    // has crossing semantics (the tombstone applies to post-DML values,
    // the DML retraction to pre-DML ones) — in practice unreachable
    // (DML requires a tombstone-free table), but a hand-mixed window
    // must rebuild rather than risk a double-subtraction
    require(dels.isEmpty || pre.isEmpty,
      s"window ($cursor, $head] of $baseRoot mixes row-level DML and " +
        "merge-on-read deletes — rebuild() the view")
    val gcols = spec.groupCols.map(col)
    // raw segment reads surface PHYSICAL names; the view's spec (and
    // readMergedAt below) speak LOGICAL — rename raw frames with the
    // head mapping (physical names are constant, so the head mapping
    // covers every window segment; a view spec naming a since-renamed
    // column fails loudly at analysis rather than silently grouping
    // on nothing)
    val headSnap = ManifestTable.snapshotAt(spark, baseRoot, Some(head))
    val headMapping = headSnap.actions._2
    // window segments are named by the head, or (DML pre-images) by the
    // version just before the commit that dropped them
    val metas = headSnap.metas ++
      pre.collect { case (s, Some(m)) => s -> m }
    def readRaw(segs: Seq[String]) = ManifestTable.applyMapping(
      ManifestTable.readSegs(spark, baseRoot, segs, metas), headMapping)
    val ins = chgSegs.filterNot(_.startsWith("del-"))
    val insRows0 =
      if (ins.isEmpty)
        // only safe rewrites (and/or deletes) in the window: the
        // cursor must still advance — an empty insert partial
        ManifestTable.read(spark, baseRoot).filter(lit(false))
      else readRaw(ins)
    // merged-read parity: outstanding tombstones hide insert rows too.
    // Tombstones are resolved AT THE PINNED HEAD, not the live
    // manifest: a delete committed between this sync's version capture
    // and its execution must not hide rows the cursor never advances
    // over (it would never be added here, yet the NEXT sync's window
    // would retract its pre-image — a silent double-subtraction).
    val insRows = ManifestTable.tombstonesOf(spark, baseRoot,
        headSnap.segs, metas) match {
      case Some(t0) if ins.nonEmpty =>
        val t = ManifestTable.applyMapping(t0, headMapping)
        insRows0.join(broadcast(t), t.columns.toSeq, "left_anti")
      case _ => insRows0
    }
    val insPartial = insRows.groupBy(gcols: _*)
      .agg(spec.aggs.head.partial, spec.aggs.tail.map(_.partial): _*)
    val retractPartials =
      (if (dels.isEmpty || cursor == 0L) Seq.empty
       else {
         val keys = readRaw(dels).distinct()
         Seq(ManifestTable.readMergedAt(spark, baseRoot, cursor)
           .join(broadcast(keys), keys.columns.toSeq, "left_semi")
           .groupBy(gcols: _*)
           .agg(spec.aggs.head.retract, spec.aggs.tail.map(_.retract): _*))
       }) ++
      // a row-level DML's pre-image segments retract EXACTLY: count/sum
      // deltas are multiset-additive, so "subtract the dropped rows,
      // add the replacement's" needs no row identity at all (unlike the
      // value-identity change feed). IO = O(touched segments), and the
      // dirs must still exist — the base's retention horizon covers the
      // sync cadence or this read fails loudly (rebuild).
      (if (pre.isEmpty || cursor == 0L) Seq.empty
       else Seq(readRaw(pre.map(_._1))
         .groupBy(gcols: _*)
         .agg(spec.aggs.head.retract, spec.aggs.tail.map(_.retract): _*)))
    // fold inserts + retractions into ONE stored partial (merge of
    // partials is itself a partial — the representation invariant)
    val folded = (insPartial +: retractPartials).reduce(_ unionByName _)
      .groupBy(gcols: _*)
      .agg(spec.aggs.head.merge, spec.aggs.tail.map(_.merge): _*)
    ManifestTable.append(spark, viewRoot, folded, tag = Some(s"b$head"))
    head
  }

  /** Full refresh: recompute the view from the base's CURRENT state
    * (tombstones applied) and re-pin the cursor at the base head. The
    * recovery path after a base rewrite or an expired feed window —
    * O(base) once, instead of silently wrong increments. */
  def rebuild(spark: SparkSession, viewRoot: String, baseRoot: String,
      spec0: Spec): Long = {
    val spec = spec0.checked
    val head = ManifestTable.versions(spark, baseRoot).max
    val snap = ManifestTable.readMerged(spark, baseRoot)
      .groupBy(spec.groupCols.map(col): _*)
      .agg(spec.aggs.head.partial, spec.aggs.tail.map(_.partial): _*)
      .localCheckpoint()
    try ManifestTable.replace(spark, viewRoot, snap, tag = Some(s"b$head"))
    finally graft.core.Lineage.release(snap)
    head
  }
}
