package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level DML on the [[ManifestTable]] log: copy-on-write
  * DELETE / UPDATE (and MERGE, the three-verb trio every lakehouse
  * table format ships), each ONE atomic manifest commit.
  *
  * The scale shape is pruning-first copy-on-write — the cost model
  * that makes row-level DML viable on a 100 TB log:
  *
  *  1. '''Candidate pruning (metadata only).''' The predicate scan
  *     goes through the SQL relation ([[graft.sources.ManifestSource
  *     .relation]]), so its pushed filters prune whole segments via
  *     the manifest-embedded zone maps / Bloom sidecars / partition
  *     dirs before any data IO. A point DELETE on a clustered column
  *     opens O(admitting segments), not the table.
  *  2. '''Exact touch detection (one scan).''' Surviving candidates
  *     are scanned ONCE with the predicate; matched rows group by
  *     their source segment (`input_file_name()`, map-side — the
  *     aggregate is O(segments) rows), so segments whose zone maps
  *     admitted but whose rows never matched are NOT rewritten.
  *  3. '''Scoped rewrite + atomic swap.''' Only truly-touched
  *     segments are re-read, transformed, and written back 1:1 — each
  *     source segment's survivors become one replacement segment with
  *     sidecars regenerated from what THAT source carried, so a
  *     multi-segment DML on a clustered log preserves the
  *     range-disjoint layout its zone maps depend on (one write pass:
  *     hive-split on a source tag + dir renames, no extra shuffle).
  *     The commit drops the touched segments and adds the replacements
  *     under a [[ManifestTable.DmlMark]], so every untouched segment
  *     stays byte-identical and readers see the old or the new
  *     snapshot, never a mix.
  *
  * Contract edges, all loud: DML needs a tombstone-free table (a
  * rewrite under outstanding merge-on-read deletes could resurrect a
  * deleted row — `compact()` first, the same precondition as the SQL
  * read face); a table that advanced past the expected version throws
  * (optimistic concurrency — re-run against the head); the change
  * feed surfaces a DML commit as pre-image deletes + re-inserts
  * ([[ManifestTable.readChanges]]) and additions-only consumers fail
  * loudly rather than silently missing the rewrite.
  *
  * Reference posture: locopy's warehouse runs DELETE/UPDATE/MERGE
  * server-side behind `execute` (`locopy/database.py:131-190`); here
  * the verbs are engine-native and reachable both from this typed API
  * and from pure SQL via [[graft.plans.ResolveManifestDml]].
  */
object ManifestDml {

  /** What a DML verb did: how many segments were rewritten (0 = no
    * row matched, no new manifest version) and how many rows the
    * predicate/merge matched. */
  final case class DmlReceipt(segmentsRewritten: Int, rowsMatched: Long)

  /** DML conditions are evaluated in TWO separate jobs — the pruned
    * match scan that picks touched segments, then the rewrite over the
    * re-read segments — so a condition that can answer differently per
    * evaluation would apply inconsistently between the phases (rows the
    * scan matched surviving the rewrite, or vice versa). Two hazards,
    * both neutralized here at verb entry (the posture Delta's
    * DeleteCommand/UpdateCommand take):
    *
    *  - '''time functions''' (`current_timestamp`/`now`/`current_date`/
    *    `localtimestamp`) are stamped per QUERY by Catalyst, i.e. the
    *    two phases would see different clocks — they are folded to
    *    literals evaluated ONCE, right here, so both phases share one
    *    stamp;
    *  - '''nondeterministic expressions''' (`rand()`, `uuid()`, …) are
    *    rejected loudly — no single evaluation exists to bind.
    */
  private def stableCond(spark: SparkSession, cond: Column,
      what: String): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{CurrentDate,
      CurrentTimestamp, LocalTimestamp, Literal, Now}
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    val zone = DateTimeUtils.getZoneId(
      spark.sessionState.conf.sessionLocalTimeZone)
    val instant = java.time.Instant.now()
    val micros = DateTimeUtils.instantToMicros(instant)
    def nowLit(name: String): org.apache.spark.sql.catalyst.expressions.Expression =
      name match {
        case "current_date" | "curdate" =>
          Literal(DateTimeUtils.microsToDays(micros, zone), DateType)
        case "localtimestamp" =>
          Literal(DateTimeUtils.localDateTimeToMicros(
            java.time.LocalDateTime.ofInstant(instant, zone)), TimestampNTZType)
        case _ => Literal(micros, TimestampType)
      }
    // the typed API and expr("…") hand us UNresolved function nodes
    // (resolution happens later, inside each phase's own plan) — match
    // both shapes: resolved Catalyst classes (SQL DML arrives resolved)
    // and unresolved names
    val timeNames = Set("current_timestamp", "now", "current_date",
      "curdate", "localtimestamp")
    val nondetNames = Set("rand", "randn", "random", "uuid", "shuffle",
      "monotonically_increasing_id", "spark_partition_id",
      "input_file_name", "input_file_block_start", "input_file_block_length")
    val e = org.apache.spark.sql.GraftColumnBridge.catalystExpression(cond).transform {
      case _: CurrentTimestamp | _: Now => Literal(micros, TimestampType)
      case _: CurrentDate => nowLit("current_date")
      case _: LocalTimestamp => nowLit("localtimestamp")
      case f: UnresolvedFunction if f.arguments.isEmpty &&
          timeNames(f.nameParts.last.toLowerCase(java.util.Locale.ROOT)) =>
        nowLit(f.nameParts.last.toLowerCase(java.util.Locale.ROOT))
    }
    e.collectFirst {
      case x if !x.deterministic && x.children.forall(_.deterministic) => x
      case f: UnresolvedFunction
          if nondetNames(f.nameParts.last.toLowerCase(java.util.Locale.ROOT)) => f
    }.foreach { x =>
      throw new IllegalArgumentException(
        s"$what is nondeterministic ($x): the condition is evaluated " +
          "twice (pruned match scan, then the rewrite) and could match " +
          "different rows per evaluation — materialize the row set first " +
          "and MERGE on a key instead")
    }
    org.apache.spark.sql.GraftColumnBridge.column(e)
  }

  /** `DELETE FROM root WHERE cond`: rows where `cond` is TRUE go;
    * rows where it is false or NULL stay (SQL semantics). */
  def deleteWhere(spark: SparkSession, root: String, cond: Column,
      expectVersion: Option[Long] = None,
      retryRaces: Boolean = false): DmlReceipt = {
    val c = stableCond(spark, cond, "DELETE condition")
    dmlRewrite(spark, root, c, expectVersion, retryRaces) { rows =>
      rows.filter(!coalesce(c, lit(false)))
    }
  }

  /** `UPDATE root SET name = value, … WHERE cond`: matched rows take
    * the assigned values (cast to the column's existing type — an
    * UPDATE never changes the schema), unmatched rows ride through
    * unchanged. Assignments may reference any table column (pre-image
    * values, per standard UPDATE semantics) and may target partition
    * columns — reassigned rows land in their new `col=value` dir in
    * the rewritten segment. */
  def updateWhere(spark: SparkSession, root: String,
      sets: Seq[(String, Column)], cond: Column,
      expectVersion: Option[Long] = None,
      retryRaces: Boolean = false): DmlReceipt = {
    require(sets.nonEmpty, "UPDATE needs at least one assignment")
    rejectReservedAssignment(sets.map(_._1))
    val c = stableCond(spark, cond, "UPDATE condition")
    dmlRewrite(spark, root, c, expectVersion, retryRaces) { rows =>
      val eq = spark.sessionState.conf.resolver
      val byTarget = sets.map { case (n, v) =>
        val field = rows.schema.fields.find(fd => eq(fd.name, n)).getOrElse(
          throw new IllegalArgumentException(
            s"UPDATE assigns unknown column '$n' (table has " +
              rows.columns.mkString(", ") + ")"))
        field.name -> when(coalesce(c, lit(false)),
          v.cast(field.dataType)).otherwise(col(field.name))
      }.toMap
      require(byTarget.size == sets.size,
        "UPDATE assigns the same column more than once")
      rows.select(rows.columns.toSeq.map(c =>
        byTarget.getOrElse(c, col(c)).as(c)): _*)
    }
  }

  /** Shared DML preamble: pin the head version and read its snapshot
    * (the one prior-manifest read the swap commits from), enforce the
    * OCC expectation, reject tombstoned tables, build the
    * version-pinned relation — every rewrite verb's entry invariant in
    * ONE place. */
  private def dmlTarget(spark: SparkSession, root: String, verb: String,
      expectVersion: Option[Long])
      : (org.apache.hadoop.fs.FileSystem, Path, Long, ManifestTable.Snapshot,
         org.apache.spark.sql.execution.datasources.HadoopFsRelation) = {
    val (f, p) = ManifestTable.fs(spark, root)
    val (v, snap) = ManifestTable.headSnapshot(spark, root)
    if (v == 0L) throw new IllegalStateException(s"$verb on uncommitted table $root")
    expectVersion.foreach { ev =>
      require(ev == v,
        s"$root is at manifest v$v but the statement was planned against " +
          s"v$ev (pinned-version target, or a concurrent commit won the " +
          "race) — re-run against the head")
    }
    require(!snap.segs.exists(_.startsWith(ManifestTable.DelPrefix)),
      s"$root has outstanding merge-on-read tombstones; a copy-on-write " +
        "rewrite under them could resurrect deleted rows — compact() first")
    val rel = graft.sources.ManifestSource.relation(
      spark, root, v, snap, allowTombstones = false)
    (f, p, v, snap, rel)
  }

  /** Every segment's metadata, as the pinned relation's file index
    * already holds it (no second manifest read or segment listing). */
  private def indexMetas(
      rel: org.apache.spark.sql.execution.datasources.HadoopFsRelation) =
    rel.location.asInstanceOf[graft.sources.ManifestFileIndex].segMetas

  /** Shared copy-on-write core: find touched segments through the
    * pruned predicate scan, rewrite them with `rewrite`, swap
    * atomically. `rewrite` receives exactly the touched segments'
    * rows (schema-evolution union) and must keep the column set. */
  private def dmlRewrite(spark: SparkSession, root: String, cond: Column,
      expectVersion: Option[Long], retryRaces: Boolean = false)(
      rewrite: DataFrame => DataFrame): DmlReceipt = {
    val (f, p, v, snap, rel) =
      dmlTarget(spark, root, "row-level DML", expectVersion)
    // conditions/assignments speak LOGICAL names; the relation scans
    // PHYSICAL ones — rename up front (Catalyst pushes the rebased
    // predicate through the rename aliases, so pruning is unchanged),
    // run the whole rewrite in logical space, translate back at the
    // segment write (swap below)
    val mapping = snap.actions._2

    // ---- phase 1: pruned match scan, grouped by source segment ----
    val df = ManifestTable.applyMapping(spark.baseRelationToDataFrame(rel), mapping)
    val segCol = ManifestTable.segmentOf(f, p)
    val matchedBySeg = df.filter(cond)
      .groupBy(segCol.as("_seg")).count().collect()
    if (matchedBySeg.isEmpty) return DmlReceipt(0, 0L)
    val touched = matchedBySeg.map(_.getString(0)).toSeq
    val rowsMatched = matchedBySeg.map(_.getLong(1)).sum
    val allSet = snap.segs.toSet
    require(touched.forall(allSet),
      s"internal: matched files attributed outside the manifest " +
        s"(${touched.filterNot(allSet).mkString(", ")}) — root prefix mismatch")

    // ---- phase 2: rewrite ONLY the touched segments ----
    val metas = indexMetas(rel)
    val rows = ManifestTable.applyMapping(
      srcTaggedRead(spark, root, segCol, touched, rel, metas), mapping)
    val kept = rewrite(rows)
    require(kept.columns.toSeq == rows.columns.toSeq,
      "internal: DML rewrite changed the column set")
    swapRetrying(spark, root, v, snap, touched,
      ManifestTable.toPhysical(kept, mapping),
      rel.partitionSchema.fieldNames.toSeq, metas, retryRaces)
    DmlReceipt(touched.size, rowsMatched)
  }

  /** [[swapSegments]] with opt-in optimistic-concurrency retry: a DML
    * that loses the publish race re-validates its pruned candidate set
    * against the NEW head and re-runs the swap there when the
    * interleaved commits are compatible — i.e. every touched segment
    * is still named by the head (nobody rewrote/dropped what we are
    * rewriting) and no new merge-on-read tombstone landed (a rewrite
    * over unseen tombstones could resurrect deleted rows). Append-only
    * interleavers always pass both checks: the DML simply serializes
    * BEFORE them (an interleaved append whose rows would have matched
    * the predicate keeps its rows — the valid serial order is
    * DML-then-append). True overlap stays a loud [[ManifestTable
    * .CommitRaceLost]]. The retry re-evaluates `kept` from the (still
    * present, byte-identical) touched segments — sound because
    * [[stableCond]] pinned the condition to one deterministic
    * evaluation; the lost attempt's placed dirs are unreferenced
    * orphans the next maintenance GC collects (after [[ManifestTable
    * .gcGraceMs]]). A DISJOINT-segment DML interleaver also passes the
    * validation (the two rewrites serialize cleanly), and the GC
    * grace window means neither a concurrent APPEND's in-flight
    * segment nor the loser's fresh re-placement can be collected by
    * the winner's pass — appends are fully safe concurrent with any
    * one rewrite-class verb. Concurrent rewrite-class writers racing
    * EACH OTHER remain a single-writer recommendation: a loser
    * mid-read of segments the winner just retired fails loudly and
    * re-runs; nothing is ever silently lost. */
  private def swapRetrying(spark: SparkSession, root: String, v: Long,
      snap: ManifestTable.Snapshot, touched: Seq[String], kept: DataFrame,
      partBy: Seq[String], metas: Map[String, ManifestTable.SegMeta],
      retryRaces: Boolean): Unit = {
    var (curV, cur) = (v, snap)
    var attempts = 0
    while (true) {
      try {
        swapSegments(spark, root, curV, cur, touched, kept, partBy, metas)
        return
      } catch {
        case e: ManifestTable.CommitRaceLost =>
          if (!retryRaces || attempts >= 20) throw e
          attempts += 1
          val (nv, headSnap) = ManifestTable.headSnapshot(spark, root)
          if (nv == 0L) throw new IllegalStateException(
            s"$root lost its manifest mid-DML retry")
          val head = headSnap.segs
          val headSet = head.toSet
          val missing = touched.filterNot(headSet)
          if (missing.nonEmpty) throw new ManifestTable.CommitRaceLost(
            s"DML on $root lost the commit race and a concurrent commit " +
              s"rewrote or dropped touched segment(s) " +
              s"${missing.mkString(", ")} — true overlap, re-run against " +
              "the new head")
          val plannedDels = cur.segs
            .filter(_.startsWith(ManifestTable.DelPrefix)).toSet
          val newDels = head.filter(s =>
            s.startsWith(ManifestTable.DelPrefix) && !plannedDels(s))
          if (newDels.nonEmpty) throw new ManifestTable.CommitRaceLost(
            s"DML on $root lost the commit race to a merge-on-read " +
              s"DELETE (${newDels.mkString(", ")}); rewriting under " +
              "unseen tombstones could resurrect deleted rows — " +
              "compact() and re-run")
          curV = nv
          cur = headSnap
      }
    }
  }

  /** Touched segments conformed to the relation's merged schema, each
    * row tagged with its SOURCE segment index (`__src`): the rewrite
    * preserves the touched segments' 1:1 layout — on a clustered log a
    * multi-segment DML must not fold range-disjoint segments into one
    * range-spanning replacement, or the zone maps it just regenerated
    * would stop pruning. The tag rides through the rewrite (filters
    * keep it, projections pass it) and becomes the replacement-segment
    * split at write time.
    *
    * Plan shape: ONE scan over all touched segments, flat or
    * partitioned ([[ManifestTable.readSegs]]); a map-literal lookup on
    * the file's segment ([[segOf]]) derives the source tag, so a
    * 1000-segment UPDATE plans one scan node, not a 1000-way union
    * chain. */
  private def srcTaggedRead(spark: SparkSession, root: String,
      segCol: Column, touched: Seq[String],
      rel: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
      metas: Map[String, ManifestTable.SegMeta]): DataFrame = {
    require(!(rel.dataSchema.fieldNames ++ rel.partitionSchema.fieldNames)
        .exists(_.equalsIgnoreCase(SrcCol)),
      s"table column $SrcCol collides with DML rewrite plumbing — rename it")
    conformTo(spark, ManifestTable.readSegs(spark, root, touched, metas), rel)
      .withColumn(SrcCol, element_at(typedLit(touched.zipWithIndex.toMap), segCol))
  }

  /** Reserved rewrite-plumbing column: source-segment index. */
  private val SrcCol = "__graft_src"

  /** `MERGE INTO root USING source ON cond …`: the lakehouse upsert
    * verb, same pruning-first copy-on-write shape as DELETE/UPDATE.
    * Two scans, the standard two-phase plan every lakehouse MERGE
    * runs: (1) an inner join finds the segments holding matched
    * target rows — and enforces the single-match cardinality rule
    * whenever a rewrite will happen (a target row matched by two
    * source rows would apply an ambiguous update, or duplicate
    * through the rewrite join); (2) a full-outer join over ONLY the
    * touched segments applies the action chains (first matching
    * WHEN clause wins, SQL CASE order) and the surviving rows swap in
    * 1:1 as replacement segments (layout-preserving), unmatched-source
    * inserts landing in their own append-like segment.
    * An insert-only merge (no matched / not-matched-by-source
    * actions) never rewrites anything: it anti-joins the source and
    * commits a plain APPEND — feed-friendly, O(new rows) write. A
    * merge with not-matched-by-source actions touches every segment
    * by definition (the rows those actions hit are the ones the
    * source does NOT name, so nothing bounds them).
    *
    * The source is snapshotted ([[org.apache.spark.sql.Dataset
    * .localCheckpoint]]) so both phases see identical rows even for
    * non-deterministic sources. Conditions/values reference the
    * target as `__t.<col>` and the source as `__s.<col>` (the SQL
    * rule rebinds resolved references onto those aliases). */
  def mergeInto(spark: SparkSession, root: String, source: DataFrame,
      onCond: Column, matched: Seq[MergeRule], notMatched: Seq[MergeRule],
      notMatchedBySource: Seq[MergeRule],
      expectVersion: Option[Long] = None,
      retryRaces: Boolean = false,
      evolveCols: Seq[(String, org.apache.spark.sql.types.DataType)] = Nil)
      : DmlReceipt = {
    // the ON clause runs in both phases (match scan, rewrite join) —
    // same two-evaluation hazard as DELETE/UPDATE conditions; action-
    // chain conds run once in phase 2 and need no such pinning
    val cond = stableCond(spark, onCond, "MERGE ON condition")
    require((matched ++ notMatchedBySource).forall(!_.isInstanceOf[MergeInsert]),
      "INSERT actions belong to WHEN NOT MATCHED [BY TARGET]")
    require(notMatched.forall(_.isInstanceOf[MergeInsert]),
      "WHEN NOT MATCHED [BY TARGET] supports INSERT actions only")
    rejectReservedAssignment(
      (matched ++ notMatched ++ notMatchedBySource).flatMap {
        case MergeUpdate(_, set) => set.map(_._1)
        case MergeInsert(_, values) => values.map(_._1)
        case _ => Nil
      })
    val (f, p, v, snap, rel) = dmlTarget(spark, root, "MERGE", expectVersion)
    val all = snap.segs
    // logical-space MERGE over a physical-name scan, same contract as
    // dmlRewrite: rename on entry, translate back at the segment write
    val mapping = snap.actions._2
    val tdf = ManifestTable.applyMapping(
      spark.baseRelationToDataFrame(rel), mapping)
    // WITH SCHEMA EVOLUTION: source-only columns extend the target
    // schema ADDITIVELY — replacement/insert segments carry them,
    // untouched segments read NULL there (the log's standard additive
    // evolution), and the rewrite frame materializes them as NULLs so
    // action chains can assign them
    val eqr = spark.sessionState.conf.resolver
    evolveCols.foreach { case (n, _) =>
      require(!tdf.columns.exists(c => eqr(c, n)),
        s"MERGE schema evolution: column $n already exists on $root")
      require(!n.equalsIgnoreCase(SrcCol),
        s"column $n is reserved DML rewrite plumbing")
    }
    val tFields = tdf.schema.fields.toSeq ++ evolveCols.map { case (n, dt) =>
      org.apache.spark.sql.types.StructField(n, dt, nullable = true)
    }
    val src = source.localCheckpoint()
    try {
      val segCol = ManifestTable.segmentOf(f, p)
      // dynamic target pruning from the ON clause's equality keys:
      // the filter reaches the relation as a pushed predicate, so the
      // manifest's zone maps / Bloom sidecars prune whole segments
      // before the join reads anything
      val prunedT = mergePruneCond(spark, src, cond)
        .map(tdf.filter).getOrElse(tdf)

      // ---- phase 1: matched segments + cardinality (one inner join) ----
      // __seg/__tid are projected on the TARGET side before the join
      // (input_file_name must never evaluate post-join)
      val t1 = prunedT.withColumn("__seg", segCol)
        .withColumn("__tid", monotonically_increasing_id()).alias("__t")
      val perSeg = t1.join(src.alias("__s"), cond, "inner")
        .groupBy(col("__tid")).agg(count(lit(1)).as("c"), first("__seg").as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("n"), max("c").as("mx"))
        .collect()
      val rowsMatched = perSeg.map(_.getLong(1)).sum
      val rewriting = matched.nonEmpty || notMatchedBySource.nonEmpty
      if (rewriting && perSeg.nonEmpty) {
        val mx = perSeg.map(_.getLong(2)).max
        require(mx == 1L,
          s"MERGE cardinality violation: a target row of $root matches " +
            s"$mx source rows — the ON clause must identify at most one " +
            "source row per target row when UPDATE/DELETE actions exist")
      }
      val touched: Seq[String] =
        if (notMatchedBySource.nonEmpty)
          all.filterNot(_.startsWith(ManifestTable.DelPrefix))
        else if (matched.nonEmpty) perSeg.map(_.getString(0)).toSeq
        else Nil
      val allSet = all.toSet
      require(touched.forall(allSet),
        s"internal: matched files attributed outside the manifest " +
          s"(${touched.filterNot(allSet).mkString(", ")})")

      def chainVal(rules: Seq[MergeRule], fd: org.apache.spark.sql.types.StructField,
          base: Column, tRef: String => Column): Column =
        rules.foldLeft(Option.empty[Column]) { (acc, r) =>
          val c = r.cond.getOrElse(lit(true))
          val value = r match {
            case MergeUpdate(_, set) => setLookup(set, fd).getOrElse(tRef(fd.name))
            case MergeDelete(_) => tRef(fd.name) // row dropped by keep-chain
            case MergeInsert(_, values) =>
              setLookup(values, fd).getOrElse(lit(null))
          }
          Some(acc.fold(when(c, value))(_.when(c, value)))
        }.fold(base)(_.otherwise(base))

      def chainKeep(rules: Seq[MergeRule], base: Column): Column =
        rules.foldLeft(Option.empty[Column]) { (acc, r) =>
          val c = r.cond.getOrElse(lit(true))
          val keep = lit(!r.isInstanceOf[MergeDelete])
          Some(acc.fold(when(c, keep))(_.when(c, keep)))
        }.fold(base)(_.otherwise(base))

      // ---- phase 2: action chains over the touched rows + inserts ----
      if (touched.nonEmpty) {
        val segMetas = indexMetas(rel)
        val base0 = ManifestTable.applyMapping(
          srcTaggedRead(spark, root, segCol, touched, rel, segMetas), mapping)
        val base = evolveCols.foldLeft(base0) { case (df, (n, dt)) =>
          df.withColumn(n, lit(null).cast(dt))
        }
        val t2 = base.withColumn("__tex", lit(true)).alias("__t")
        val s2 = src.withColumn("__sex", lit(true)).alias("__s")
        val j = t2.join(s2, cond, "full_outer")
        val tex = coalesce(col("__tex"), lit(false))
        val sex = coalesce(col("__sex"), lit(false))
        def tRef(n: String): Column = t2(n)
        val keep =
          when(tex && sex, chainKeep(matched, lit(true)))
            .when(tex, chainKeep(notMatchedBySource, lit(true)))
            .otherwise(chainKeep(notMatched, lit(false)))
        val outCols = tFields.map { fd =>
          when(tex && sex, chainVal(matched, fd, tRef(fd.name), tRef))
            .when(tex, chainVal(notMatchedBySource, fd, tRef(fd.name), tRef))
            .otherwise(chainVal(notMatched, fd, lit(null), tRef))
            .cast(fd.dataType).as(fd.name)
        } :+ coalesce(t2(SrcCol), lit(-1)).as(SrcCol) // inserts → own segment
        val kept = j.filter(keep).select(outCols: _*)
        swapRetrying(spark, root, v, snap, touched,
          ManifestTable.toPhysical(kept, mapping),
          rel.partitionSchema.fieldNames.toSeq, segMetas, retryRaces)
        DmlReceipt(touched.size, rowsMatched)
      } else {
        // insert-only (or nothing-to-do) merge: plain append commit
        // (the anti-join's target side prunes identically: rows outside
        // the source key set can't match, so dropping them changes no
        // anti-join answer)
        val ins = src.alias("__s").join(prunedT.alias("__t"), cond, "left_anti")
        val insCols = tFields.map { fd =>
          chainVal(notMatched, fd, lit(null), n => lit(null))
            .cast(fd.dataType).as(fd.name)
        }
        val rows = ins.filter(chainKeep(notMatched, lit(false)))
          .select(insCols: _*).localCheckpoint()
        try {
          if (!rows.isEmpty)
            ManifestTable.append(spark, root, rows,
              partitionBy = rel.partitionSchema.fieldNames.toSeq,
              retryRaces = retryRaces)
        } finally graft.core.Lineage.release(rows)
        DmlReceipt(0, rowsMatched)
      }
    } finally graft.core.Lineage.release(src)
  }

  /** Dynamic target pruning for MERGE: every `__t.c = __s.k` conjunct
    * of the ON clause bounds the matchable target rows by the SOURCE's
    * key set — collect it (small sources: an IN-list the relation's
    * Bloom/IN-list segment pruning eats; larger: min/max range for the
    * zone maps) and pre-filter the match scan. A point MERGE on a
    * clustered 100 TB log then opens O(admitting segments), not the
    * table — the join itself can never ask Catalyst for that pruning
    * (the lakehouse "dynamic file pruning" every join-based MERGE
    * needs). Sound because an equality conjunct cannot match outside
    * the source's key set (NULL keys match nothing on either side).
    * The source is already checkpointed, so the key-collection job is
    * O(source) on materialized rows. */
  private def mergePruneCond(spark: SparkSession, src: DataFrame,
      cond: Column): Option[Column] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
      UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
    // the SQL rebase hands resolved-class nodes (And/EqualTo over
    // Seq(__t, c) attributes); the typed API hands UNresolved function
    // nodes ('and, '= over one unparsed "__t.c" part) — match both
    def fnName(f: UnresolvedFunction): String =
      f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
    def conjuncts(x: Expression): Seq[Expression] = x match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case f: UnresolvedFunction
          if fnName(f) == "and" && f.arguments.length == 2 =>
        conjuncts(f.arguments(0)) ++ conjuncts(f.arguments(1))
      case o => Seq(o)
    }
    def side(e: Expression): Option[(String, String)] = e match {
      case u: UnresolvedAttribute =>
        u.nameParts.flatMap(_.split("\\.")) match {
          case Seq(q, c) if q == "__t" || q == "__s" => Some((q, c))
          case _ => None
        }
      case _ => None
    }
    def eqPair(a: Expression, b: Expression): Option[(String, String)] =
      (side(a), side(b)) match {
        case (Some(("__t", tc)), Some(("__s", sc))) => Some((tc, sc))
        case (Some(("__s", sc)), Some(("__t", tc))) => Some((tc, sc))
        case _ => None
      }
    val pairs = conjuncts(
      org.apache.spark.sql.GraftColumnBridge.catalystExpression(cond))
      .flatMap {
        case EqualTo(a, b) => eqPair(a, b)
        case f: UnresolvedFunction
            if (fnName(f) == "=" || fnName(f) == "==") &&
              f.arguments.length == 2 =>
          eqPair(f.arguments(0), f.arguments(1))
        case _ => None
      }
    val MaxInList = 1000
    val preds = pairs.flatMap { case (tc, sc) =>
      // prune predicates are literal-valued (isin / min-max range), so
      // only ATOMIC key types qualify — a struct/array/map ON key is a
      // perfectly valid join key but functions.lit would throw at
      // planning; such keys simply contribute no prune (the MERGE
      // stays correct, it just scans unpruned on that conjunct)
      val atomicKey = scala.util.Try(
        src.select(col(sc)).schema.head.dataType).toOption.exists {
        case _: org.apache.spark.sql.types.StructType => false
        case _: org.apache.spark.sql.types.ArrayType => false
        case _: org.apache.spark.sql.types.MapType => false
        case _: org.apache.spark.sql.types.VariantType => false
        case _ => true
      }
      if (!atomicKey) None
      else scala.util.Try {
        val ks = src.select(col(sc).as("__k")).filter(col("__k").isNotNull)
          .distinct().limit(MaxInList + 1).collect().map(_.get(0))
        if (ks.isEmpty) Some(lit(false)) // no non-null keys: nothing matches
        else if (ks.length <= MaxInList) Some(col(tc).isin(ks.toSeq: _*))
        else {
          val mm = src.agg(min(col(sc)), max(col(sc))).head()
          if (mm.isNullAt(0)) None
          else Some(col(tc) >= lit(mm.get(0)) && col(tc) <= lit(mm.get(1)))
        }
      }.toOption.flatten // an unliteralizable value class: skip the prune
    }
    preds.reduceOption(_ && _)
  }

  /** One MERGE action: the `cond`-gated UPDATE SET / DELETE /
    * INSERT clauses, applied first-match-wins in declaration order. */
  sealed trait MergeRule { def cond: Option[Column] }
  final case class MergeUpdate(cond: Option[Column],
      set: Seq[(String, Column)]) extends MergeRule
  final case class MergeDelete(cond: Option[Column]) extends MergeRule
  final case class MergeInsert(cond: Option[Column],
      values: Seq[(String, Column)]) extends MergeRule

  /** The rewrite frame carries [[SrcCol]]; an assignment targeting it
    * would silently collapse the 1:1 segment split. */
  private def rejectReservedAssignment(names: Seq[String]): Unit =
    names.find(_.equalsIgnoreCase(SrcCol)).foreach { n =>
      throw new IllegalArgumentException(
        s"column $n is reserved DML rewrite plumbing and cannot be assigned")
    }

  private def setLookup(set: Seq[(String, Column)],
      fd: org.apache.spark.sql.types.StructField): Option[Column] =
    set.collectFirst { case (n, v) if n.equalsIgnoreCase(fd.name) => v }

  /** Conform touched-segment rows to the RELATION's merged schema:
    * a pre-evolution segment lacks later-added columns (its reader
    * NULL-fills them), so the rewrite frame must materialize the full
    * additive schema for assignments/action chains to target those
    * columns — the rewritten segment thereby upgrades to the current
    * schema, standard copy-on-write evolution behavior. */
  private def conformTo(spark: SparkSession, df: DataFrame,
      rel: org.apache.spark.sql.execution.datasources.HadoopFsRelation): DataFrame = {
    val eq = spark.sessionState.conf.resolver
    val full = rel.dataSchema.fields ++ rel.partitionSchema.fields
    df.select(full.toSeq.map { fd =>
      df.columns.find(c => eq(c, fd.name))
        .map(c => col(c).as(fd.name))
        .getOrElse(lit(null).cast(fd.dataType).as(fd.name))
    }: _*)
  }

  /** Phases 2b+3 shared by every rewriting DML verb: write `kept`
    * (carrying [[SrcCol]] source-segment tags) split 1:1 back into
    * replacement segments through [[ManifestTable.writeSegments]] —
    * each replacement's sidecars from what ITS source carried — and
    * commit the swap atomically on `prior` (the snapshot of `v`) under
    * [[ManifestTable.DmlMark]], GC per the retention horizon.
    *
    * The split is the writer's ONE write pass on the tag (`seg-<v+1>-
    * dml<i>-…`), flat or partitioned alike, and its stats and Bloom
    * jobs are grouped over all replacements, so a broad DML's job
    * count does not grow with the segments it touches. 1:1 matters on
    * a clustered log: folding range-disjoint touched segments into one
    * range-spanning replacement would blunt the zone maps a maintained
    * layout exists for. A source whose rows were all deleted writes no
    * dir and is simply dropped; MERGE inserts ride tag -1 into their
    * own append-like segment (`dmlins`, stat and Bloom columns the
    * union of the touched segments'). */
  private def swapSegments(spark: SparkSession, root: String, v: Long,
      prior: ManifestTable.Snapshot, touched: Seq[String], kept: DataFrame,
      partBy: Seq[String], metas: Map[String, ManifestTable.SegMeta]): Unit = {
    val (f, p) = ManifestTable.fs(spark, root)
    val rest = prior.segs.filterNot(touched.toSet)
    val statsOf = touched.map(metas(_).stats.toSeq.flatMap(_.cols.keys))
    val bloomsOf = touched.map(metas(_).blooms)
    def colsFor(i: Int): (Seq[String], Seq[String]) =
      if (i >= 0) (statsOf(i), bloomsOf(i))
      else (statsOf.flatten.distinct, bloomsOf.flatten.distinct)
    val placed = ManifestTable.writeSegments(spark, root, v, kept, Some(SrcCol),
      partBy, "dml", colsFor) match {
      case Nil if rest.isEmpty =>
        // full clear of a flat table: keep the table alive with its
        // schema — a 0-partition frame takes FileFormatWriter's
        // write-one-empty-file path, so the snapshot stays readable
        require(partBy.isEmpty,
          s"DML removed every row of hive-partitioned table $root — a " +
            "partitioned layout cannot hold an empty snapshot; destroy() " +
            "or replace() instead")
        ManifestTable.writeSegments(spark, root, v, spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(
            kept.schema.filterNot(_.name == SrcCol))), None, Nil, "dml-",
          _ => colsFor(-1))
      case segs => segs
    }
    ManifestTable.commit(f, p, v + 1, prior, rest ++ placed.map(_._1),
      Seq(ManifestTable.DmlMark), metas = placed.map(s => s._1 -> s._3).toMap)
    ManifestTable.gc(f, p, prior) // retires the touched dirs
  }
}
