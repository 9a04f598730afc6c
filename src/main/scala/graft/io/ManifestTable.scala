package graft.io

import scala.collection.immutable.SeqMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, count, datediff, lit, max, min,
  regexp_replace, struct, unix_micros}
import org.apache.spark.sql.types._

/** A minimal manifest-committed parquet table: the append-capable
  * commit primitive the plain-parquet streaming merges were missing.
  *
  * Layout under `root`:
  * {{{
  *   _manifest.v<N>        one line per committed segment dir; highest N wins
  *   seg-<N>-<uuid>/       parquet data segment, one per committed append/replace
  *   del-<N>-<uuid>/       parquet TOMBSTONE segment (deleted keys; see [[delete]])
  * }}}
  *
  * Commit protocol (single-writer, which is what foreachBatch gives —
  * micro-batches apply serially):
  *   1. write the new segment dir (normal parquet job commit);
  *   2. write the FULL new segment list to `_manifest.v<N+1>.tmp-<uuid>`;
  *   3. atomically `rename` the tmp onto `_manifest.v<N+1>`.
  * A reader always resolves the highest committed manifest version, so
  * a crash at any step leaves either v<N> or v<N+1> visible — never a
  * half-appended table. A segment written but never named by a
  * manifest (crash between 1 and 3) is an invisible orphan, collected
  * by [[compact]]/[[destroy]]; the streaming checkpoint replays its
  * batch, which re-merges against the OLD manifest state and commits a
  * fresh segment.
  *
  * This is deliberately the smallest slice of a lakehouse log that
  * makes per-ingest IO O(batch): an append writes ONLY the new rows
  * plus a manifest of a few hundred bytes, while every previously
  * committed segment's files stay byte-identical (spec-pinned). At
  * 100 TB the same layout holds on any FS with atomic rename (HDFS,
  * local); on S3-class stores the rename step would swap to a
  * conditional PUT, the same escape hatch every manifest-log format
  * uses. Segment count grows one per non-empty ingest — [[compact]]
  * folds them back to one when the reader's per-segment open cost
  * starts to matter (the reader hands Spark the commit's file list,
  * so scan parallelism is unaffected either way).
  */
object ManifestTable {

  private val ManifestPrefix = "_manifest.v"
  private[io] val DelPrefix = "del-"

  /** The atomic publish step, pluggable per storage class. A strategy
    * must (1) make manifest version `v` visible atomically — readers
    * see the old or the new manifest, never a torn one — and (2)
    * guarantee a SINGLE WINNER when two writers race to publish the
    * same version (the loser throws, its segment becomes an orphan
    * that [[compact]]/GC collects; nothing already committed is ever
    * lost, because a manifest names the full segment list and losers
    * never overwrite it). [[RenameCommit]] implements this with
    * tmp-write + no-overwrite `rename` (HDFS/local semantics); an
    * S3-class store — where rename is copy+delete and not atomic —
    * plugs in a conditional-PUT (If-None-Match) strategy against the
    * same interface. */
  trait CommitStrategy {
    /** Publish `content` as exactly `dst`, atomically, failing (not
      * overwriting) if `dst` already exists. A lost version race MUST
      * surface as [[CommitRaceLost]] (and nothing else as it), so
      * retryable callers can distinguish contention from store
      * failures. */
    def publish(f: FileSystem, dir: Path, dst: Path, content: String): Unit
  }

  /** Another writer published this manifest version first. For plain
    * appends this is pure contention (retryable — see
    * [[ManifestTable.append]]'s `retryRaces`); for snapshot-derived
    * commits (rewrites, DML, view partials) it means the input
    * snapshot is stale and the operation must be re-planned. */
  final class CommitRaceLost(msg: String) extends IllegalStateException(msg)

  /** Atomic-rename commit: correct on any FS with atomic, no-overwrite
    * rename (HDFS, ABFS). On `file:` schemes the swap step is a HARD
    * LINK instead: POSIX rename(2) — what Hadoop's local rename calls
    * — silently REPLACES an existing destination, so two racing
    * commits could both "succeed" with the later erasing the earlier
    * winner's manifest (observed under a real multi-writer test);
    * link(2) is atomic AND fails with EEXIST, giving local FS the
    * same single-winner guarantee HDFS's no-overwrite rename has. */
  object RenameCommit extends CommitStrategy {
    def publish(f: FileSystem, dir: Path, dst: Path, content: String): Unit = {
      val tmp = new Path(dir,
        s"${dst.getName}.tmp-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(content.getBytes("UTF-8"))
      finally out.close()
      if (f.getUri.getScheme == "file") {
        try java.nio.file.Files.createLink(
          java.nio.file.Paths.get(f.makeQualified(dst).toUri),
          java.nio.file.Paths.get(f.makeQualified(tmp).toUri))
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            f.delete(tmp, false)
            throw new CommitRaceLost(
              s"manifest commit lost the race for $dst")
          case e: Throwable =>
            // a file: mount without link(2) (some NFS exports, FAT,
            // overlay mounts) — clean the tmp and say what to do;
            // silently falling back to rename would reintroduce the
            // replaced-winner race this path exists to close
            scala.util.Try(f.delete(tmp, false))
            throw new IllegalStateException(
              s"local manifest publish needs hard-link support at $dst " +
                "(atomic create-exclusive); this mount refused link(2) — " +
                "plug a CommitStrategy suited to the store " +
                "(ManifestTable.commitStrategy)", e)
        }
        f.delete(tmp, false)
      } else if (!f.rename(tmp, dst)) {
        f.delete(tmp, false)
        throw new CommitRaceLost(
          s"manifest commit lost the race for $dst")
      }
    }
  }

  /** Conditional-PUT commit for object stores: S3-class stores
    * (If-None-Match PUT), GCS (ifGenerationMatch 0) and strongly
    * consistent FS APIs expose "create exactly this key, fail if it
    * exists" — and an object becomes visible ATOMICALLY on PUT
    * completion, so there is no torn-read window and no rename needed.
    * Through Hadoop's API the same contract is `create(dst,
    * overwrite=false)` (atomic create-exclusive; the loser of a race
    * gets FileAlreadyExistsException → rethrown as the standard
    * lost-race error, its segment orphaned exactly as under
    * [[RenameCommit]]). On plain local/HDFS paths a reader could in
    * principle observe the file mid-write (those FSs make FILES
    * visible at create, not close) — which is why [[RenameCommit]]
    * stays the default there and this strategy is for object-store
    * semantics, where PUT visibility is all-or-nothing.
    *
    * REQUIREMENT on S3A specifically: the filesystem must enforce
    * create-exclusive at PUT time, not just at `create()` time.
    * Plain S3A checks overwrite=false with a HEAD when the stream is
    * opened but only PUTs the object at close(), so two racing
    * writers could both pass the check and the later close() would
    * silently win. Hadoop 3.4.1+ closes that window when conditional
    * creates are enabled (`fs.s3a.create.conditional.enabled`, which
    * maps create(overwrite=false) to an If-None-Match PUT); this
    * strategy is only correct on S3A under that setting (or any
    * store whose create-exclusive is truly atomic at publish). On
    * stores without it, single-winner publication needs an external
    * lock or a DynamoDB-style commit service.
    *
    * Failure semantics: ONLY a create-exclusive conflict
    * (FileAlreadyExistsException) is reported as a lost race; any
    * other IO failure (permissions, quota, transient store errors)
    * propagates unchanged so operators debug the store, not a
    * phantom concurrency bug. If the stream was created but the
    * write/close fails, the possibly-torn `dst` is best-effort
    * deleted before rethrowing — on create-visible FSs that file
    * would otherwise be permanently resolved as the committed head
    * (wedging the table on a torn segment list) and the version
    * could never be retried. */
  object CreateExclusiveCommit extends CommitStrategy {
    def publish(f: FileSystem, dir: Path, dst: Path, content: String): Unit = {
      val out =
        try f.create(dst, false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
               _: java.nio.file.FileAlreadyExistsException =>
            throw new CommitRaceLost(
              s"manifest commit lost the race for $dst")
        }
      try {
        out.write(content.getBytes("UTF-8"))
        out.close()
      } catch { case e: Throwable =>
        scala.util.Try(out.close())
        scala.util.Try(f.delete(dst, false))
        throw e
      }
    }
  }

  /** Process-wide strategy hook; deployments on stores without atomic
    * rename swap this once at startup. */
  @volatile var commitStrategy: CommitStrategy = RenameCommit

  private[io] def fs(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Highest committed manifest version under `root`, if any. */
  private[io] def currentVersion(f: FileSystem, root: Path): Option[Long] =
    versionsOf(f, root).lastOption

  /** Metadata marker for a commit that only REPACKAGES existing rows
    * (optimize/cluster/compact): `#`-prefixed lines in a manifest are
    * commit metadata, invisible to segment listing. */
  private val RewriteMark = "#rewrite"

  /** Metadata marker for a row-level DML commit ([[ManifestDml]]'s
    * copy-on-write DELETE/UPDATE/MERGE): the commit DROPS the touched
    * segments and adds their rewritten replacement, so — unlike a
    * [[RewriteMark]]ed repackaging — the rows themselves changed. The
    * change feed surfaces such a commit as pre-image DELETES of every
    * dropped segment followed by INSERTS of the replacement
    * ([[readChanges]]; a consumer applies a window's deletes before
    * its inserts), and plain additions-only consumers fail loudly. */
  private[io] val DmlMark = "#dml"

  /** Per-segment metadata embedded IN the manifest commit:
    * `#meta <segment> <one-line json>` with the segment's data-file
    * list (+ sizes), its Spark schema, its zone-map stats and its
    * Bloom-sidecar columns. This is what lets the SQL relation
    * ([[graft.sources.ManifestSource]]) plan from ONE log read —
    * no per-segment `listStatus`, no per-segment `_stats.graft.json`
    * open, no footer-merge job over every file. On a streaming-fed
    * log with thousands of ingests between packs that was the
    * remaining O(segments) driver IO per query; real lakehouse logs
    * carry exactly this in the commit. Every reader — typed and SQL —
    * plans from these lines through [[segmentMetas]]/[[readSegs]], and
    * every writer encodes them in one place ([[writeSegments]], which
    * also writes the sidecars); [[commit]] carries each untouched
    * segment's line forward verbatim from the prior [[Snapshot]].
    * Sidecars keep being written (external tools and tables whose
    * manifest lost its `#meta` lines read them); the manifest line is
    * a COPY taken at commit time, authoritative for the snapshot it
    * names. A segment without a parseable line (written before this
    * existed, or by hand) gets its metadata derived from its dir, in
    * one place ([[metaOf]]). */
  private val MetaPrefix = "#meta "

  private[io] def manifestLines(f: FileSystem, root: Path, v: Long): Seq[String] = {
    val in = f.open(new Path(root, ManifestPrefix + v))
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  private[io] def readManifest(f: FileSystem, root: Path, v: Long): Seq[String] =
    manifestLines(f, root, v).filterNot(_.startsWith("#"))

  /** `ALTER TABLE … DROP COLUMN` is a SCHEMA PROJECTION, not a data
    * rewrite: the dropping commit records the column in a `#dropcol`
    * line and every later commit carries the accumulated set forward
    * (a manifest is a full snapshot — same contract as its segment
    * list), so readers subtract the set from the merged schema and
    * never request the column from the scan. Physical bytes stay in
    * place until a rewrite-class verb repackages the rows (compact/
    * cluster write through the post-drop projection, which is when the
    * data physically disappears). Time travel is exact: each version's
    * manifest carries its OWN set, so a pre-drop snapshot still reads
    * the column. The line records the PHYSICAL name ([[ColMapPrefix]]
    * — pre-mapping tables wrote logical≡physical lines, still valid);
    * re-ADDing a dropped logical name works immediately because
    * [[addColumns]] mints a FRESH physical name for it, so the old
    * values still sitting in unrewritten segments can never resurface.
    * A FULL rewrite (replace/compact/cluster) writes through the
    * projection and retires the tombstones. */
  private val DropColPrefix = "#dropcol "

  /** Marks a pure schema-change commit in [[history]]. */
  private[io] val AlterMark = "#alter"

  private def dropColLines(lines: Seq[String]): Seq[String] =
    lines.filter(_.startsWith(DropColPrefix)).map(_.stripPrefix(DropColPrefix))

  /** `ALTER TABLE … RENAME COLUMN` (and re-ADD of a DROPped name) ride
    * a COLUMN MAPPING: one `#colmap {"p":…,"l":…}` line per column
    * whose LOGICAL (user-facing) name differs from its PHYSICAL
    * (in-parquet) name, carried forward by every commit like the
    * segment list and the `#dropcol` set.
    *
    * The invariant that makes both verbs metadata-only is PHYSICAL
    * NAME CONSTANCY (the Delta column-mapping design): a rename never
    * touches a byte — the physical name stays what it was at first
    * write, writers keep writing it (every write face translates
    * logical→physical on entry), and readers rename physical→logical
    * as the LAST projection step. Because every segment agrees on the
    * physical name, the SQL face stays ONE homogeneous parquet
    * relation (scanning physical names, with an alias projection on
    * top — filter pushdown and zone-map pruning see physical names
    * end to end), and time travel is exact: each version's manifest
    * carries its own mapping. A re-ADD of a DROPped name mints a FRESH
    * physical name (`<name>__r<version>`), so the old values still
    * sitting in unrewritten segments can never resurface — the
    * column-mapping id that turns the r16 loud-reject into a
    * first-class lifecycle. `#dropcol` tombstones record PHYSICAL
    * names (pre-mapping tables wrote logical≡physical lines, which
    * stay valid). A FULL rewrite (replace/compact/cluster) writes
    * through the logical projection, so physical names converge back
    * to logical and the mapping clears with the drop set. */
  private val ColMapPrefix = "#colmap "

  /** (physical, logical) pairs of manifest `lines` (malformed lines
    * read as absent — same tolerance as `#meta`). */
  private def colMapLines(lines: Seq[String]): Seq[(String, String)] =
    lines.filter(_.startsWith(ColMapPrefix)).flatMap { l =>
      scala.util.Try {
        import org.json4s._
        val j = org.json4s.jackson.JsonMethods.parse(l.stripPrefix(ColMapPrefix))
        ((j \ "p"), (j \ "l")) match {
          case (JString(p), JString(lg)) => Some((p, lg))
          case _ => None
        }
      }.toOption.flatten
    }

  private def colMapLine(p: String, l: String): String =
    ColMapPrefix + "{\"p\":" + jsonString(p) + ",\"l\":" + jsonString(l) + "}"

  /** Head-version column mapping (physical → logical; columns not
    * listed have logical ≡ physical); empty for an uncommitted root.
    * Other versions: `snapshotAt(…, Some(v)).actions`. */
  def columnMapping(spark: SparkSession, root: String): Seq[(String, String)] =
    snapshotAt(spark, root, None).actions._2

  /** Reader-side mapping application: rename physical → logical (a
    * physical name the frame lacks is a no-op, matching `drop`'s
    * tolerance in [[applyDrops]]). The LAST projection step of every
    * read face. */
  private[graft] def applyMapping(df: DataFrame,
      mapping: Seq[(String, String)]): DataFrame =
    mapping.foldLeft(df) { case (d, (p, l)) => d.withColumnRenamed(p, l) }

  /** Writer-side translation: rename logical → physical, so every
    * segment (data, tombstone, marker, DML replacement) carries the
    * CONSTANT physical names whatever the current logical surface
    * says. */
  private[graft] def toPhysical(df: DataFrame,
      mapping: Seq[(String, String)]): DataFrame =
    mapping.foldLeft(df) { case (d, (p, l)) => d.withColumnRenamed(l, p) }

  /** Logical name → physical name (identity when unmapped). */
  private[graft] def physicalNameOf(spark: SparkSession,
      mapping: Seq[(String, String)], name: String): String = {
    val eq = spark.sessionState.conf.resolver
    mapping.collectFirst { case (p, l) if eq(l, name) => p }.getOrElse(name)
  }

  /** Physical name → logical name (identity when unmapped). */
  private[graft] def logicalNameOf(spark: SparkSession,
      mapping: Seq[(String, String)], name: String): String = {
    val eq = spark.sessionState.conf.resolver
    mapping.collectFirst { case (p, l) if eq(p, name) => l }.getOrElse(name)
  }

  /** Head-version column names dropped from the visible schema
    * (accumulated, case preserved; match with the session resolver);
    * empty for an uncommitted root. */
  def droppedCols(spark: SparkSession, root: String): Seq[String] =
    snapshotAt(spark, root, None).actions._1

  /** Subtract the dropped-column projection (case-insensitive on the
    * default resolver; `drop` ignores names the frame lacks). */
  private def applyDrops(df: DataFrame, dropped: Seq[String]): DataFrame =
    if (dropped.isEmpty) df else df.drop(dropped: _*)

  /** The reader-side schema projection every face applies LAST: drop
    * the tombstoned physical columns, then rename the survivors to
    * their logical names. */
  private def applySchemaActions(df: DataFrame,
      actions: (Seq[String], Seq[(String, String)])): DataFrame =
    applyMapping(applyDrops(df, actions._1), actions._2)

  private[io] def isRewrite(f: FileSystem, root: Path, v: Long): Boolean =
    manifestLines(f, root, v).contains(RewriteMark)

  /** Commit version encoded in a segment dir name
    * (`seg-<v>-…` / `del-<v>-…`). */
  private[io] def segVersion(name: String): Long =
    name.split("-")(1).toLong

  /** Committed segment dir names, in commit order (empty if no manifest). */
  def segments(spark: SparkSession, root: String): Seq[String] = {
    val (f, p) = fs(spark, root)
    currentVersion(f, p) match {
      case None => Seq.empty
      case Some(v) => readManifest(f, p, v)
    }
  }

  /** Every committed manifest version under `root`, ascending. Stale
    * versions survive appends (each manifest is a few hundred bytes),
    * which is what makes [[readAt]] time travel possible; [[replace]]/
    * [[compact]]-class rewrites garbage-collect SEGMENTS past the
    * table's [[retainVersions]] horizon (default 1), so history is
    * readable back to that horizon — and [[vacuum]] is the explicit
    * physical trim, the same logical-rewrite/physical-vacuum split
    * every lakehouse log ships. */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val (f, p) = fs(spark, root)
    versionsOf(f, p)
  }

  /** (version, commit time ms) for every committed version, ascending
    * — the `TIMESTAMP AS OF` resolution input. The time is the commit
    * wall-clock EMBEDDED in the manifest content (`#ts` line), so a
    * restore/copy that scrambles file mtimes keeps time travel
    * truthful; manifests from before the stamp existed fall back to
    * the file's mtime. O(versions) driver metadata, no data IO. */
  def versionsWithTimes(spark: SparkSession, root: String): Seq[(Long, Long)] = {
    val (f, p) = fs(spark, root)
    versionsOf(f, p).map(v => (v, commitTimeOf(f, p, v)))
  }

  /** Segment list as of manifest version `v` (time travel). Throws if
    * `v` was never committed; segments named by `v` but since
    * garbage-collected by a [[replace]]/[[compact]] surface as read
    * errors downstream, same as any past-retention lakehouse read. */
  def segmentsAt(spark: SparkSession, root: String, v: Long): Seq[String] = {
    val (f, p) = fs(spark, root)
    require(f.exists(new Path(p, ManifestPrefix + v)),
      s"no committed manifest version $v under $root")
    readManifest(f, p, v)
  }

  def exists(spark: SparkSession, root: String): Boolean = {
    val (f, p) = fs(spark, root)
    currentVersion(f, p).isDefined
  }

  /** Committed DATA segments — the manifest list minus tombstone
    * (`del-`) segments. */
  def dataSegments(spark: SparkSession, root: String): Seq[String] =
    segments(spark, root).filterNot(_.startsWith(DelPrefix))

  /** Committed tombstone segments (see [[delete]]). */
  def deleteSegments(spark: SparkSession, root: String): Seq[String] =
    segments(spark, root).filter(_.startsWith(DelPrefix))

  /** The one segment reader: ONE parquet relation over exactly `segs`
    * of `root`, planned from their [[SegMeta]]s — `metas` may hold any
    * subset (the embedded copies of the version that named the
    * segments); the rest are derived by [[metaOf]]. The file list is
    * the commit's, so files the commit never named are invisible, and
    * the [[graft.sources.ManifestFileIndex]] prunes whole segments
    * (zone maps, Bloom sidecars) and hive partition dirs from the
    * query's pushed filters. The schema is the additive merge of the
    * segments' schemas in commit order ([[mergeAdditive]]: later
    * segments may add columns, earlier rows read NULL there — the
    * evolution contract every append-only log needs, since a 100 TB
    * table is never rewritten just to add a field); only a segment
    * without an embedded schema costs a footer-merge job. Plan time
    * does no filesystem call and runs no job on a meta-bearing table,
    * so a plan builds even over segments maintenance has since retired
    * (the streaming source's recovery contract). Data segments must
    * share one layout (all flat, or all partitioned on the same
    * columns); a mix fails loudly ([[requireOneLayout]]), and
    * [[compact]] repairs it. */
  private[graft] def readSegs(spark: SparkSession, root: String,
      segs: Seq[String], metas: Map[String, SegMeta]): DataFrame =
    spark.baseRelationToDataFrame(segRelation(spark, root, segs, metas))

  /** [[readSegs]]' relation; `atVersion` pins the index for the SQL
    * face's DML (see [[graft.sources.ManifestFileIndex.pinnedVersion]]). */
  private[graft] def segRelation(spark: SparkSession, root: String,
      segs: Seq[String], metas: Map[String, SegMeta],
      atVersion: Long = -1L): HadoopFsRelation = {
    val all = segs.map(s => s -> metaOf(spark, root, s, metas.get(s))).toMap
    // a file-less segment counts only through an embedded schema (an
    // ALTER marker on a partitioned table writes no file)
    val schemas = segs.map(all)
      .filter(m => m.files.nonEmpty || m.schema.isDefined).map(_.schema)
    val merged =
      if (schemas.nonEmpty && schemas.forall(_.isDefined))
        mergeAdditive(schemas.flatten)
      else None
    val index = new graft.sources.ManifestFileIndex(spark, root, segs, all,
      merged, atVersion)
    val dataSchema = merged.getOrElse {
      val files = index.inputFiles
      if (files.isEmpty)
        throw new IllegalStateException(
          s"manifest table $root has no data files (every committed " +
            "segment is empty) and no embedded schema; append data " +
            "before reading it")
      graft.sources.ManifestSource.lastBuildFooterJobs += 1
      val footer =
        spark.read.option("mergeSchema", "true").parquet(files.toSeq: _*).schema
      mergeAdditive(footer +: segs.map(all).filter(_.files.isEmpty)
        .flatMap(_.schema)).getOrElse(footer)
    }
    val partNames = index.partitionSchema.fieldNames.toSet
    HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = StructType(dataSchema.filterNot(f => partNames(f.name))),
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
  }

  /** Additive-evolution merge of per-segment schemas, in commit order:
    * later segments may ADD columns, and a same-name column whose
    * types differ by a SAFE WIDENING (the `ALTER COLUMN TYPE` marker-
    * segment contract — int→bigint/double, float→double, decimal
    * growth) merges to the WIDER type: the parquet scan then upcasts
    * the narrow segments' values at read time (Spark 4 vectorized
    * reader), so a widened 100 TB table reads as one homogeneous
    * relation with zero rewrites. Any other type conflict is NOT
    * additive → None (the caller falls back to the footer-merge job,
    * which applies parquet's own reconciliation). */
  private def mergeAdditive(schemas: Seq[StructType]): Option[StructType] = {
    def widen(a: DataType, b: DataType): Option[DataType] =
      if (a == b) Some(a)
      else if (safeWiden(a, b)) Some(b)
      else if (safeWiden(b, a)) Some(a)
      else None
    schemas.foldLeft(Option(StructType(Nil))) {
      case (None, _) => None
      case (Some(acc), st) =>
        val byName = acc.fields.map(f => f.name -> f).toMap
        val conflict = st.fields.exists(f =>
          byName.get(f.name).exists(g => widen(g.dataType, f.dataType).isEmpty))
        if (conflict) None
        else Some(StructType(acc.fields.map { g =>
          st.fields.find(_.name == g.name) match {
            case Some(f) => g.copy(dataType = widen(g.dataType, f.dataType).get)
            case None => g
          }
        } ++ st.fields.filterNot(f => byName.contains(f.name))))
    }.filter(_.fields.nonEmpty)
  }

  /** A scanned file's path relative to `root` — `<segment>/<file>`,
    * hive dirs included — from a file-path column (`input_file_name()`
    * or `_metadata.file_path`). Compares PATHS, with the scheme and
    * authority cut off the file's URI, so it does not depend on how
    * the root was spelled (`/x/t`, `file:/x/t`, `file:///x/t`) or how
    * the reader qualified it. */
  private[graft] def rootRelative(f: FileSystem, root: Path, file: Column): Column = {
    val rootPath = f.makeQualified(root).toUri.getRawPath.stripSuffix("/")
    regexp_replace(file, "^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?", "")
      .substr(lit(rootPath.length + 2), lit(1 << 30))
  }

  /** Per-physical-row surrogate identity, derived at READ time from
    * the parquet scan's metadata columns — `(segment-relative file
    * path, row ordinal in file)` as a struct. Segments are immutable,
    * so the id is stable for the life of a physical row copy, costs
    * ZERO stored bytes, and distinguishes equal-VALUED copies living
    * in different segments (or different rows of one segment). The
    * change feed's DML windows use it to upgrade value-identity
    * deletes to ROW-identity deletes: see [[readChanges]]'s `rowId`.
    * DML/maintenance rewrites retire the old copies' ids and mint new
    * ones for the replacements — exactly matching the feed's
    * delete-then-insert shape. */
  val RowIdCol = "_row_id"

  private[graft] def readSegsWithRowId(spark: SparkSession, root: String,
      segs: Seq[String], metas: Map[String, SegMeta]): DataFrame = {
    val (f, p) = fs(spark, root)
    readSegs(spark, root, segs, metas).withColumn(RowIdCol, struct(
      rootRelative(f, p, col("_metadata.file_path")).as("path"),
      col("_metadata.row_index").as("pos")))
  }

  /** Head read with the [[RowIdCol]] surrogate stamped on every row —
    * the bootstrap snapshot for a change-feed consumer that applies
    * DML windows by row identity ([[readChanges]] `rowId = true`).
    * Tombstones are applied as in [[readMerged]]. */
  def readWithRowId(spark: SparkSession, root: String): DataFrame =
    readSnapshot(spark, root, snapshotAt(spark, root, None), merge = true,
      rowId = true)

  /** Read every committed data segment. The segment list is the
    * manifest's, so orphan (uncommitted) segments are invisible to
    * readers. */
  def read(spark: SparkSession, root: String): DataFrame =
    readSnapshot(spark, root, snapshotAt(spark, root, None))

  /** Time-travel read: the data segments named by manifest version
    * `v`, exactly as a reader at that commit saw them. Reproducible
    * training runs pin a version instead of copying the corpus. */
  def readAt(spark: SparkSession, root: String, v: Long): DataFrame =
    readSnapshot(spark, root, snapshotAt(spark, root, Some(v)))

  /** One manifest version as readers and writers see it: its lines,
    * from which derive its segments, their embedded metadata (raw
    * `#meta` JSON, which a commit carries verbatim, and decoded), its
    * content fingerprint, and its schema actions (dropped physical
    * columns, column mapping). `version` is the pinned version (None
    * for a head read). */
  private[graft] final case class Snapshot(version: Option[Long], lines: Seq[String]) {
    lazy val segs: Seq[String] = lines.filterNot(_.startsWith("#"))
    lazy val metaJson: Map[String, String] = lines.iterator
      .filter(_.startsWith(MetaPrefix))
      .flatMap { l =>
        val rest = l.stripPrefix(MetaPrefix)
        val sp = rest.indexOf(' ')
        if (sp <= 0) None else Some((rest.take(sp), rest.drop(sp + 1)))
      }.toMap
    lazy val metas: Map[String, SegMeta] =
      metaJson.flatMap { case (s, j) => decodeMeta(j).map(s -> _) }
    lazy val fingerprint: String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(lines.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    lazy val actions: (Seq[String], Seq[(String, String)]) =
      (dropColLines(lines), colMapLines(lines))
  }

  /** [[Snapshot]] of manifest `version` (head when None) — ONE
    * manifest read. An uncommitted root has an empty head snapshot; a
    * pinned version that was never committed throws. */
  private[graft] def snapshotAt(spark: SparkSession, root: String,
      version: Option[Long]): Snapshot = {
    val (f, p) = fs(spark, root)
    version.orElse(currentVersion(f, p)) match {
      case None => Snapshot(None, Nil)
      case Some(v) => manifestSnapshot(spark, root, v).copy(version = version)
    }
  }

  /** The head a write commits on top of: its version (0 for an
    * uncommitted root) and its [[Snapshot]] — the one read of the
    * prior manifest that the write and its [[commit]] share. */
  private[io] def headSnapshot(spark: SparkSession, root: String): (Long, Snapshot) = {
    val (f, p) = fs(spark, root)
    currentVersion(f, p).fold((0L, Snapshot(None, Nil)))(v =>
      (v, manifestSnapshot(spark, root, v)))
  }

  /** [[headSnapshot]] of a committed table; `uncommitted` otherwise. */
  private def committedHead(spark: SparkSession, root: String,
      uncommitted: => String): (Long, Snapshot) = {
    val head = headSnapshot(spark, root)
    if (head._1 == 0L) throw new IllegalStateException(uncommitted)
    head
  }

  /** Every typed read of a snapshot: its data segments through
    * [[readSegs]] (with the [[RowIdCol]] surrogate when `rowId`; one
    * relation per layout group, unioned by name, when `anyLayout`),
    * anti-joined with its tombstones when `merge`, then the schema
    * actions. */
  private def readSnapshot(spark: SparkSession, root: String, snap: Snapshot,
      merge: Boolean = false, rowId: Boolean = false,
      anyLayout: Boolean = false): DataFrame = {
    val segs = snap.segs.filterNot(_.startsWith(DelPrefix))
    require(segs.nonEmpty, snap.version.fold(s"no committed manifest under $root")(
      v => s"manifest v$v of $root names no data segments"))
    val data =
      if (rowId) readSegsWithRowId(spark, root, segs, snap.metas)
      else if (anyLayout) readSegsByLayout(spark, root, segs, snap.metas)
      else readSegs(spark, root, segs, snap.metas)
    val merged =
      if (!merge) data
      else tombstonesOf(spark, root, snap.segs, snap.metas) match {
        case None => data
        case Some(t) =>
          data.join(org.apache.spark.sql.functions.broadcast(t),
            t.columns.toSeq, "left_anti")
      }
    applySchemaActions(merged, snap.actions)
  }

  /** The distinct keys of the tombstone segments among `segs`. Every
    * tombstone segment must carry the same key columns: they are read
    * one relation each and unioned strictly by name, so a delete keyed
    * `(id)` followed by one keyed `(id, ts)` fails loudly here — an
    * additive merge would NULL-pad the first delete's `ts` and its rows
    * would silently stop matching the anti-join. */
  /** [[readSegs]] once per layout group ([[layoutOf]]; a file-less
    * segment joins the first group), unioned by name with missing
    * columns NULL — the one read that accepts a table whose data
    * segments mix layouts, so [[compact]] can rewrite it into one. */
  private def readSegsByLayout(spark: SparkSession, root: String,
      segs: Seq[String], metas: Map[String, SegMeta]): DataFrame = {
    val all = segs.map(s => s -> metaOf(spark, root, s, metas.get(s)))
    val first = all.flatMap(m => layoutOf(m._2)).headOption
    val keyed = all.map { case (s, m) => (s, layoutOf(m).orElse(first)) }
    keyed.map(_._2).distinct
      .map(k => readSegs(spark, root, keyed.collect { case (s, `k`) => s }, all.toMap))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private[io] def tombstonesOf(spark: SparkSession, root: String,
      segs: Seq[String], metas: Map[String, SegMeta]): Option[DataFrame] =
    segs.filter(_.startsWith(DelPrefix))
      .map(d => readSegs(spark, root, Seq(d), metas))
      .reduceOption(_ unionByName _).map(_.distinct())

  /** The union of all committed tombstone keys (column set = whatever
    * [[delete]] was given), or None when nothing was ever deleted.
    * Keys surface under their LOGICAL names (tombstone segments store
    * physical names like every other segment). */
  def tombstones(spark: SparkSession, root: String): Option[DataFrame] = {
    val snap = snapshotAt(spark, root, None)
    tombstonesOf(spark, root, snap.segs, snap.metas)
      .map(applyMapping(_, snap.actions._2))
  }

  /** Merge-on-read: [[read]] minus [[tombstones]], anti-joined on the
    * tombstones' own column set. The tombstone side is O(deleted keys)
    * and BROADCAST — a read never shuffles the data side to honor
    * deletes; when the accumulated delete set outgrows broadcast
    * range, [[compact]] applies it physically and clears it. */
  def readMerged(spark: SparkSession, root: String): DataFrame =
    readSnapshot(spark, root, snapshotAt(spark, root, None), merge = true)

  /** Time-travel [[readMerged]]: state as of manifest version `v` —
    * deletes committed after `v` are invisible, deletes at or before
    * `v` apply. */
  def readMergedAt(spark: SparkSession, root: String, v: Long): DataFrame =
    readSnapshot(spark, root, snapshotAt(spark, root, Some(v)), merge = true)

  /** Atomically publish `segs` as manifest version `v` through the
    * configured [[CommitStrategy]] (single winner per version; the
    * loser throws and its segment dir is orphaned, never read).
    * `prior` is the [[Snapshot]] of version `v - 1` the writer already
    * read (empty for `v = 1`). `marks` are `#`-prefixed metadata lines
    * ([[RewriteMark]]); `metas` maps the segments this write added to
    * their embedded-metadata JSON ([[MetaPrefix]] lines); every other
    * named segment carries its `prior` line verbatim. Only segments
    * named by this commit are emitted, so a retired segment's metadata
    * can never leak into a newer snapshot. */
  private[io] def commit(f: FileSystem, root: Path, v: Long, prior: Snapshot,
      segs: Seq[String], marks: Seq[String] = Nil,
      metas: Map[String, String] = Map.empty,
      addDrops: Seq[String] = Nil, clearDrops: Boolean = false,
      addMaps: Seq[(String, String)] = Nil): Unit = {
    val metaLns = segs.flatMap(s =>
      metas.get(s).orElse(prior.metaJson.get(s)).map(j => s"$MetaPrefix$s $j"))
    // the prior snapshot serves all carried states: the dropped-column
    // set and the column mapping (table-level schema state every
    // commit carries forward, exactly like the full segment list) and
    // the commit-timestamp monotonicity clamp below. `clearDrops` is
    // the FULL-rewrite escape: replace/compact/cluster write every row
    // through the post-drop LOGICAL projection, so the physical bytes
    // are gone, the name-tombstones can retire, and physical names
    // converge back to logical — the mapping clears with the drop set
    // (partial rewrites — optimize/clusterRange/DML — must keep
    // carrying: untouched segments may still hold the column / the old
    // physical name).
    val dropSet =
      ((if (clearDrops) Nil else prior.actions._1) ++ addDrops).distinct
    val dropLns = dropSet.map(DropColPrefix + _)
    // mapping merge: new entries override the carried entry for the
    // same physical (chained renames keep one line per column);
    // identity entries (p == l, e.g. a rename BACK to the physical
    // name) and entries whose physical is now tombstoned drop out
    val mapLns = {
      val carried =
        if (clearDrops) Nil
        else prior.actions._2
          .filterNot { case (p, _) => addMaps.exists(_._1 == p) }
      (carried ++ addMaps)
        .filterNot { case (p, l) => p == l || dropSet.contains(p) }
        .map { case (p, l) => colMapLine(p, l) }
    }
    // monotonicity clamp: with multi-writer clock skew, version v could
    // otherwise carry a LATER #ts than v+1, and versionAsOfTime (last
    // version with ts <= cutoff) would resolve TIMESTAMP AS OF to a
    // snapshot that includes later-versioned data — so stamp
    // max(prev commit ts + 1, now), the standard in-commit-timestamp
    // contract. (Pre-#ts legacy manifests fall back to file mtime.)
    val prevTs = prior.lines.find(_.startsWith(TsPrefix))
      .flatMap(_.stripPrefix(TsPrefix).trim.toLongOption)
      .orElse(if (v <= 1L) None else scala.util.Try(
        f.getFileStatus(new Path(root, ManifestPrefix + (v - 1)))
          .getModificationTime).toOption)
      .getOrElse(Long.MinValue)
    val stamp = math.max(prevTs + 1, System.currentTimeMillis())
    val ts = s"$TsPrefix$stamp"
    commitStrategy.publish(f, root, new Path(root, ManifestPrefix + v),
      (ts +: (dropLns ++ mapLns ++ marks ++ metaLns ++ segs)).mkString("\n") + "\n")
  }

  /** Commit wall-clock embedded IN the manifest content (`#ts
    * <epochMillis>`): `TIMESTAMP AS OF` resolution and `history` must
    * stay truthful across restores/copies/rsyncs, which scramble file
    * mtimes. Manifests written before this existed lack the line and
    * fall back to the file's modification time, version by version. */
  private val TsPrefix = "#ts "

  /** Commit time of manifest `v`: the embedded `#ts` stamp, else the
    * manifest file's mtime (pre-existing logs). */
  private def commitTimeOf(f: FileSystem, root: Path, v: Long): Long =
    manifestLines(f, root, v)
      .find(_.startsWith(TsPrefix))
      .flatMap(l => l.stripPrefix(TsPrefix).trim.toLongOption)
      .getOrElse(
        f.getFileStatus(new Path(root, ManifestPrefix + v)).getModificationTime)

  /** Recursive data-file listing of a segment dir: (path relative to
    * the segment, byte length), descending through hive `col=value`
    * partition dirs. Runs ONCE at commit time on the just-written
    * segment — the listing every reader would otherwise redo. */
  private def listDataFilesRec(f: FileSystem, dir: Path,
      prefix: String): Seq[(String, Long)] =
    f.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (st.isFile) Seq((prefix + n, st.getLen))
      else listDataFilesRec(f, st.getPath, prefix + n + "/")
    }

  /** A segment's embedded-metadata JSON ([[MetaPrefix]]): file list +
    * sizes, Spark schema, zone-map stats (the sidecar JSON) and
    * Bloom-sidecar column names. */
  private def metaJson(files: Seq[(String, Long)], schema: StructType,
      stats: Option[String], blooms: Seq[String]): String = {
    val filesJson = files.map { case (pp, l) =>
      s"""{"p":${jsonString(pp)},"l":$l}"""
    }.mkString(",")
    s"""{"files":[$filesJson],"schema":${schema.json},""" +
      s""""stats":${stats.getOrElse("null")},""" +
      s""""blooms":[${blooms.map(jsonString).mkString(",")}]}"""
  }

  /** A segment's embedded metadata, decoded: data files (segment-
    * relative path, length), read-back schema, zone-map stats, Bloom
    * columns. */
  final case class SegMeta(files: Seq[(String, Long)],
      schema: Option[StructType], stats: Option[SegStats], blooms: Seq[String])

  /** Decode one embedded-metadata JSON (None on any parse failure —
    * the conservative fall-back-to-listing answer). */
  private def decodeMeta(json: String): Option[SegMeta] =
    scala.util.Try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val j = JsonMethods.parse(json)
      val files = (j \ "files") match {
        case JArray(xs) => xs.flatMap { x =>
          ((x \ "p"), (x \ "l")) match {
            case (JString(pp), JInt(l)) => Some((pp, l.toLong))
            case _ => None
          }
        }
        case _ => Seq.empty[(String, Long)]
      }
      val schema = (j \ "schema") match {
        case JNothing | JNull => None
        case s => scala.util.Try(DataType.fromJson(
          JsonMethods.compact(JsonMethods.render(s)))
          .asInstanceOf[StructType]).toOption
      }
      val stats = (j \ "stats") match {
        case JNothing | JNull => None
        case s => Some(statsFromJValue(s))
      }
      val blooms = (j \ "blooms") match {
        case JArray(xs) => xs.collect { case JString(b) => b }
        case _ => Seq.empty[String]
      }
      SegMeta(files, schema, stats, blooms)
    }.toOption

  /** A [[SegMeta]] for every segment manifest `version` (head when
    * None) names, in commit order: the embedded copy where the
    * manifest carries one, else [[metaOf]]'s derivation from the
    * segment dir. Empty for an uncommitted root. */
  def segmentMetas(spark: SparkSession, root: String,
      version: Option[Long] = None): SeqMap[String, SegMeta] =
    metasOf(spark, root, snapshotAt(spark, root, version))

  private def metasOf(spark: SparkSession, root: String,
      snap: Snapshot): SeqMap[String, SegMeta] =
    SeqMap.from(snap.segs.map(s => s -> metaOf(spark, root, s, snap.metas.get(s))))

  /** A segment's metadata: its `embedded` copy, else derived from its
    * dir — the ONE place a reader lists a segment or opens its
    * sidecars (a table written before `#meta` lines existed, or a
    * manifest stripped of them). The derivation walks `col=value`
    * dirs recursively and fails loudly on a level that mixes partition
    * dirs with loose data files (such a segment would read back
    * partially); it reads the `_stats.graft.json` sidecar (malformed →
    * no stats, the conservative answer), takes the Bloom columns from
    * the `_bloom.*` names, and leaves the schema to the footer-merge
    * job. Counted in [[graft.sources.ManifestSource.lastBuildListOps]]
    * (one per listing) and `lastBuildSidecarReads` (one per segment). */
  private[graft] def metaOf(spark: SparkSession, root: String, seg: String,
      embedded: Option[SegMeta]): SegMeta = embedded.getOrElse {
    val (f, p) = fs(spark, root)
    def list(dir: Path) = {
      graft.sources.ManifestSource.lastBuildListOps += 1
      f.listStatus(dir)
    }
    def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
    def level(all: Array[FileStatus], prefix: String): Seq[(String, Long)] = {
      val dirs = all.filter(st => st.isDirectory &&
        visible(st.getPath.getName) && st.getPath.getName.contains("="))
      val files = all.filter(st => st.isFile && visible(st.getPath.getName))
      if (dirs.isEmpty) files.map(st => (prefix + st.getPath.getName, st.getLen)).toSeq
      else {
        require(files.isEmpty,
          s"segment $seg of $root mixes partition dirs with ${files.length} " +
            s"loose data file(s) (e.g. ${files.head.getPath.getName}); " +
            "refusing to read a partially-visible segment — repair the layout")
        dirs.toSeq.flatMap(d =>
          level(list(d.getPath), prefix + d.getPath.getName + "/"))
      }
    }
    val top = list(new Path(p, seg))
    graft.sources.ManifestSource.lastBuildSidecarReads += 1
    val blooms = top.iterator.map(_.getPath.getName)
      .filter(n => n.startsWith("_bloom.") && n.endsWith(".graft"))
      .map(_.stripPrefix("_bloom.").stripSuffix(".graft")).toSeq
    SegMeta(level(top, ""), None, segmentStats(spark, root, seg), blooms)
  }

  /** ONE-read [[Snapshot]] of manifest `v`. The SQL relation's entire
    * planning input — and the fingerprint is its cache key: version
    * numbers can recur across destroy/recreate, but never with
    * identical content (every segment name carries a fresh UUID). */
  private[graft] def manifestSnapshot(spark: SparkSession, root: String,
      v: Long): Snapshot = {
    val (f, p) = fs(spark, root)
    require(f.exists(new Path(p, ManifestPrefix + v)),
      s"no committed manifest version $v under $root")
    Snapshot(Some(v), manifestLines(f, p, v))
  }

  /** The one segment writer: lays `frame` out as segment dirs of
    * version `v + 1`, writes each one's sidecars (`_stats.graft.json`,
    * `_bloom.<col>.graft`) and returns `(segment, split key, #meta
    * JSON)` per segment, for [[commit]]. Every write verb — append,
    * delete, replace, optimize, the clusters and the DML swap — lays
    * out its segments here and nowhere else.
    *
    * `split = None` writes one segment, `seg-<v+1>-<label><uuid>`
    * (`del-…` when `tombstone`), key 0. `split = Some(tag)` writes one
    * segment per distinct value of the integer `tag` column in ONE
    * write pass: hive-split on the tag into a temp shell whose
    * `tag=<k>` dirs rename into place as `seg-<v+1>-<label><k>-<uuid>`
    * (`ins` for k < 0) — no extra shuffle, no per-segment job. Either
    * way `partitionBy` lays each segment out as hive partition dirs,
    * and `colsFor(key)` names a segment's (stat, Bloom) columns.
    *
    * Stats: one flat segment collects its row count and zone maps
    * through an [[org.apache.spark.sql.Observation]] riding the write
    * scan — zero extra jobs; any other layout runs ONE grouped
    * aggregate over the written files, keyed by segment. Blooms: one
    * pass per Bloom column over the written files, each segment's
    * filter sized by that row count (fpp 1e-6). Schema: the written
    * frame's, all fields nullable (what a footer read-back reports);
    * partitioned segments take the partition column types hive
    * discovery gives them; a segment with no file (an empty
    * partitioned write, e.g. an ALTER marker) embeds the frame's. */
  private[io] def writeSegments(spark: SparkSession, root: String, v: Long,
      frame: DataFrame, split: Option[String], partitionBy: Seq[String],
      label: String, colsFor: Int => (Seq[String], Seq[String]),
      tombstone: Boolean = false): Seq[(String, Int, String)] = {
    val (f, p) = fs(spark, root)
    def fresh(stem: String) = stem + java.util.UUID.randomUUID().toString.take(8)
    def write(df: DataFrame, dir: String, by: Seq[String]): Unit = {
      val w = df.write
      (if (by.nonEmpty) w.partitionBy(by: _*) else w).parquet(dir)
    }
    val written = StructType(frame.schema.filterNot(fd => split.contains(fd.name)))
    val observed = split match {
      case None if partitionBy.isEmpty =>
        val (stats, blooms) = colsFor(0)
        if (stats.isEmpty && blooms.isEmpty) None
        else Some((org.apache.spark.sql.Observation(), statAggs(written, stats)))
      case _ => None
    }
    val outputs: Seq[(String, Int)] = split match {
      case None =>
        val seg = fresh(s"${if (tombstone) DelPrefix else "seg-"}${v + 1}-$label")
        write(observed.fold(frame) { case (o, (_, aggs)) =>
          frame.observe(o, aggs.head, aggs.tail: _*) }, s"$root/$seg", partitionBy)
        Seq((seg, 0))
      case Some(tag) =>
        val shell = fresh(s".$label-tmp-")
        write(frame, s"$root/$shell", tag +: partitionBy)
        val keys =
          if (!f.exists(new Path(p, shell))) Nil
          else f.listStatus(new Path(p, shell)).toSeq.map(_.getPath.getName)
            .filter(_.startsWith(tag + "=")).map(_.stripPrefix(tag + "=").toInt).sorted
        val placed = keys.map { k =>
          val seg = fresh(s"seg-${v + 1}-$label${if (k < 0) "ins" else k}-")
          require(f.rename(new Path(p, s"$shell/$tag=$k"), new Path(p, seg)),
            s"failed to place segment $seg")
          (seg, k)
        }
        // the shell is ours and now empty; gc's unnamed-dir grace would
        // leave it lingering (it must never assume a fresh unnamed dir
        // is collectable: it may be a concurrent appender's segment)
        f.delete(new Path(p, shell), true)
        placed
    }
    if (outputs.isEmpty) return Nil
    val cols = outputs.map { case (s, k) => s -> colsFor(k) }.toMap
    val statUnion = outputs.flatMap(o => cols(o._1)._1).distinct
    val bloomUnion = outputs.flatMap(o => cols(o._1)._2).distinct
    // each segment's files, and its schema: the written one, nullable,
    // with hive discovery typing any partition columns (a listing of
    // the segment dir, no job)
    val data = GraftColumnBridge.asNullable(
      StructType(written.filterNot(fd => partitionBy.contains(fd.name))))
    val listed = outputs.map { case (seg, _) =>
      val files = listDataFilesRec(f, new Path(p, seg), "")
      val schema =
        if (files.isEmpty) written
        else if (partitionBy.isEmpty) data
        else spark.read.schema(data).parquet(s"$root/$seg").schema
      seg -> SegMeta(files, Some(schema), None, Nil)
    }.toMap
    // the written rows, read back as one relation over every segment
    lazy val back = readSegs(spark, root, outputs.map(_._1), listed)
    lazy val segOfRow = segmentOf(f, p)
    val (typed, values) = observed match {
      case Some((o, (t, _))) => (t, Map(outputs.head._1 -> o.get))
      case None if statUnion.nonEmpty || bloomUnion.nonEmpty =>
        val (t, aggs) = statAggs(back.schema, statUnion)
        (t, back.groupBy(segOfRow.as("_seg")).agg(aggs.head, aggs.tail: _*)
          .collect().map(r => r.getString(0) ->
            r.getValuesMap[Any](r.schema.fieldNames.toSeq.tail)).toMap)
      case None => (Nil, Map.empty[String, Map[String, Any]])
    }
    import org.apache.spark.util.sketch.BloomFilter
    // each segment's Bloom filters are sized by its row count
    val est = outputs.map { case (seg, _) =>
      seg -> math.max(values.get(seg).fold(0L)(_("rows").asInstanceOf[Long]), 1L)
    }.toMap
    def put(b: BloomFilter, x: Any): Unit = x match {
      case n: Byte => b.putLong(n.toLong)
      case n: Short => b.putLong(n.toLong)
      case n: Int => b.putLong(n.toLong)
      case n: Long => b.putLong(n)
      case s: String => b.putString(s)
      case other => throw new IllegalStateException(
        s"unbloomable value class ${other.getClass}")
    }
    bloomUnion.foreach { c =>
      require(bloomable(back.schema(c).dataType),
        s"bloom sidecars support integral/string columns; '$c' is " +
          s"${back.schema(c).dataType.simpleString}")
      val segsFor = outputs.map(_._1).filter(cols(_)._2.contains(c)).toSet
      val built = back.select(segOfRow.as("_seg"), col(c).as("_v"))
        .where(col("_v").isNotNull)
        .rdd.map(r => (r.getString(0), r.get(1)))
        .treeAggregate(scala.collection.mutable.Map.empty[String, BloomFilter])(
          (m, kv) => {
            if (segsFor(kv._1))
              put(m.getOrElseUpdate(kv._1, BloomFilter.create(est(kv._1), 1e-6)), kv._2)
            m
          },
          (a, b) => {
            b.foreach { case (s, bf) =>
              a.get(s) match {
                case Some(acc) => acc.mergeInPlace(bf)
                case None => a.update(s, bf)
              }
            }
            a
          })
      segsFor.foreach { seg =>
        val out = f.create(new Path(p, s"$seg/${bloomFile(c)}"), true)
        try built.getOrElse(seg, BloomFilter.create(1L, 1e-6)).writeTo(out)
        finally out.close()
      }
    }
    outputs.map { case (seg, k) =>
      val (statCols, bloomCols) = cols(seg)
      val stats =
        if (statCols.isEmpty) None
        else Some(statsJson(values.getOrElse(seg, Map("rows" -> 0L)), typed, statCols))
      stats.foreach(json => commitStrategy.publish(f, new Path(p, seg),
        new Path(p, s"$seg/$StatsFile"), json))
      (seg, k, metaJson(listed(seg).files, listed(seg).schema.get, stats, bloomCols))
    }
  }

  /** The path component right after the table root IS the segment
    * name, for flat (`root/seg/part-*`) and partitioned
    * (`root/seg/k=v/part-*`) segments alike ([[rootRelative]]). Must be
    * projected on the scan side, never post-join. */
  private[io] def segmentOf(f: FileSystem, root: Path): Column =
    org.apache.spark.sql.functions.substring_index(
      rootRelative(f, root, org.apache.spark.sql.functions.input_file_name()), "/", 1)

  /** Append `df` as one new segment: IO = O(df) + a tiny manifest,
    * regardless of how much data the table already holds.
    *
    * `partitionBy` lays the segment out as hive-style partition dirs
    * (readers that filter on those columns get parquet PARTITION
    * pruning inside every segment — the [[graft.streaming.AnnIndex]]
    * probed-cell read path). `tag`, when given, is folded into the
    * segment name as `seg-<v>-<tag>-<uuid>`: a cheap at-least-once
    * replay guard — a caller that derives the tag from its micro-batch
    * id can detect an already-committed batch from [[segments]] alone
    * (name scan, no data read) and skip the duplicate append.
    * `statsCols` names columns whose per-segment min/max are collected
    * (riding the write's scan) into the commit's `#meta` line and a
    * `_stats.graft.json` sidecar INSIDE the segment dir (data readers
    * ignore `_`-prefixed files) — the zone-map input every read prunes
    * whole segments with. `partitionBy` must match the layout of the
    * table's existing data segments ([[requireLayout]]). */
  def append(spark: SparkSession, root: String, df: DataFrame,
      partitionBy: Seq[String] = Nil, tag: Option[String] = None,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      retryRaces: Boolean = false): Unit = {
    rejectReservedTag(tag)
    appendReserved(spark, root, df, partitionBy, tag, statsCols, bloomCols,
      retryRaces)
  }

  /** Tags of the form `mb<digits>` name the streaming sink's
    * micro-batch replay namespace ([[graft.sources.ManifestSink]] /
    * [[graft.streaming.Stream.runLakehouseIngest]] detect an
    * already-committed batch from the segment NAME scan alone). A user
    * batch append tagged `mb3` on the same root would make the sink
    * silently SKIP micro-batch 3 — data loss — so the public write
    * paths reject the namespace loudly, mirroring [[AggView]]'s
    * `b<digits>` cursor guard. */
  private val ReservedTagRe = "mb\\d+".r

  private[graft] def rejectReservedTag(tag: Option[String]): Unit =
    tag.foreach { t =>
      require(!ReservedTagRe.pattern.matcher(t).matches(),
        s"tag '$t' is reserved: mb<digits> names streaming micro-batch " +
          "segments (a colliding tag would make the sink silently skip " +
          "that batch on replay) — pick another tag")
    }

  /** [[append]] without the reserved-tag guard — the streaming ingest
    * paths' entry point (they OWN the `mb<digits>` namespace).
    *
    * `retryRaces = true` makes a lost version race retry against the
    * new head instead of throwing: appends are ADDITIVE (every prior
    * segment is carried unchanged and the new rows do not depend on
    * the snapshot), so concurrent appends serialize in any order —
    * the multi-writer ingest posture every lakehouse log supports.
    * The already-written segment is RENAMED to carry the new commit
    * version (segment names encode it; the change feed's
    * consumed-before-cursor check depends on that), its metadata
    * reused verbatim (file paths are segment-relative). Retry stays
    * OPT-IN because it is only sound for content-independent commits:
    * a snapshot-derived append (e.g. [[AggView]]'s window partials —
    * two racing syncs would double-count) must keep the loud
    * single-winner contract. Appends never GC, so racing appends
    * cannot collect each other's in-flight segments; and a REWRITE-
    * class verb's GC pass (replace/compact/cluster/DML) spares any
    * unnamed dir younger than [[gcGraceMs]], so an append racing a
    * rewrite cannot have its written-but-uncommitted segment collected
    * either — appends are the unlimited-concurrency path against ANY
    * single concurrent verb. Only rewrite-class verbs racing EACH
    * OTHER stay a single-writer-maintenance recommendation: the OCC
    * retry serializes disjoint interleavers, but a loser mid-read of
    * segments the winner just retired fails loudly (never silently)
    * and must re-run. */
  private[graft] def appendReserved(spark: SparkSession, root: String,
      df: DataFrame, partitionBy: Seq[String] = Nil,
      tag: Option[String] = None, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, retryRaces: Boolean = false,
      addMaps: Seq[(String, String)] = Nil): Unit = {
    val (f, p) = fs(spark, root)
    var (v, prior) = headSnapshot(spark, root)
    // physical-name constancy: callers write LOGICAL names; the
    // segment stores PHYSICAL (mapping entries being committed WITH
    // this append — addColumns' re-ADD — translate too). Stats/Bloom
    // sidecars are keyed physical, matching the probe translation in
    // readRange/readPoint and the SQL relation's pushed filters.
    val mapping = prior.actions._2.filterNot { case (mp, _) =>
      addMaps.exists(_._1 == mp) } ++ addMaps
    val pStats = statsCols.map(physicalNameOf(spark, mapping, _))
    val pBlooms = bloomCols.map(physicalNameOf(spark, mapping, _))
    requireLayout(root, prior.metas.iterator.filterNot(_._1.startsWith(DelPrefix)),
      partitionBy)
    val (seg0, _, meta) = writeSegments(spark, root, v, toPhysical(df, mapping),
      None, partitionBy, tag.fold("")(_ + "-"), _ => (pStats, pBlooms)).head
    var seg = seg0
    var attempts = 0
    while (true) {
      try {
        commit(f, p, v + 1, prior, prior.segs :+ seg, metas = Map(seg -> meta),
          addMaps = addMaps)
        return
      } catch {
        case _: CommitRaceLost if retryRaces && attempts < 50 =>
          attempts += 1
          val (nv, head) = headSnapshot(spark, root)
          val ns = s"seg-${nv + 1}-" + seg.stripPrefix(s"seg-${v + 1}-")
          require(f.rename(new Path(p, seg), new Path(p, ns)),
            s"append retry could not re-version segment $seg -> $ns")
          seg = ns
          v = nv
          prior = head
      }
    }
  }

  /** Refuse a write whose new segment would break the table's ONE
    * layout ([[requireOneLayout]]). The layout is read from `prior`'s
    * file lists (the remaining data segments' metadata the writer
    * already holds — no extra IO); a segment with no files carries no
    * layout evidence, and a table whose segments predate `#meta` lines
    * is not checked on append. */
  private def requireLayout(root: String, prior: Iterator[(String, SegMeta)],
      partitionBy: Seq[String]): Unit =
    prior.flatMap { case (s, m) => layoutOf(m).map(s -> _) }.nextOption()
      .foreach(first => requireOneLayout(root,
        Seq(first, "the new segment" -> partitionBy)))

  /** A segment's hive partition columns, read off its first data
    * file's path (Nil = flat); None when it has no files. */
  private[graft] def layoutOf(m: SegMeta): Option[Seq[String]] =
    m.files.headOption.map(_._1.split("/").dropRight(1).toSeq
      .map(_.takeWhile(_ != '=')))

  /** Fail loudly unless every `(segment, partition columns)` names the
    * same layout: a manifest table's data segments are all flat or all
    * hive-partitioned on the same columns, because one parquet relation
    * has one partition schema. [[compact]] reads a mixed table layout
    * group by layout, so it is the repair. */
  private[graft] def requireOneLayout(root: String,
      layouts: Seq[(String, Seq[String])]): Unit =
    layouts.find(_._2 != layouts.head._2).foreach { case (b, cb) =>
      val (a, ca) = layouts.head
      def show(c: Seq[String]) =
        if (c.isEmpty) "flat" else s"partitioned on '${c.mkString("/")}'"
      throw new IllegalArgumentException(
        s"segment layouts of $root disagree: $a is ${show(ca)} but $b is " +
          s"${show(cb)}; a manifest table holds one layout — " +
          s"ManifestTable.compact(spark, root, partitionBy = …) rewrites " +
          "it whole into one")
    }

  /** Merge-on-read DELETE: append `keys` (deduplicated) as one
    * tombstone segment — IO is O(keys) + a tiny manifest; no data
    * segment is touched (they stay byte-identical, same append
    * contract). Readers going through [[readMerged]] (or any caller
    * anti-joining [[tombstones]]) stop seeing matching rows at the
    * next manifest version; [[compact]] later applies the deletes
    * physically and retires the tombstones. `keys`' column set defines
    * the delete identity (typically the table's id column). `tag`
    * works as in [[append]]. */
  def delete(spark: SparkSession, root: String, keys: DataFrame,
      tag: Option[String] = None): Unit = {
    rejectReservedTag(tag)
    val (f, p) = fs(spark, root)
    val (v, prior) = committedHead(spark, root, s"delete from uncommitted table $root")
    // tombstone keys store PHYSICAL names like every segment (the
    // merge-on-read anti-join runs in physical space, pre-projection);
    // they carry embedded metadata too: the streaming source plans
    // change-feed batches from the manifest alone (its recovery
    // contract re-requests committed windows whose segments
    // maintenance may have retired)
    val (seg, _, meta) = writeSegments(spark, root, v,
      toPhysical(keys, prior.actions._2).distinct(), None, Nil,
      tag.fold("")(_ + "-"), _ => (Nil, Nil), tombstone = true).head
    commit(f, p, v + 1, prior, prior.segs :+ seg, metas = Map(seg -> meta))
  }

  /** Replace the whole table with `df` (first write, or an explicit
    * compaction rewrite) and garbage-collect every dir the new
    * manifest no longer names — committed predecessors and crash
    * orphans alike. `tag` folds into the segment name exactly as in
    * [[append]] (callers that ride state in tags — e.g. [[AggView]]'s
    * change-feed cursor — keep it across the rewrite). `rewrite=true`
    * marks the commit as a pure repackaging of existing rows (see
    * [[changedSegments]] — caught-up feed consumers skip it). */
  def replace(spark: SparkSession, root: String, df: DataFrame,
      partitionBy: Seq[String] = Nil, tag: Option[String] = None,
      rewrite: Boolean = false, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Unit = {
    rejectReservedTag(tag)
    val (f, p) = fs(spark, root)
    val (v, prior) = headSnapshot(spark, root)
    val (seg, _, meta) = writeSegments(spark, root, v, df, None, partitionBy,
      tag.fold("")(_ + "-"), _ => (statsCols, bloomCols)).head
    // full overwrite: the new content defines the schema — dropped-
    // column tombstones retire (compact routes here too, and writes
    // through the post-drop projection)
    commit(f, p, v + 1, prior, Seq(seg), if (rewrite) Seq(RewriteMark) else Nil,
      metas = Map(seg -> meta), clearDrops = true)
    gc(f, p, prior)
  }

  /** `ALTER TABLE … ADD COLUMN(S)`: additive schema evolution as ONE
    * log commit with ZERO data IO beyond a footer-sized file — the
    * table's schema is the additive merge of its segments' schemas in
    * commit order, so appending an EMPTY segment that carries the
    * evolved schema makes every reader see the new columns (untouched
    * segments surface NULL there, the same contract MERGE WITH SCHEMA
    * EVOLUTION uses). Old snapshots time-travel to the pre-ALTER
    * schema; [[compact]] later folds the marker segment away. New
    * columns are nullable by construction (existing rows have no
    * value for them). Reference posture: warehouse-side `ALTER TABLE`
    * through `execute` (locopy/database.py:131-190). */
  def addColumns(spark: SparkSession, root: String,
      cols: Seq[(String, org.apache.spark.sql.types.DataType)]): Unit = {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    val (v, head) = committedHead(spark, root,
      s"ALTER TABLE of uncommitted table $root — INSERT first (or declare " +
        "the columns in CREATE TABLE)")
    val cur = read(spark, root).schema
    val eq = spark.sessionState.conf.resolver
    cols.foreach { case (n, _) =>
      require(!cur.fields.exists(fd => eq(fd.name, n)),
        s"column $n already exists in $root (${cur.simpleString})")
    }
    // dedupe with the SESSION resolver (not unconditional lowercase):
    // under spark.sql.caseSensitive=true, (A INT, a INT) is two columns
    require(cols.size < 2 || !cols.map(_._1).combinations(2).exists {
      case Seq(a, b) => eq(a, b) },
      s"duplicate column in ADD COLUMNS: ${cols.map(_._1)}")
    // re-ADD of a DROPped name (or a name shadowing a live PHYSICAL
    // name of some renamed column): the new column gets a FRESH
    // physical name + a `#colmap` entry committed atomically WITH the
    // schema marker, so old values in unrewritten segments can never
    // resurface — the column-mapping lifecycle (pre-r17 this rejected
    // loudly until a full rewrite retired the tombstone)
    val (dropped, mapping) = head.actions
    val rel = graft.sources.ManifestSource
      .relation(spark, root, None, allowTombstones = true)
    val rawPhysical = rel.dataSchema.fieldNames.toSeq
    val taken = scala.collection.mutable.Set.empty[String]
    taken ++= dropped
    taken ++= rawPhysical
    taken ++= mapping.map(_._1)
    val addMaps = cols.flatMap { case (n, _) =>
      if (!taken.exists(eq(_, n))) { taken += n; None }
      else {
        var fresh = s"${n}__r${v + 1}"
        while (taken.exists(eq(_, fresh)))
          fresh += "_" + java.util.UUID.randomUUID().toString.take(4)
        taken += fresh
        Some((fresh, n))
      }
    }
    val evolved = org.apache.spark.sql.types.StructType(
      cur.fields ++ cols.map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, t, nullable = true) })
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), evolved)
    // written in the table's own layout: on a partitioned table the
    // empty write leaves no file and the schema rides the `#meta` line
    appendReserved(spark, root, empty, rel.partitionSchema.fieldNames.toSeq,
      tag = Some("alter"), addMaps = addMaps)
  }

  /** `ALTER TABLE … DROP COLUMN(S)`: one schema-projection commit (a
    * `#dropcol` line per column, carried forward by every later
    * commit) — ZERO data IO; segment bytes are untouched and the
    * column physically disappears when a rewrite-class verb next
    * repackages the rows. Pre-drop snapshots time-travel with the
    * column intact. Partition columns and the last remaining column
    * are rejected. See [[DropColPrefix]] for the re-add contract. */
  def dropColumns(spark: SparkSession, root: String,
      cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "DROP COLUMNS needs at least one column")
    val (f, p) = fs(spark, root)
    val (v, prior) = committedHead(spark, root, s"ALTER TABLE of uncommitted table $root")
    val eq = spark.sessionState.conf.resolver
    val rel = graft.sources.ManifestSource
      .relation(spark, root, None, allowTombstones = true)
    // callers name LOGICAL columns; partition columns are never mapped
    // (renames reject them) and the `#dropcol` tombstone records the
    // PHYSICAL name — the reader projection drops physical-first
    val mapping = prior.actions._2
    cols.foreach { c =>
      require(!rel.partitionSchema.fieldNames.exists(eq(_, c)),
        s"$c is a hive PARTITION column of $root — the physical layout " +
          "depends on it; re-partition via cluster()/compact() instead")
    }
    val visible = rel.dataSchema.fieldNames
      .map(logicalNameOf(spark, mapping, _))
    cols.foreach { c =>
      require(visible.exists(eq(_, c)),
        s"column $c does not exist in $root (${visible.mkString(", ")})")
    }
    // session-resolver dedupe, same contract as the existence checks
    require(cols.size < 2 || !cols.combinations(2).exists {
      case Seq(a, b) => eq(a, b) },
      s"duplicate column in DROP COLUMNS: $cols")
    require(visible.length + rel.partitionSchema.size > cols.size,
      s"cannot DROP every column of $root")
    commit(f, p, v + 1, prior, prior.segs, Seq(AlterMark),
      addDrops = cols.map(physicalNameOf(spark, mapping, _)))
  }

  /** `ALTER TABLE … RENAME COLUMN old TO new`: ONE metadata commit (a
    * `#colmap` line binding the column's unchanged PHYSICAL name to
    * its new LOGICAL name) — zero data IO at any scale, because no
    * segment byte ever depended on the logical name: writers keep
    * writing the constant physical name and readers rename in their
    * final projection ([[ColMapPrefix]]). Time travel is exact (each
    * version's manifest carries its own mapping); a FULL rewrite
    * converges physical names back to logical and clears the entry.
    * Hive PARTITION columns are rejected (their name IS the directory
    * layout); the new name must not collide with any visible logical
    * name, any live physical name, or a dropped-column tombstone —
    * all loud. */
  def renameColumn(spark: SparkSession, root: String,
      oldName: String, newName: String): Unit = {
    require(oldName != newName, s"RENAME COLUMN $oldName TO $newName is a no-op")
    val (f, p) = fs(spark, root)
    val (v, prior) = committedHead(spark, root, s"ALTER TABLE of uncommitted table $root")
    val eq = spark.sessionState.conf.resolver
    val rel = graft.sources.ManifestSource
      .relation(spark, root, None, allowTombstones = true)
    require(!rel.partitionSchema.fieldNames.exists(eq(_, oldName)),
      s"$oldName is a hive PARTITION column of $root — its name IS the " +
        "directory layout; re-partition via cluster()/compact() instead")
    val (dropped, mapping) = prior.actions
    val rawPhysical = rel.dataSchema.fieldNames.toSeq
    val visibleLogical = rawPhysical.map(logicalNameOf(spark, mapping, _)) ++
      rel.partitionSchema.fieldNames
    require(visibleLogical.exists(eq(_, oldName)),
      s"column $oldName does not exist in $root " +
        s"(${visibleLogical.mkString(", ")})")
    require(!visibleLogical.exists(eq(_, newName)),
      s"column $newName already exists in $root")
    require(!rawPhysical.exists(eq(_, newName)) ||
        eq(physicalNameOf(spark, mapping, oldName), newName),
      s"$newName is the PHYSICAL name of another column of $root " +
        "(renamed earlier); reusing it would make old segment bytes " +
        "ambiguous — pick another name, or compact() first (a full " +
        "rewrite converges physical names back to logical)")
    require(!dropped.exists(eq(_, newName)),
      s"$newName is a DROPped-column tombstone of $root still covering " +
        "unrewritten segments — pick another name, or compact() first")
    val phys = physicalNameOf(spark, mapping, oldName)
    commit(f, p, v + 1, prior, prior.segs, Seq(AlterMark),
      addMaps = Seq((phys, newName)))
  }

  /** `ALTER TABLE … ALTER COLUMN col TYPE t`: SAFE TYPE WIDENING as
    * ONE metadata commit — the same empty schema-carrying marker
    * segment [[addColumns]] appends, except the column's type is
    * widened instead of a column added. Readers derive the table
    * schema from the additive merge of segment schemas, widening
    * same-name numeric conflicts ([[graft.sources.ManifestSource]]),
    * and Spark 4's parquet reader upcasts old segments' values at
    * scan time (int32→int64/double, float→double, decimal precision
    * growth — verified on this engine), so NO segment is rewritten:
    * the evolution every long-lived 100 TB table eventually needs at
    * zero data IO. The typed union path widens identically (set-
    * operation type coercion). Old snapshots time-travel to the
    * narrow type. Narrowing or cross-family changes reject loudly. */
  def alterColumnType(spark: SparkSession, root: String,
      colName: String, newType: org.apache.spark.sql.types.DataType): Unit = {
    val (f, p) = fs(spark, root)
    require(currentVersion(f, p).isDefined,
      s"ALTER TABLE of uncommitted table $root")
    val eq = spark.sessionState.conf.resolver
    val rel = graft.sources.ManifestSource
      .relation(spark, root, None, allowTombstones = true)
    require(!rel.partitionSchema.fieldNames.exists(eq(_, colName)),
      s"$colName is a hive PARTITION column of $root — its values are " +
        "directory names typed by discovery; re-partition via " +
        "cluster()/compact() instead")
    val cur = read(spark, root).schema
    val field = cur.fields.find(fd => eq(fd.name, colName)).getOrElse(
      throw new IllegalArgumentException(
        s"column $colName does not exist in $root (${cur.simpleString})"))
    require(field.dataType != newType,
      s"column $colName of $root already has type ${newType.simpleString}")
    require(safeWiden(field.dataType, newType),
      s"ALTER COLUMN TYPE on $root supports SAFE WIDENING only " +
        s"(${field.dataType.simpleString} -> ${newType.simpleString} is " +
        "not one): int->bigint/double, float->double, smaller integrals " +
        "up, decimal(p,s) growing in both precision slack and scale — " +
        "narrowing would corrupt existing segment values at read time")
    val evolved = org.apache.spark.sql.types.StructType(cur.fields.map { fd =>
      if (eq(fd.name, colName)) fd.copy(dataType = newType, nullable = true)
      else fd
    })
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), evolved)
    appendReserved(spark, root, empty, rel.partitionSchema.fieldNames.toSeq,
      tag = Some("alter"))
  }

  /** Is `from -> to` a widening the scan layer performs losslessly?
    * Mirrors what Spark 4's vectorized parquet reader upcasts (and
    * what union type coercion widens to): integrals up to LongType,
    * {byte,short,int}→double exactly, float→double, decimal growth
    * that loses neither integer digits nor scale. */
  private[graft] def safeWiden(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale && b.precision - b.scale >= a.precision - a.scale &&
          (b.scale > a.scale || b.precision > a.precision)
      case _ => false
    }

  /** Fold all committed segments into one (the staged full rewrite,
    * now an EXPLICIT maintenance action instead of the per-batch tax),
    * applying any accumulated tombstones PHYSICALLY — the new manifest
    * names one data segment and no tombstones, so the per-read
    * anti-join cost resets to zero. Readers see the old manifest until
    * the new one lands. `partitionBy` preserves a partitioned layout
    * through the rewrite (the columns come back as normal columns from
    * [[read]]'s partition discovery, so the fold round-trips them).
    * Unlike every other reader, compact accepts data segments of mixed
    * layouts (it reads them layout group by layout group), so it is the
    * repair for such a table: the rewrite has the one layout
    * `partitionBy` names. */
  def compact(spark: SparkSession, root: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val snap = readSnapshot(spark, root, snapshotAt(spark, root, None),
      merge = true, anyLayout = true).localCheckpoint()
    try replace(spark, root, snap, partitionBy, rewrite = true)
    finally graft.core.Lineage.release(snap)
  }

  // ------------------------------------------------------------------
  // Physical retention: how many manifest versions' SEGMENTS survive a
  // rewrite. Every real lakehouse separates logical rewrite from
  // physical vacuum — "reproducible training runs pin a version" only
  // holds through nightly maintenance if optimize/cluster/compact keep
  // the data the recent history names. The horizon is a table-level
  // setting persisted under root (`_retain.graft`, default 1 =
  // immediate GC, the pre-retention behavior); [[vacuum]] is the
  // explicit physical GC that [[expireVersions]] (log-side) pairs
  // with.
  // ------------------------------------------------------------------

  private val RetainFile = "_retain.graft"

  /** Set the table's retention horizon: rewrites ([[replace]]/
    * [[optimize]]/[[cluster]]/[[clusterZ]]/[[clusterRange]]/
    * [[compact]]) keep every segment still named by the newest `n`
    * committed manifest versions, so [[readAt]]/[[readMergedAt]]/
    * [[readChanges]] stay serviceable that far back regardless of
    * maintenance cadence. Overwrites any previous setting (it is a
    * knob, not a commit — readers never resolve it for correctness). */
  def setRetainVersions(spark: SparkSession, root: String, n: Int): Unit = {
    require(n >= 1, s"retainVersions must be >= 1, got $n")
    val (f, p) = fs(spark, root)
    if (!f.exists(p)) f.mkdirs(p)
    // tmp-write + OVERWRITE rename: this knob governs physical
    // DELETION, so the marker must never be torn OR absent mid-swap —
    // a delete-then-rename window would let a concurrent rewrite's
    // gc() read "unset" and fall back to horizon 1 (the MOST
    // aggressive deletion setting), collecting history the configured
    // horizon promised to keep. FileContext.rename(OVERWRITE) swaps
    // atomically on HDFS/local/ABFS; retainOf additionally falls back
    // to the newest tmp marker so even a crash between create and
    // rename (or an FS without overwrite rename) never reads as
    // "unset".
    val tmp = new Path(p,
      s"$RetainFile.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      p.toUri, f.getConf)
    fc.rename(fc.makeQualified(tmp), fc.makeQualified(new Path(p, RetainFile)),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The table's retention horizon (default 1: only the current
    * manifest's segments survive a rewrite). */
  def retainVersions(spark: SparkSession, root: String): Int = {
    val (f, p) = fs(spark, root)
    retainOf(f, p)
  }

  private def parseRetain(f: FileSystem, p: Path): Int = {
    val in = f.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    // LOUD on garbage: silently falling back to 1 would let the next
    // rewrite garbage-collect history the configured horizon
    // promised to keep — a corrupt deletion knob must stop the
    // deletion, not shrink it
    scala.util.Try(txt.toInt).toOption.filter(_ >= 1).getOrElse(
      throw new IllegalStateException(
        s"corrupt retention marker $p (content: '$txt'); refusing to " +
          "garbage-collect — setRetainVersions() to repair"))
  }

  private def retainOf(f: FileSystem, root: Path): Int = {
    val p = new Path(root, RetainFile)
    if (f.exists(p)) parseRetain(f, p)
    else {
      // marker absent: before defaulting to 1 (immediate GC), honor
      // any tmp marker a crashed/in-flight setRetainVersions left —
      // an INTENDED horizon must never silently read as "delete
      // everything past head" (newest tmp wins; a torn tmp still
      // fails parseRetain's loud contract)
      val tmps =
        if (!f.exists(root)) Array.empty[org.apache.hadoop.fs.FileStatus]
        else f.listStatus(root).filter(st =>
          st.isFile && st.getPath.getName.startsWith(RetainFile + ".tmp-"))
      if (tmps.isEmpty) 1 // genuinely unset: the pre-retention default
      else parseRetain(f, tmps.maxBy(_.getModificationTime).getPath)
    }
  }

  private def versionsOf(f: FileSystem, root: Path): Seq[Long] =
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith(ManifestPrefix) && !n.contains(".tmp-"))
      .map(_.stripPrefix(ManifestPrefix).toLong).toSeq.sorted

  /** Dirs named by any of the newest `horizon` manifest versions still
    * on disk — the physically-live set a GC pass must keep. */
  private def liveDirs(f: FileSystem, root: Path, horizon: Int): Set[String] =
    versionsOf(f, root).takeRight(horizon)
      .flatMap(v => readManifest(f, root, v)).toSet

  /** Grace window (ms) before an UNNAMED dir is collected. A dir named
    * by no manifest on disk is usually a crashed append's orphan — but
    * it can also be a CONCURRENT appender's written-but-not-yet-
    * committed segment (append = writeSegments, then commit names it), and
    * deleting that between its write and its commit would publish a
    * manifest naming a vanished dir. GC therefore collects unnamed
    * dirs only once they are older than this window; dirs named by a
    * manifest on disk carry no such ambiguity (their writer already
    * committed) and are collected as soon as they fall outside the
    * retention horizon. Override via system property
    * `graft.manifest.gc.graceMs`; specs pin small values to observe
    * orphan collection deterministically.
    *
    * CLOCK CONTRACT: dir ages are judged on the STORE's clock, not the
    * driver's — the cutoff base is `min(driver now, newest manifest
    * mtime)` ([[gcKeeping]]). Dir mtimes and manifest mtimes come from
    * the same store clock, so when the store runs BEHIND the driver
    * (where a driver-clock cutoff would silently shrink the effective
    * window and collect a concurrent appender's in-flight segment
    * early) the min picks the store-stamped bound and the window stays
    * exact; a store running AHEAD only lengthens the window (dirs
    * linger — safe). A stale newest-manifest mtime (quiet table) also
    * only lengthens it. */
  private[io] def gcGraceMs: Long =
    sys.props.get("graft.manifest.gc.graceMs").map(_.toLong)
      .getOrElse(60L * 60 * 1000)

  /** Delete every dir/file under `root` that no manifest inside the
    * retention horizon names: superseded segments past retention after
    * a [[replace]]-class rewrite immediately, and orphans from crashed
    * appends (named by NO manifest) once older than [[gcGraceMs]] —
    * the grace spares an in-flight concurrent append's segment dir.
    * Manifest files and the retention marker stay ([[expireVersions]]
    * trims the former). */
  private[io] def gc(f: FileSystem, root: Path, prior: Snapshot): Unit =
    // every dir the just-published commit retired is named by `prior`,
    // the snapshot it committed on top of — the hint covers the
    // mass-retirement case (compact/cluster retiring thousands of
    // fresh segments) with no manifest read, keeping GC O(1) in
    // retired-dir count
    gcKeeping(f, root, retainOf(f, root), prior.segs.toSet)

  private def gcKeeping(f: FileSystem, root: Path, horizon: Int,
      namedHint: Set[String] = Set.empty): Seq[String] = {
    val live = liveDirs(f, root, horizon)
    val statuses = f.listStatus(root)
    // age on the STORE's clock (see gcGraceMs): the newest manifest
    // mtime is a store-stamped "no later than now" bound — min() with
    // the driver clock so a store running behind the driver never has
    // its in-flight appends' grace window silently shortened, and a
    // store running ahead (or a quiet table's stale mtime) only
    // lengthens it
    val storeNow = statuses.iterator
      .filter(st => st.isFile && st.getPath.getName.startsWith(ManifestPrefix))
      .map(_.getModificationTime)
      .foldLeft(Long.MinValue)(math.max)
    val nowBase =
      if (storeNow == Long.MinValue) System.currentTimeMillis()
      else math.min(System.currentTimeMillis(), storeNow)
    val cutoff = nowBase - gcGraceMs
    // "was this non-live dir ever COMMITTED?" — consulted ONLY for
    // dirs younger than the grace window that the hint (prior head /
    // vacuum's pre-expiry capture) does not name: a committed dir is
    // named first by the manifest whose version its own name encodes
    // (seg-<v>-…; retries re-version the name before committing), so
    // one memoized targeted read answers it. Old dirs delete on age
    // alone; just-retired dirs hit the hint — steady-state GC does
    // O(1) manifest IO regardless of how many dirs a rewrite retired.
    val memo = scala.collection.mutable.Map.empty[Long, Set[String]]
    def committed(n: String): Boolean =
      namedHint.contains(n) ||
        scala.util.Try(segVersion(n)).toOption.exists { v0 =>
          memo.getOrElseUpdate(v0,
            scala.util.Try(readManifest(f, root, v0))
              .getOrElse(Seq.empty).toSet).contains(n)
        }
    val removed = Seq.newBuilder[String]
    statuses.foreach { st =>
      val n = st.getPath.getName
      if (!live.contains(n) && !n.startsWith(ManifestPrefix) &&
          !n.startsWith(RetainFile) &&
          (st.getModificationTime < cutoff || committed(n))) {
        removed += n
        f.delete(st.getPath, true)
      }
    }
    removed.result()
  }

  /** Explicit physical GC, the pair to [[expireVersions]]' log-side
    * trim: expire every manifest older than the newest `keepLast`
    * versions, then delete every segment dir only those expired
    * versions named. LOUD — returns (expired versions, removed dirs),
    * so an operator sees exactly what history just became unreadable;
    * a consumer pinned past the horizon gets a missing-manifest error
    * on its next read, never a silently different answer. Run at
    * whatever cadence bounds disk debt; between runs the table's
    * [[retainVersions]] horizon governs what rewrites keep. */
  def vacuum(spark: SparkSession, root: String,
      keepLast: Int): (Seq[Long], Seq[String]) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val (f, p) = fs(spark, root)
    // capture what the about-to-expire manifests name BEFORE expiring
    // them: those dirs were committed (no in-flight-append ambiguity)
    // and must be collected NOW regardless of the unnamed-dir grace
    val namedBefore = versionsOf(f, p)
      .flatMap(v => readManifest(f, p, v)).toSet
    val expired = expireVersions(spark, root, keepLast)
    (expired, gcKeeping(f, p, keepLast, namedBefore))
  }

  /** Bound LOG metadata growth: delete every manifest file older than
    * the newest `keepLast` versions. This is the retention horizon for
    * [[readAt]] time travel and [[readChanges]] consumers — a consumer
    * whose pinned version expires gets a loud missing-manifest error
    * and full-refreshes, never a silently different answer. Segment
    * DATA is untouched (liveness is governed by the retention-horizon
    * manifests; see [[vacuum]] for the paired physical trim), so this
    * is purely the log-side VACUUM: a few hundred bytes per expired
    * version, run at whatever cadence bounds the listing. Returns the
    * expired versions. */
  def expireVersions(spark: SparkSession, root: String,
      keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val (f, p) = fs(spark, root)
    val drop = versions(spark, root).dropRight(keepLast)
    drop.foreach(v => f.delete(new Path(p, ManifestPrefix + v), false))
    drop
  }

  /** Remove the table entirely. */
  def destroy(spark: SparkSession, root: String): Unit = {
    val (f, p) = fs(spark, root)
    f.delete(p, true)
    ()
  }

  // ------------------------------------------------------------------
  // Change feed: incremental consumption between manifest versions.
  //
  // Because appends/deletes only ever ADD segment names to the
  // manifest, the delta between two versions IS the set of segments
  // committed in the window — a consumer that remembers the last
  // version it processed reads O(new data) per poll, never the table.
  //
  // Maintenance rewrites ([[compact]]/[[optimize]]/[[cluster]]) only
  // REPACKAGE rows the log already held, so they commit with a
  // #rewrite mark and the feed walks THROUGH them: a rewrite
  // contributes no changed segments, PROVIDED everything it folded was
  // already behind the consumer's cursor (segment names carry their
  // commit version, so this is checkable per consumer). A rewrite that
  // folded unconsumed segments — or any unmarked drop — fails loudly
  // and the consumer full-refreshes, the fallback contract every
  // lakehouse change-data-feed ships with. This is strictly stronger
  // than the usual "compaction breaks CDF" rule: nightly maintenance
  // is invisible to caught-up consumers.
  // ------------------------------------------------------------------

  /** Segment names committed after version `fromV`, up to and
    * including `toV` (`fromV = 0` = bootstrap: the full segment list
    * at `toV`, i.e. current state). Marked rewrites of
    * already-consumed segments are skipped; anything else that drops
    * a segment throws (full refresh required) — including row-level
    * DML commits, which this additions-only view cannot represent
    * (their pre-image deletes ride [[changedSegmentsDml]]/
    * [[readChanges]]). */
  def changedSegments(spark: SparkSession, root: String,
      fromV: Long, toV: Long): Seq[String] =
    walkChanges(spark, root, fromV, toV, dmlAware = false)._1

  /** DML-aware change walk: `(additions, preImages)` for the window
    * `(fromV, toV]`. `additions` is [[changedSegments]]' answer;
    * `preImages` names every segment a [[DmlMark]]ed commit dropped
    * whose rows the consumer HAD seen (committed at or before `fromV`,
    * or the output of an in-window rewrite) — their full rows are the
    * window's value-identity DELETES, to be applied before the
    * window's inserts. A segment added AND dml-dropped inside the same
    * window nets out entirely (never delivered, its survivors ride the
    * replacement segment). Each pre-image carries the embedded
    * metadata the manifest held just before the drop, so [[readSegs]]
    * can build the batch without filesystem listings. */
  private[graft] def changedSegmentsDml(spark: SparkSession, root: String,
      fromV: Long, toV: Long): (Seq[String], Seq[(String, Option[SegMeta])]) =
    walkChanges(spark, root, fromV, toV, dmlAware = true)

  private def walkChanges(spark: SparkSession, root: String,
      fromV: Long, toV: Long, dmlAware: Boolean)
      : (Seq[String], Seq[(String, Option[SegMeta])]) = {
    require(fromV <= toV, s"change window [$fromV, $toV] is inverted")
    if (fromV == 0L) return (segmentsAt(spark, root, toV), Nil)
    val (f, p) = fs(spark, root)
    var prev = segmentsAt(spark, root, fromV)
    // outputs of safe rewrites seen in this walk: repackagings of
    // already-consumed rows, so later rewrites may drop them too
    var rewriteOutputs = Set.empty[String]
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    val pre = Seq.newBuilder[(String, Option[SegMeta])]
    (fromV + 1 to toV).foreach { v =>
      val cur = segmentsAt(spark, root, v)
      val prevSet = prev.toSet
      val curSet = cur.toSet
      val dropped = prev.filterNot(curSet)
      if (dropped.isEmpty) out ++= cur.filterNot(prevSet)
      else if (isDml(f, p, v)) {
        require(dmlAware,
          s"v$v of $root is a row-level DML commit (segments rewritten " +
            s"in place: ${dropped.mkString(", ")}); this consumer reads " +
            "additions only — consume through readChanges (pre-image " +
            "deletes + re-inserts) or full-refresh and re-pin")
        // pre-image metadata = what the manifest said just before the
        // drop (the replacement's commit no longer names the segment)
        lazy val prevMetas = Snapshot(Some(v - 1), manifestLines(f, p, v - 1)).metas
        dropped.foreach { d =>
          if (out.contains(d)) out -= d // in-window addition: nets out
          else {
            rewriteOutputs -= d
            pre += ((d, prevMetas.get(d)))
          }
        }
        out ++= cur.filterNot(prevSet)
      } else {
        require(isRewrite(f, p, v),
          s"v$v dropped segments without a rewrite mark " +
            s"(${dropped.mkString(", ")}); " +
            "change feed invalid — full refresh and re-pin required")
        val unconsumed = dropped
          .filter(d => segVersion(d) > fromV && !rewriteOutputs(d))
        require(unconsumed.isEmpty,
          s"rewrite v$v folded segments the consumer at v$fromV never " +
            s"read (${unconsumed.mkString(", ")}); " +
            "change feed invalid — full refresh and re-pin required")
        // a safe rewrite's additions are repackaged already-consumed
        // rows: contribute nothing to the feed, but remember them
        rewriteOutputs ++= cur.filterNot(prevSet)
      }
      prev = cur
    }
    (out.toSeq, pre.result())
  }

  private[io] def isDml(f: FileSystem, root: Path, v: Long): Boolean =
    manifestLines(f, root, v).contains(DmlMark)

  /** Bytes of the segments ADDED by commit `v` — the admission-control
    * input for byte-capped streaming triggers ([[graft.sources
    * .ManifestSource]]'s `maxBytesPerTrigger`). Sizes come from the
    * embedded `#meta` file lists (zero data IO); a legacy segment
    * without one pays a recursive listing. [[RewriteMark]]ed commits
    * count ZERO: their additions repackage rows behind a caught-up
    * cursor (the feed batch is empty), so a compact of a huge table
    * must not stall a byte-capped drain. If `v-1` is expired, every
    * segment of `v` counts (conservative overcount). */
  private[graft] def addedBytesOf(spark: SparkSession, root: String,
      v: Long): Long = {
    val (f, p) = fs(spark, root)
    val lines = manifestLines(f, p, v)
    if (lines.contains(RewriteMark)) return 0L
    val cur = lines.filterNot(_.startsWith("#"))
    val prev =
      if (v <= 1) Set.empty[String]
      else scala.util.Try(readManifest(f, p, v - 1).toSet)
        .getOrElse(Set.empty[String])
    val metas = Snapshot(Some(v), lines).metas
    cur.filterNot(prev).map { s =>
      scala.util.Try(metaOf(spark, root, s, metas.get(s)).files.map(_._2).sum)
        .getOrElse(0L)
    }.sum
  }

  /** One commit's audit row: what kind of commit it was and how the
    * segment list moved. `kind` ∈ append (new data only) | delete
    * (tombstone segment committed) | rewrite (marked repackaging —
    * compact/optimize/cluster) | dml (row-level rewrite) | replace
    * (unmarked drop — first write or destructive replace). */
  final case class CommitInfo(version: Long, timeMs: Long, kind: String,
      segments: Int, added: Int, dropped: Int)

  /** The log's commit history, oldest first — DESCRIBE HISTORY for
    * the manifest log: O(available versions) driver metadata reads,
    * no data IO. After [[expireVersions]] the walk starts at the
    * oldest SURVIVING manifest (its row reads as the net state at
    * that point, `added == segments`). */
  def history(spark: SparkSession, root: String): Seq[CommitInfo] = {
    val (f, p) = fs(spark, root)
    var prev = Set.empty[String]
    versionsWithTimes(spark, root).map { case (v, t) =>
      val lines = manifestLines(f, p, v)
      val segs = lines.filterNot(_.startsWith("#"))
      val cur = segs.toSet
      val added = segs.count(!prev(_))
      val dropped = prev.count(!cur(_))
      val kind =
        if (lines.contains(DmlMark)) "dml"
        else if (lines.contains(AlterMark)) "alter"
        else if (lines.contains(RewriteMark)) "rewrite"
        else if (dropped > 0) "replace"
        else if (segs.exists(s => s.startsWith(DelPrefix) && !prev(s))) "delete"
        else "append"
      prev = cur
      CommitInfo(v, t, kind, segs.size, added, dropped)
    }
  }

  /** Change-data-feed read for the window `(fromV, toV]`: every row
    * appended in the window with `_change_type = 'insert'`, plus every
    * tombstone key committed in the window as `_change_type =
    * 'delete'` (tombstones carry only their key columns — other
    * columns surface NULL, same additive-union contract as schema
    * evolution). A row-level DML commit in the window additionally
    * emits the FULL pre-image rows of every segment it dropped as
    * `delete` rows, with its replacement segment riding the `insert`
    * side — a consumer reconstructs state by applying a window's
    * deletes BEFORE its inserts. Delete application is VALUE identity
    * via anti-join (a delete row kills every equal-valued copy — the
    * tombstone family's contract; the insert side then re-adds the
    * surviving multiset of the TOUCHED segments, so duplicate-valued
    * survivors confined to touched segments round-trip).
    *
    * '''Value-identity caveat (cross-segment duplicates).''' A
    * full-row duplicate that spans a touched and an UNtouched segment
    * does NOT round-trip under the anti-join contract: the pre-image
    * delete kills BOTH copies in the consumer while only the touched
    * segment's survivors ride the insert side — the table keeps the
    * untouched copy, the consumer silently loses it. Tables whose rows
    * carry a unique key (the normal feed posture) are immune; purely
    * value-identified multisets that may duplicate across segments
    * should pass `verifyDeletes = true`, which semi-joins the window's
    * pre-image rows against the untouched segments (null-safe, on the
    * delete frame's column set) and fails loudly with a full-refresh
    * instruction when the hazard is live. The check scans the
    * UNTOUCHED part of the table (that is the set being protected), so
    * it is opt-in rather than the default at 100 TB; [[AggView]] needs
    * neither — it applies multiset retraction, not anti-joins. The
    * FULL-fidelity posture is `rowId = true`: bootstrap the state from
    * [[readWithRowId]] and apply each DML window's deletes by
    * [[RowIdCol]] alone — row identity is per physical copy, so the
    * cross-segment-duplicate hazard cannot arise and verifyDeletes is
    * moot (skipped).
    *
    * Reading pre-images needs the dropped dirs still on
    * disk, i.e. a [[retainVersions]] horizon covering the window. A
    * window holding BOTH tombstones and DML pre-images is rejected
    * loudly: the two delete shapes are indistinguishable in one batch
    * (key-only NULL-padded rows vs full rows) — consume it as two
    * windows split at the DML version. IO is O(changed segments) by
    * construction (plus the untouched scan iff `verifyDeletes`). */
  def readChanges(spark: SparkSession, root: String,
      fromV: Long, toV: Long, verifyDeletes: Boolean = false,
      rowId: Boolean = false): DataFrame = {
    val (chg, pre) = changedSegmentsDml(spark, root, fromV, toV)
    readChanges(spark, root, fromV, toV, chg, pre, verifyDeletes, rowId)
  }

  /** [[readChanges]] of a window already walked by
    * [[changedSegmentsDml]] (the streaming source walks it once for its
    * own guards, then builds the batch here). */
  private[graft] def readChanges(spark: SparkSession, root: String,
      fromV: Long, toV: Long, chg: Seq[String],
      pre: Seq[(String, Option[SegMeta])], verifyDeletes: Boolean,
      rowId: Boolean): DataFrame = {
    require(chg.nonEmpty || pre.nonEmpty,
      s"no segments committed in ($fromV, $toV] under $root")
    require(chg.forall(!_.startsWith(DelPrefix)) || pre.isEmpty,
      s"window ($fromV, $toV] of $root mixes merge-on-read tombstones " +
        "with row-level DML pre-images; one batch cannot carry both " +
        "delete shapes (key-only rows vs full pre-image rows) — consume " +
        "the window in two reads split at the DML version")
    // rowId = true stamps [[RowIdCol]] on the insert rows AND the DML
    // pre-image delete rows: a consumer that bootstrapped from
    // [[readWithRowId]] applies deletes by ROW identity (anti-join on
    // _row_id alone), which round-trips full-row duplicates spanning
    // touched and untouched segments — the shape value-identity
    // anti-joins cannot (see the caveat above; verifyDeletes becomes
    // unnecessary under rowId). Tombstone deletes stay key-valued
    // (_row_id NULL there — they delete by key, not by row).
    // window segments are named by toV (additions, tombstones) or by
    // the version just before the DML that dropped them (pre-images,
    // whose embedded metadata the walk captured)
    val atTo = snapshotAt(spark, root, Some(toV))
    val metas = atTo.metas ++ pre.collect { case (s, Some(m)) => s -> m }
    def readIns(segs: Seq[String]) =
      if (rowId) readSegsWithRowId(spark, root, segs, metas)
      else readSegs(spark, root, segs, metas)
    val ins = chg.filterNot(_.startsWith(DelPrefix))
    val del = chg.filter(_.startsWith(DelPrefix))
    val insDf =
      if (ins.isEmpty) None
      else Some(readIns(ins).withColumn("_change_type", lit("insert")))
    val preRows =
      if (pre.isEmpty) None
      // under rowId every pre-image row is already unique — a distinct
      // would only add a shuffle
      else if (rowId) Some(readIns(pre.map(_._1)))
      else Some(readIns(pre.map(_._1)).distinct())
    // rowId supersedes the value-identity hazard check: identity
    // deletes cannot cross segments by construction
    if (verifyDeletes && !rowId) preRows.foreach { pr =>
      val droppedSet = pre.map(_._1).toSet
      val atFrom = snapshotAt(spark, root, Some(fromV))
      val untouched = atFrom.segs
        .filterNot(s => droppedSet(s) || s.startsWith(DelPrefix))
      if (untouched.nonEmpty) {
        val raw = readSegs(spark, root, untouched, atFrom.metas)
        // conform to the delete frame's column set (schema evolution:
        // a column the untouched segments lack reads NULL there, which
        // is exactly what the consumer's full-table read saw)
        val others = raw.select(pr.columns.toSeq.map(c =>
          (if (raw.columns.contains(c))
             org.apache.spark.sql.functions.col(c)
           else lit(null)).as(c)): _*)
        val cond = pr.columns.toSeq.map(c => pr(c) <=> others(c)).reduce(_ && _)
        require(pr.join(others, cond, "left_semi").isEmpty,
          s"window ($fromV, $toV] of $root carries DML pre-image delete " +
            "rows whose full-row value also lives in an UNtouched " +
            "segment — an anti-join consumer would kill the untouched " +
            "copy the table keeps (cross-segment duplicate hazard); " +
            "full-refresh from the head snapshot and re-pin")
      }
    }
    val delSides = tombstonesOf(spark, root, del, metas).toList ++ preRows
    val delDf = delSides.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map(_.withColumn("_change_type", lit("delete")))
    val out = (insDf, delDf) match {
      case (Some(a), Some(b)) => a.unionByName(b, allowMissingColumns = true)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case _ => throw new IllegalStateException("unreachable: chg or pre nonEmpty")
    }
    // the window's consumers see the schema AS OF its end version
    applySchemaActions(out, atTo.actions)
  }

  /** Committed data segments with their on-disk byte sizes (driver-
    * side FS metadata listing — no data read). The planning input for
    * [[optimize]]'s small-file threshold. */
  def segmentSizes(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val (f, p) = fs(spark, root)
    dataSegments(spark, root)
      .map(s => s -> f.getContentSummary(new Path(p, s)).getLength)
  }

  /** Bin-packing small-file compaction: fold ONLY the data segments
    * smaller than `smallBytes` into one packed segment, leaving every
    * larger segment (and all tombstones) untouched — byte-identical,
    * spec-pinned. This is the maintenance action a 100 TB log actually
    * runs: streaming ingest accretes thousands of small segments whose
    * per-open cost taxes readers, but rewriting the big ones (the bulk
    * of the bytes) to fix that would be [[compact]]'s full-table
    * price. IO here is O(small segments only). Tombstones are NOT
    * applied (the packed rows keep anti-joining against them, exactly
    * as before — [[compact]] remains the action that retires deletes).
    * Zone-map sidecars are regenerated for the packed segment over the
    * union of stat columns its inputs carried, so data skipping
    * survives packing. Returns the number of segments folded (0 =
    * fewer than two small segments, nothing rewritten, no new manifest
    * version). */
  def optimize(spark: SparkSession, root: String, smallBytes: Long,
      partitionBy: Seq[String] = Nil): Int = {
    val (f, p) = fs(spark, root)
    val (v, prior) = committedHead(spark, root, s"optimize of uncommitted table $root")
    val metas = metasOf(spark, root, prior)
    val all = metas.keys.toSeq
    val small = all.filterNot(_.startsWith(DelPrefix))
      .filter(s => f.getContentSummary(new Path(p, s)).getLength < smallBytes)
    if (small.size < 2) return 0
    val smallSet = small.toSet
    requireLayout(root, metas.iterator.filterNot { case (s, _) =>
      smallSet(s) || s.startsWith(DelPrefix) }, partitionBy)
    val statCols = small.flatMap(metas(_).stats.toSeq.flatMap(_.cols.keys)).distinct
    val bCols = small.flatMap(metas(_).blooms).distinct
    val (seg, _, meta) = writeSegments(spark, root, v, readSegs(spark, root, small, metas),
      None, partitionBy, "opt-", _ => (statCols, bCols)).head
    commit(f, p, v + 1, prior, all.filterNot(smallSet) :+ seg, Seq(RewriteMark),
      metas = Map(seg -> meta))
    gc(f, p, prior)
    small.size
  }

  /** Sort-based RE-CLUSTERING: rewrite the table as `nSegments`
    * range-disjoint segments ordered by `byCol`, each with a
    * regenerated zone-map sidecar. Streaming ingest commits segments
    * in ARRIVAL order, so every segment spans the whole key range and
    * zone maps prune nothing; clustering restores the sorted layout
    * that makes [[readRange]] open O(range) segments — the standard
    * lakehouse maintenance pair (bin-pack for write debt, cluster for
    * read locality). One shuffle (range repartition by `byCol`, skew
    * handled by Spark's range sampling) + one write pass; tombstones
    * are applied physically (this is a full rewrite, [[compact]]'s
    * sibling — run it at the cadence a 100 TB deployment can afford,
    * per partition of the log in practice). `statsCols` defaults to
    * `byCol` alone. */
  def cluster(spark: SparkSession, root: String, byCol: String,
      nSegments: Int, statsCols: Seq[String] = Nil): Unit =
    clusterBy(spark, root, "cluster", "clu", col(byCol), nSegments,
      if (statsCols.nonEmpty) statsCols else Seq(byCol))

  /** Multi-column Z-ORDER clustering: [[cluster]] with the
    * z-interleave of (`colA`, `colB`) as the layout key ([[graft
    * .functions.zInterleave2]]; Delta/Iceberg's OPTIMIZE ZORDER BY),
    * so each segment covers a rectangle-ish region of the composite
    * key space and the per-segment zone maps — written for BOTH
    * columns — prune range reads on EITHER one. A single-column
    * [[cluster]] only ever helps its own key; this is the layout for
    * two independent access paths on the same 100 TB log. Same cost
    * shape as cluster: one ranged shuffle + one write pass; tombstones
    * applied physically; rewrite-marked for the change feed. */
  def clusterZ(spark: SparkSession, root: String, colA: String, colB: String,
      nSegments: Int, bits: Int = 16): Unit =
    clusterBy(spark, root, "clusterZ", "clz",
      graft.functions.zInterleave2(col(colA), col(colB), bits), nSegments,
      Seq(colA, colB))

  /** The full re-clustering behind [[cluster]] and [[clusterZ]]: one
    * ranged shuffle of the tombstone-applied head on `key` into
    * `nSegments` ranges, one write pass splitting them into segments
    * that each carry zone maps for `stats`, committed as a rewrite. */
  private def clusterBy(spark: SparkSession, root: String, verb: String,
      label: String, key: Column, nSegments: Int, stats: Seq[String]): Unit = {
    require(nSegments >= 1, s"nSegments must be >= 1, got $nSegments")
    val (f, p) = fs(spark, root)
    val (v, prior) = committedHead(spark, root, s"$verb of uncommitted table $root")
    val snap = readSnapshot(spark, root, prior, merge = true).localCheckpoint()
    try {
      val segs = writeSegments(spark, root, v, snap.repartitionByRange(nSegments, key)
          .withColumn("_seg", org.apache.spark.sql.functions.spark_partition_id()),
        Some("_seg"), Nil, label, _ => (stats, Nil))
      // full rewrite through the post-drop projection (readSnapshot):
      // dropped-column tombstones retire with the physical bytes
      commit(f, p, v + 1, prior, segs.map(_._1), Seq(RewriteMark),
        metas = segs.map(s => s._1 -> s._3).toMap, clearDrops = true)
      gc(f, p, prior) // retires the old segments and tombstones
    } finally graft.core.Lineage.release(snap)
  }

  /** INCREMENTAL clustering: [[cluster]] scoped to the segments whose
    * zone maps intersect `[lo, hi]` on `byCol` — the nightly job a
    * 100 TB log actually runs ("cluster yesterday's arrivals"), paying
    * only for the segments the range touches while everything else
    * stays byte-identical. Touched segments are rewritten WHOLE (they
    * may hold rows outside the range — zone maps are segment-granular
    * — and those rows simply travel into the new layout), tombstones
    * are NOT applied (unlike the full [[cluster]]: untouched segments
    * may still hold matching rows, so retirement stays [[compact]]/
    * [[cluster]]'s job), and the commit carries the rewrite mark so
    * caught-up change-feed consumers walk through it. Stats-less
    * segments are conservatively "intersecting" and get clustered
    * (and thereby gain sidecars). Returns the number of segments
    * folded (0 = fewer than two intersect; nothing rewritten). */
  def clusterRange(spark: SparkSession, root: String, byCol: String,
      lo: Option[Any], hi: Option[Any], nSegments: Int,
      statsCols: Seq[String] = Nil): Int = {
    require(nSegments >= 1, s"nSegments must be >= 1, got $nSegments")
    val (f, p) = fs(spark, root)
    val (v, prior) = committedHead(spark, root, s"clusterRange of uncommitted table $root")
    val metas = metasOf(spark, root, prior)
    val all = metas.keys.toSeq
    // this is a PARTIAL rewrite: it reads raw physical frames and
    // writes them back (mapping carried forward untouched), so the
    // caller's LOGICAL column names translate to physical here
    val mapping = prior.actions._2
    val byPhys = physicalNameOf(spark, mapping, byCol)
    val touched = rangeAdmitted(metas, byPhys, lo, hi)
    if (touched.size < 2) return 0
    val touchedSet = touched.toSet
    // the clustered segments are flat: untouched segments must be too
    requireLayout(root, metas.iterator.filterNot { case (s, _) =>
      touchedSet(s) || s.startsWith(DelPrefix) }, Nil)
    val stats = (if (statsCols.nonEmpty) statsCols else Seq(byCol))
      .map(physicalNameOf(spark, mapping, _))
    val segs = writeSegments(spark, root, v, readSegs(spark, root, touched, metas)
        .repartitionByRange(nSegments, col(byPhys))
        .withColumn("_seg", org.apache.spark.sql.functions.spark_partition_id()),
      Some("_seg"), Nil, "clr", _ => (stats, Nil))
    commit(f, p, v + 1, prior, all.filterNot(touchedSet) ++ segs.map(_._1),
      Seq(RewriteMark), metas = segs.map(s => s._1 -> s._3).toMap)
    gc(f, p, prior)
    touched.size
  }

  /** Exact row count from the segments' zone-map stats alone — zero
    * data IO, a driver-side sum over the manifest's metadata. Available
    * (Some) only when every data segment carries stats and no
    * tombstones are outstanding (tombstone matches can't be counted
    * without reading); callers fall back to `read(root).count()` on
    * None. The metadata-only count a 100 TB log answers in
    * milliseconds. */
  def fastRowCount(spark: SparkSession, root: String): Option[Long] = {
    val metas = segmentMetas(spark, root)
    val st = metas.values.map(_.stats).toSeq
    if (metas.keys.exists(_.startsWith(DelPrefix)) || st.isEmpty ||
        st.exists(_.isEmpty)) None
    else Some(st.flatten.map(_.rows).sum)
  }

  // ------------------------------------------------------------------
  // Segment statistics (zone maps) + data-skipping reads.
  //
  // Each stats-enabled segment's stats are embedded in its `#meta`
  // manifest line and written as a `_stats.graft.json` sidecar:
  //   {"rows":N,"cols":{"c":{"t":"n|ts|d|s","min":"…","max":"…"}}}
  // min/max are canonical sortable keys — numerics as their decimal
  // string, timestamps as epoch MICROS, dates as epoch DAYS, strings
  // raw. A range read is a filtered [[read]]: the relation's file
  // index ([[graft.sources.ManifestFileIndex]]) checks the pushed
  // predicate against each segment's [min,max] from the ONE manifest
  // read and hands Spark just the segments that intersect it — the
  // segment-granularity analogue of parquet row-group zone maps, and
  // the reason a time-keyed 100 TB append log answers a point-in-time
  // query by reading one segment instead of all of them. Conservative
  // by construction: a segment without stats (or without stats for
  // the queried column) is always read.
  // ------------------------------------------------------------------

  private val StatsFile = "_stats.graft.json"

  /** Full JSON string escaping — backslash, quote, AND control
    * characters. A string column whose min/max carries a newline or
    * tab must not produce an invalid sidecar: sidecars gate the whole
    * read path, so "weird value" must degrade to "slightly bigger
    * sidecar", never to "every readRange throws". */
  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"'  => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }
  private def jsonString(s: String): String = "\"" + jsonEscape(s) + "\""

  /** Per-column segment statistic: type tag + canonical min/max keys
    * (None = every value in the segment is NULL for that column). */
  final case class ColStat(t: String, min: Option[String], max: Option[String])
  final case class SegStats(rows: Long, cols: Map[String, ColStat])

  private def statType(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | _: DecimalType => Some("n")
    case TimestampType => Some("ts")
    case DateType => Some("d")
    case StringType => Some("s")
    case _ => None
  }

  /** The zone-map aggregates over `cols` of a frame with `schema`: the
    * row count (`rows`), then each typed column's min/max canonical key
    * (`mn<i>`/`mx<i>`) — the one stat-key expression every writer
    * shares. Returns the (column, type tag) pairs with the aggregates. */
  private def statAggs(schema: StructType, cols: Seq[String])
      : (Seq[(String, String)], Seq[Column]) = {
    val typed = cols.flatMap(c => statType(schema(c).dataType).map((c, _)))
    val aggs = count(lit(1)).as("rows") +: typed.zipWithIndex.flatMap {
      case ((c, t), i) =>
        val key = t match {
          case "ts" => unix_micros(col(c))
          case "d"  => datediff(col(c), lit("1970-01-01"))
          case _    => col(c)
        }
        Seq(min(key).cast("string").as(s"mn$i"), max(key).cast("string").as(s"mx$i"))
    }
    (typed, aggs)
  }

  /** Render one segment's [[statAggs]] values (by alias) as the stats
    * JSON of the sidecar and the `#meta` line, over `cols` in order. */
  private def statsJson(values: Map[String, Any], typed: Seq[(String, String)],
      cols: Seq[String]): String = {
    val at = typed.zipWithIndex.map { case ((c, t), i) => c -> (t, i) }.toMap
    val colsJson = cols.flatMap(c => at.get(c).map { case (t, i) =>
      def v(k: String): String =
        values.get(k).flatMap(Option(_)).map(x => jsonString(x.toString))
          .getOrElse("null")
      s""""${jsonEscape(c)}":{"t":"$t","min":${v(s"mn$i")},"max":${v(s"mx$i")}}"""
    }).mkString(",")
    s"""{"rows":${values("rows")},"cols":{$colsJson}}"""
  }

  /** Parse a segment's stats sidecar, if it has one. A malformed or
    * unreadable sidecar (partial write, store corruption, a writer
    * from before an escaping fix) degrades to None — the CONSERVATIVE
    * answer: the segment is always read, [[fastRowCount]] returns
    * None, nothing throws. One bad sidecar must never wedge
    * [[readRange]]/[[optimize]] for the whole table. */
  /** Decode the stats JSON shape (shared by the sidecar file and the
    * manifest-embedded copy). */
  private def statsFromJValue(j: org.json4s.JValue): SegStats = {
    import org.json4s._
    val rows = (j \ "rows") match { case JInt(n) => n.toLong; case _ => 0L }
    val cols = (j \ "cols") match {
      case JObject(fields) => fields.map { case (name, cs) =>
        def str(k: String): Option[String] =
          (cs \ k) match { case JString(s) => Some(s); case _ => None }
        name -> ColStat(str("t").getOrElse("s"), str("min"), str("max"))
      }.toMap
      case _ => Map.empty[String, ColStat]
    }
    SegStats(rows, cols)
  }

  def segmentStats(spark: SparkSession, root: String, seg: String): Option[SegStats] = {
    val (f, _) = fs(spark, root)
    val p = new Path(s"$root/$seg", StatsFile)
    if (!f.exists(p)) None
    else scala.util.Try {
      import org.json4s.jackson.JsonMethods
      val in = f.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      statsFromJValue(JsonMethods.parse(txt))
    }.toOption
  }

  /** Canonical comparison key for a caller-supplied bound, matched to
    * the stored stat's type tag. */
  private def boundKey(t: String, v: Any): Any = (t, v) match {
    case ("s", x) => x.toString
    case ("ts", ts: java.sql.Timestamp) =>
      BigDecimal(ts.getTime / 1000L * 1000000L + ts.getNanos / 1000L)
    case ("ts", i: java.time.Instant) =>
      BigDecimal(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case ("ts", s: String) => boundKey("ts", java.sql.Timestamp.valueOf(s))
    case ("d", d: java.sql.Date) => BigDecimal(d.toLocalDate.toEpochDay)
    case ("d", d: java.time.LocalDate) => BigDecimal(d.toEpochDay)
    case ("d", s: String) => BigDecimal(java.time.LocalDate.parse(s).toEpochDay)
    case (_, x) => BigDecimal(x.toString)
  }

  /** String bound comparison by CODE POINT (via UTF-8 bytes), not
    * Java's UTF-16 code-unit `compareTo`: the stored min/max come from
    * Spark's min/max, whose string ordering is binary (code-point).
    * The two orders disagree for supplementary-plane characters vs
    * U+E000–U+FFFF, and a wrong order here wrongly PRUNES a segment
    * that intersects the range — a silent row drop, not a slow read. */
  private def utf8Leq(x: String, y: String): Boolean = {
    val a = x.getBytes("UTF-8"); val b = y.getBytes("UTF-8")
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    a.length <= b.length
  }

  private def leq(t: String, a: Any, b: Any): Boolean = (a, b) match {
    case (x: String, y: String) if t == "s" => utf8Leq(x, y)
    case (x: BigDecimal, y: BigDecimal) => x <= y
    case _ => true // type confusion -> conservative: don't prune
  }

  private def statKey(t: String, s: String): Any =
    if (t == "s") s else scala.util.Try(BigDecimal(s)).getOrElse(s)

  /** Can a segment with sidecar `stats` hold rows satisfying
    * `lo <= colName <= hi`? Conservative: missing/unusable stats →
    * true (always read); a stats-bearing segment whose column is
    * entirely NULL → false (a range predicate matches no NULLs).
    * Shared by [[prunedDataSegments]] and the SQL-face
    * [[graft.sources.ManifestSource]] file index. */
  private[graft] def statsAdmit(stats: Option[SegStats], colName: String,
      lo: Option[Any], hi: Option[Any]): Boolean =
    stats.flatMap(_.cols.get(colName)) match {
      case None => true
      case Some(ColStat(_, None, None)) => false
      case Some(ColStat(t, mn, mx)) =>
        val aboveLo = (lo, mx) match {
          case (Some(l), Some(m)) => leq(t, boundKey(t, l), statKey(t, m))
          case _ => true
        }
        val belowHi = (hi, mn) match {
          case (Some(h), Some(m)) => leq(t, statKey(t, m), boundKey(t, h))
          case _ => true
        }
        aboveLo && belowHi
    }

  /** The data segments a `lo <= colName <= hi` read must open: every
    * segment whose stats intersect the range, plus every segment
    * without usable stats (conservative). A stats-bearing segment
    * whose column is entirely NULL is pruned — a range predicate
    * matches no NULLs. Open bounds via None. */
  def prunedDataSegments(spark: SparkSession, root: String, colName: String,
      lo: Option[Any], hi: Option[Any]): Seq[String] =
    rangeAdmitted(segmentMetas(spark, root), colName, lo, hi)

  private def rangeAdmitted(metas: SeqMap[String, SegMeta], colName: String,
      lo: Option[Any], hi: Option[Any]): Seq[String] =
    metas.collect { case (s, m) if !s.startsWith(DelPrefix) &&
      statsAdmit(m.stats, colName, lo, hi) => s }.toSeq

  /** Data-skipping range read: `read(...)` filtered to `lo <= colName
    * <= hi` (open bounds via None). The relation's file index opens
    * only segments whose zone map intersects the range
    * ([[prunedDataSegments]]' answer); the filter itself removes the
    * out-of-range rows kept segments still hold. */
  def readRange(spark: SparkSession, root: String, colName: String,
      lo: Option[Any], hi: Option[Any]): DataFrame =
    probeRead(spark, root, colName, "range") { c =>
      (lo.map(c >= lit(_)) ++ hi.map(c <= lit(_))).reduceOption(_ && _)
        .getOrElse(lit(true))
    }

  /** [[read]] filtered by `pred` on the LOGICAL column `colName`; a
    * probe on a DROPped column fails loudly (zone maps and Bloom
    * sidecars are keyed by physical name, and Catalyst pushes the
    * filter through the rename projection to the file index). */
  private def probeRead(spark: SparkSession, root: String, colName: String,
      what: String)(pred: Column => Column): DataFrame = {
    val snap = snapshotAt(spark, root, None)
    val (dropped, mapping) = snap.actions
    val eq = spark.sessionState.conf.resolver
    require(!dropped.exists(eq(_, physicalNameOf(spark, mapping, colName))),
      s"column $colName was DROPped from $root; $what reads cannot " +
        "probe a dropped column")
    readSnapshot(spark, root, snap).filter(pred(col(colName)))
  }

  // ------------------------------------------------------------------
  // Bloom sidecars + point-lookup data skipping.
  //
  // Zone maps prune RANGE reads, but they are useless for point
  // lookups on an arrival-ordered log: every segment's [min, max]
  // spans most of an id-like key's domain, so `WHERE id = k` opens
  // everything. A per-segment Bloom sidecar (`_bloom.<col>.graft`,
  // Spark's deterministic Murmur3 BloomFilter sketch, fpp 1e-6 ≈
  // 29 bits/key) answers "might this segment hold k?" from a few
  // hundred KB of driver-side metadata — the point-lookup analogue of
  // the zone maps, and the mechanism Delta/Iceberg ship as Bloom
  // filter indexes. Conservative by construction: a segment without a
  // sidecar for the column is always read; a false positive costs one
  // extra segment scan, never a wrong answer (the residual equality
  // filter always runs).
  // ------------------------------------------------------------------

  private def bloomFile(colName: String) = s"_bloom.$colName.graft"

  /** Column types a Bloom sidecar supports (what Spark's BloomFilter
    * hashes): integral + string. Callers naming other types fail
    * loudly at write time rather than silently skipping. */
  private def bloomable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** Load a segment's Bloom sidecar for `colName`, if present and
    * readable (malformed → None = conservative always-read, the
    * [[segmentStats]] contract). */
  def segmentBloom(spark: SparkSession, root: String, seg: String,
      colName: String): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val (f, _) = fs(spark, root)
    val p = new Path(s"$root/$seg", bloomFile(colName))
    if (!f.exists(p)) None
    else scala.util.Try {
      val in = f.open(p)
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
    }.toOption
  }

  /** Might a segment with this sidecar hold `value`? None → yes
    * (conservative). Integral values hash as longs (how the filter
    * was built); other types are admitted unconditionally. */
  private[graft] def bloomAdmit(
      bloom: Option[org.apache.spark.util.sketch.BloomFilter],
      value: Any): Boolean = bloom match {
    case None => true
    case Some(b) => value match {
      case x: Byte => b.mightContainLong(x.toLong)
      case x: Short => b.mightContainLong(x.toLong)
      case x: Int => b.mightContainLong(x.toLong)
      case x: Long => b.mightContainLong(x)
      case s: String => b.mightContainString(s)
      case _ => true
    }
  }

  /** Segment `seg`'s Bloom filter on `colName`, opened only when its
    * metadata lists one. */
  private[graft] def bloomOf(spark: SparkSession, root: String, seg: String,
      meta: SegMeta, colName: String): Option[org.apache.spark.util.sketch.BloomFilter] =
    if (meta.blooms.contains(colName)) segmentBloom(spark, root, seg, colName)
    else None

  /** The data segments a `colName = value` read must open: every
    * segment whose Bloom sidecar admits the value (or has none). */
  def pointSegments(spark: SparkSession, root: String, colName: String,
      value: Any): Seq[String] =
    segmentMetas(spark, root).collect { case (s, m) if !s.startsWith(DelPrefix) &&
      bloomAdmit(bloomOf(spark, root, s, m, colName), value) => s }.toSeq

  /** Bloom-pruned point lookup: `read(...).filter(col = value)`. The
    * relation's file index opens only segments whose zone map and
    * Bloom sidecar admit the key — `WHERE id = k` on a 100 TB
    * arrival-ordered log reads O(segments holding k), not O(table). */
  def readPoint(spark: SparkSession, root: String, colName: String,
      value: Any): DataFrame =
    probeRead(spark, root, colName, "point")(_ === lit(value))
}
