package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast,
  EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan,
  LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation,
  PartitionDirectory}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider,
  DataSourceRegister, RelationProvider, SchemaRelationProvider}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.io.ManifestTable

/** The SQL face of the [[graft.io.ManifestTable]] log: a registered
  * Spark data source, so the manifest family is first-class to the
  * engine's own `execute` surface (the reference's entire interface
  * is SQL passthrough — `locopy/database.py:131-190`):
  *
  * {{{
  *   spark.read.format("graft.manifest").load(root)            // head
  *   spark.read.format("graft.manifest")
  *     .option("version", 3).load(root)                        // time travel
  *   spark.sql(s"SELECT … FROM `graft.manifest`.`$root`")      // pure SQL
  * }}}
  *
  * Architecture: NOT a bespoke reader — the relation is a plain
  * `HadoopFsRelation` over the stock parquet `FileFormat`, so column
  * pruning, parquet filter pushdown (`PushedFilters`), vectorized
  * decode and whole-stage codegen are all inherited unchanged. What
  * the manifest adds is the [[ManifestFileIndex]]: the file listing
  * resolves the COMMITTED segment list (never a directory glob — an
  * orphan from a crashed append is invisible here exactly as in the
  * API reads), pinned at relation-build time (a query plans against
  * one manifest version even while ingest keeps committing — snapshot
  * isolation for free), and prunes whole segments through the
  * manifest-embedded zone maps and Bloom sidecars when the query's
  * `WHERE` carries range or equality predicates on covered columns.
  * The relation is the typed API's own segment reader
  * ([[ManifestTable.readSegs]]), cached per snapshot. Data skipping
  * therefore happens at BOTH granularities: segments here, row groups
  * in parquet below — the two-layer structure every lakehouse reader
  * ships.
  *
  * Contract edges, all loud:
  *  - outstanding merge-on-read tombstones fail the build (a plain
  *    file scan cannot apply the anti-join; `compact()` first, read
  *    through `readMerged`, or pass `allowTombstones=true` to read
  *    raw data segments knowingly);
  *  - hive-partitioned segments (written with `partitionBy`, e.g. the
  *    ANN index's `cell=` layout) are first-class: the partition
  *    column surfaces in the schema and pushed partition predicates
  *    prune `col=value` dirs inside every surviving segment — but the
  *    layout must be consistent (all flat, or all partitioned on the
  *    same columns; anything else fails the build rather than dropping
  *    dirs, and the writers refuse to create it);
  *  - additive schema evolution is supported: the relation's schema is
  *    the additive merge of the segments' embedded schemas and parquet
  *    reads NULL-fill columns a segment predates.
  */
class ManifestSource extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft.manifest"

  private def rootOf(spark: org.apache.spark.sql.SparkSession,
      parameters: Map[String, String]): String =
    ManifestSource.resolveTableRoot(spark,
      parameters.get("path").orElse(parameters.get("root")).getOrElse(
        throw new IllegalArgumentException(
          "graft.manifest needs a table root: .load(root) or " +
            ".option(\"path\", root) — a path literal, or a catalog " +
            "table name (no '/')")))

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(sqlContext.sparkSession, parameters)
    val version = parameters.get("version").map(_.toLong)
    val allowTombstones =
      parameters.get("allowtombstones").orElse(parameters.get("allowTombstones"))
        .exists(_.equalsIgnoreCase("true"))
    ManifestSource.relation(spark, root, version, allowTombstones)
  }

  /** Schema-carrying resolution — what `CREATE TABLE t (…) USING
    * graft.manifest LOCATION root` goes through when the user declares
    * the columns up front ([[graft.plans.ResolveManifestRelation]]
    * resolves the NAME at query time; this call only has to answer
    * "what is this table's schema" at DDL time). An as-yet-uncommitted
    * root returns a schema-only relation (the table is born empty and
    * the first INSERT commits manifest v1); a committed root must
    * agree with the declared columns — a silent mismatch would make
    * every later read surprise the user. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String],
      declared: StructType): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(sqlContext.sparkSession, parameters)
    if (!ManifestTable.exists(spark, root)) {
      val ctx = sqlContext
      new BaseRelation {
        override def sqlContext: SQLContext = ctx
        override def schema: StructType = declared
      }
    } else {
      val rel = createRelation(sqlContext, parameters)
      // declared columns are LOGICAL names; the relation schema is
      // physical — logicalize before comparing
      val mapping = ManifestTable.columnMapping(spark, root)
      val have = rel.schema.fields.map(f =>
        (ManifestTable.logicalNameOf(spark, mapping, f.name).toLowerCase,
          f.dataType))
      val want = declared.fields.map(f => (f.name.toLowerCase, f.dataType))
      require(have.sameElements(want),
        s"declared schema ${declared.simpleString} does not match committed " +
          s"manifest table $root (${rel.schema.simpleString}); omit the " +
          "column list to inherit the table's schema")
      rel
    }
  }

  /** Write path — `df.write.format("graft.manifest")` with the
    * standard SaveMode semantics mapped onto the log's commit verbs:
    * Append = one [[ManifestTable.append]]ed segment (atomic manifest
    * commit, O(df) IO); Overwrite = [[ManifestTable.replace]] (a new
    * single-segment version, history retained per [[ManifestTable
    * .retainVersions]]); ErrorIfExists/Ignore follow their contracts
    * against manifest existence. Options: `statsCols` (comma list)
    * collects zone-map sidecars for the new segment, `bloomCols` its
    * point-lookup Bloom sidecars; `tag` rides in the segment name
    * (the at-least-once replay guard). Partitioned
    * (hive-layout) segments stay on the typed API — this surface
    * writes flat segments, matching what the SQL read path scans. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(sqlContext.sparkSession, parameters)
    def colsOpt(k: String) = parameters.get(k.toLowerCase).orElse(parameters.get(k))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    val statsCols = colsOpt("statsCols")
    val bloomCols = colsOpt("bloomCols")
    val tag = parameters.get("tag")
    val exists = ManifestTable.exists(spark, root)
    mode match {
      case SaveMode.Append =>
        ManifestTable.append(spark, root, data, statsCols = statsCols,
          bloomCols = bloomCols, tag = tag)
      case SaveMode.Overwrite =>
        ManifestTable.replace(spark, root, data, tag = tag,
          statsCols = statsCols, bloomCols = bloomCols)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"manifest table $root already exists (SaveMode.ErrorIfExists); " +
            "use mode(\"append\") or mode(\"overwrite\")")
        ManifestTable.append(spark, root, data, statsCols = statsCols,
          bloomCols = bloomCols, tag = tag)
      case SaveMode.Ignore =>
        if (!exists)
          ManifestTable.append(spark, root, data, statsCols = statsCols,
            bloomCols = bloomCols, tag = tag)
    }
    // schema-only result: building the full read relation here would
    // re-list every segment and re-read every sidecar/footer after
    // EACH commit (O(table metadata) per write on a streaming-ingest
    // log) for a return value DataFrameWriter never scans — readers
    // construct the real relation through the read path
    val ctx = sqlContext
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }

  /** Streaming sink — `df.writeStream.format("graft.manifest")
    * .option("path", root)`: each micro-batch commits as ONE
    * manifest-logged segment tagged `mb<batchId>` (the
    * [[graft.streaming.Stream.runLakehouseIngest]] convention), so an
    * at-least-once replay is detected from the manifest NAME SCAN
    * alone and skipped — exactly-once table contents on top of an
    * at-least-once engine, with no idempotent-sink requirement pushed
    * to readers. Append output mode only (the log is append-only by
    * construction; aggregations ride [[graft.io.AggView]], not sink
    * upserts). `statsCols` collects zone-map sidecars per batch
    * segment. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft.manifest sink supports Append output mode, got $outputMode " +
        "(aggregate maintenance rides AggView over the log, not sink upserts)")
    val root = rootOf(sqlContext.sparkSession, parameters)
    def colsOpt(k: String) = parameters.get(k.toLowerCase).orElse(parameters.get(k))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    val autoCompact = parameters.get("autocompactsegments")
      .orElse(parameters.get("autoCompactSegments")).map(_.toInt)
    autoCompact.foreach(n => require(n >= 2,
      s"autoCompactSegments must be >= 2, got $n"))
    new ManifestSink(sqlContext.sparkSession, root, colsOpt("statsCols"),
      colsOpt("bloomCols"), partitionColumns, autoCompact)
  }

  /** Streaming SOURCE — `spark.readStream.format("graft.manifest")
    * .load(root)`: replays the log's change feed as micro-batches,
    * offset = manifest version. Because appends only ever ADD segment
    * names, the delta between two offsets IS the set of segments
    * committed in the window ([[graft.io.ManifestTable
    * .changedSegments]]), so each batch reads O(new data) — never the
    * table — and a restart replays exactly the uncommitted window from
    * the checkpointed offset. Rewrite commits (compact/optimize/
    * cluster) are walked through: they repackage rows behind the
    * cursor and contribute EMPTY batches. This is the read half the
    * r13 sink made necessary: log→log pipelines (ingest → transform →
    * another log) now compose symmetrically, the reference's staged
    * load/unload pipeline shape re-expressed as streams
    * (`locopy/redshift.py:235-441`).
    *
    * Options: `startingVersion` = `0` (default — bootstrap: the full
    * table state is batch one) | `latest` (only commits after stream
    * start) | any committed version number (exclusive low fence).
    * `maxVersionsPerTrigger` = N caps each micro-batch at N manifest
    * commits past the last delivered offset, so a backlogged restart
    * or a bootstrap over a long log drains as bounded batches instead
    * of one giant catch-up batch (FileStreamSource's
    * maxFilesPerTrigger, at commit granularity).
    * `maxBytesPerTrigger` = B additionally caps each micro-batch by
    * the commits' cumulative ADDED bytes (from the manifest-embedded
    * file sizes — no data IO; an oversized single commit still admits
    * alone, so the drain always progresses). Commits vary wildly in
    * size, so the byte cap is the one that actually bounds executor
    * memory; combine both for a commit-count ceiling too.
    * `changeFeed=true` surfaces deletes: rows carry a `_change_type`
    * column (`insert`/`delete`, tombstone rows NULL-fill non-key
    * columns; a row-level DML commit emits its dropped segments'
    * full pre-image rows as deletes with the replacement riding the
    * insert side — apply a batch's deletes before its inserts).
    * Without it, a tombstone or DML inside a window fails the
    * batch loudly — a plain append stream must not silently ignore
    * deletes. A window expired by `expireVersions` also fails loudly
    * (full refresh + re-pin, the standard change-feed fallback). */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), ManifestSource.streamSchema(sqlContext.sparkSession,
      rootOf(sqlContext.sparkSession, parameters), changeFeedOf(parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val spark = sqlContext.sparkSession
    val root = rootOf(sqlContext.sparkSession, parameters)
    val changeFeed = changeFeedOf(parameters)
    val declared = schema.getOrElse(
      ManifestSource.streamSchema(spark, root, changeFeed))
    val startV = parameters.get("startingversion")
      .orElse(parameters.get("startingVersion")) match {
      case Some(s) if s.equalsIgnoreCase("latest") =>
        ManifestTable.versions(spark, root).lastOption.getOrElse(0L)
      case Some(s) => s.toLong
      case None => 0L
    }
    val maxV = parameters.get("maxversionspertrigger")
      .orElse(parameters.get("maxVersionsPerTrigger")).map(_.toLong)
    maxV.foreach(m => require(m >= 1,
      s"maxVersionsPerTrigger must be >= 1, got $m"))
    val maxB = parameters.get("maxbytespertrigger")
      .orElse(parameters.get("maxBytesPerTrigger")).map(_.toLong)
    maxB.foreach(m => require(m >= 1,
      s"maxBytesPerTrigger must be >= 1, got $m"))
    new ManifestStreamSource(spark, root, declared, changeFeed, startV,
      maxV, maxB)
  }

  private def changeFeedOf(parameters: Map[String, String]): Boolean =
    parameters.get("changefeed").orElse(parameters.get("changeFeed"))
      .exists(_.equalsIgnoreCase("true"))
}

/** One manifest commit per micro-batch; replays skip on the batch tag.
  *
  * `autoCompactSegments = N` bounds segment-count growth for a
  * run-forever pipeline: once the table holds ≥ N data segments, the
  * sink folds them with [[ManifestTable.compact]] BEFORE appending the
  * new batch. The ordering is the replay-safety argument: when
  * `addBatch(k)` runs (first delivery OR replay), every batch < k is
  * already durable in the engine's offset log (the engine starts batch
  * k only after committing k−1), so folding their tagged segments can
  * never enable a duplicate re-append — while batch k's OWN segment
  * (whose `mb<k>` tag IS the replay guard, and whose offset may not
  * yet be committed) is only ever folded by a LATER batch's pass,
  * after it became durable. The compact commit is rewrite-marked, so
  * caught-up change-feed consumers walk through it; a lost commit race
  * (concurrent appender) skips the fold silently — the next batch
  * retries the policy. */
private[sources] class ManifestSink(spark: SparkSession, root: String,
    statsCols: Seq[String], bloomCols: Seq[String], partitionBy: Seq[String],
    autoCompactSegments: Option[Int] = None)
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val tag = s"mb$batchId"
    val seen = ManifestTable.exists(spark, root) &&
      ManifestTable.segments(spark, root).exists(_.contains(s"-$tag-"))
    if (seen) return
    autoCompactSegments.foreach { n =>
      if (ManifestTable.exists(spark, root) &&
          ManifestTable.dataSegments(spark, root).size >= n)
        try ManifestTable.compact(spark, root, partitionBy)
        catch { case _: ManifestTable.CommitRaceLost => () }
    }
    // the V1 sink hands a STREAMING-flagged frame (batch writers
    // refuse it) — re-expose the same physical rows as a batch frame,
    // then snapshot once: append evaluates it for the segment write
    // and (when statsCols is set) again for the sidecar aggregate
    val snap = org.apache.spark.sql.GraftColumnBridge.asBatchDataFrame(data)
      .localCheckpoint()
    // empty micro-batches commit NOTHING: beyond being pointless, an
    // empty segment under partitionBy writes zero col=value dirs and
    // would read back as a flat segment in an otherwise-partitioned
    // layout (wedging every subsequent relation build); a replayed
    // empty batch re-skips identically, so exactly-once holds
    // retryRaces: a micro-batch's content comes from the SOURCE's
    // offsets, never from a snapshot of this table, so the append is
    // content-independent and a lost commit race against a concurrent
    // appender retries silently (disjoint serialization); contrast
    // AggView.syncFromLog, which is snapshot-derived and must stay
    // loud single-winner
    try if (!snap.isEmpty)
      ManifestTable.appendReserved(spark, root, snap, partitionBy = partitionBy,
        tag = Some(tag), statsCols = statsCols, bloomCols = bloomCols,
        retryRaces = true)
    finally graft.core.Lineage.release(snap)
  }
}

/** The log's change feed as a V1 streaming Source: offset = manifest
  * version; a batch = the segments committed in `(fromV, toV]`, read
  * through [[ManifestTable.changedSegments]] (O(new data) — rewrites
  * walk through as empty batches; an unmarked drop or an expired
  * window fails loudly, the full-refresh contract). */
private[sources] class ManifestStreamSource(spark: SparkSession,
    root: String, declared: StructType, changeFeed: Boolean, startV: Long,
    maxVersionsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit
  import org.apache.spark.sql.execution.streaming.{Offset => V1Offset}
  import org.apache.spark.sql.execution.streaming.runtime.{LongOffset,
    SerializedOffset}

  override def schema: StructType = declared

  /** Highest offset handed to the engine so far — the rate-limit
    * base. Re-synced on restart by the engine's re-request of the
    * last committed window (getBatch runs before any latestOffset
    * poll), so the cap never regresses below the committed offset. */
  @volatile private var pacedV: Long = startV

  /** Head fence captured when a Trigger.AvailableNow run starts: the
    * run drains up to THIS version (in rate-limited steps) and then
    * terminates, ignoring later commits — the trait contract. Without
    * it Spark wraps a plain V1 source in single-batch fallback, which
    * would silently stop after the FIRST capped batch and leave the
    * rest of a backlog undelivered whenever maxVersionsPerTrigger is
    * set (FileStreamSource implements the same pair for the same
    * reason). */
  @volatile private var availableNowFence: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowFence =
      Some(ManifestTable.versions(spark, root).lastOption.getOrElse(0L))

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger
      .map(m => ReadLimit.maxFiles(math.min(m, Int.MaxValue.toLong).toInt))
      .getOrElse(ReadLimit.allAvailable())

  /** Head manifest version, fenced (AvailableNow) and rate-capped
    * (`maxVersionsPerTrigger` versions past the last delivered
    * offset, so a backlogged restart or a long-log bootstrap drains
    * as bounded micro-batches — FileStreamSource's maxFilesPerTrigger
    * at manifest-commit granularity). One root listing per poll, no
    * data IO; None/null = nothing new past the starting fence. */
  private def cappedHead(): Option[Long] = {
    val live = ManifestTable.versions(spark, root).lastOption.getOrElse(0L)
    val head = availableNowFence.fold(live)(math.min(live, _))
    val base = math.max(pacedV, startV)
    val capped = maxVersionsPerTrigger match {
      case Some(m) => math.min(head, base + m)
      case None => head
    }
    // byte-granular admission: commits vary wildly in size, so a
    // version cap alone can admit an unbounded-bytes batch. Walk the
    // candidate window accumulating each commit's ADDED bytes (from
    // the embedded metadata — no data IO) and stop once the budget is
    // spent; the first commit is always admitted even when oversized,
    // so a drain always progresses (FileStreamSource's at-least-one-
    // file rule, at commit granularity).
    val byteCapped = maxBytesPerTrigger match {
      case Some(maxB) if capped > base =>
        var v = base
        var acc = 0L
        var open = true
        while (open && v < capped) {
          val b = ManifestTable.addedBytesOf(spark, root, v + 1)
          if (v == base || acc + b <= maxB) {
            v += 1; acc += b
            if (acc >= maxB) open = false
          } else open = false
        }
        v
      case _ => capped
    }
    if (byteCapped <= startV) None else Some(byteCapped)
  }

  override def getOffset: Option[V1Offset] = cappedHead().map(LongOffset(_))

  /** Admission-control poll (the engine prefers this over getOffset
    * for sources that implement it): the committed start re-syncs the
    * pacing base across restarts, the returned offset is the fenced,
    * capped head. */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: ReadLimit): org.apache.spark.sql.connector.read.streaming.Offset = {
    start match {
      case o: V1Offset => pacedV = math.max(pacedV, vOf(o))
      case _ => ()
    }
    cappedHead().map(LongOffset(_)).orNull
  }

  override def reportLatestOffset(): org.apache.spark.sql.connector.read.streaming.Offset = {
    val live = ManifestTable.versions(spark, root).lastOption.getOrElse(0L)
    if (live <= startV) null else LongOffset(live)
  }

  private def vOf(o: V1Offset): Long = o match {
    case LongOffset(v) => v
    case SerializedOffset(json) => json.trim.toLong
    case other =>
      throw new IllegalArgumentException(s"unexpected offset shape $other")
  }

  /** Every batch is conformed to the DECLARED schema (stream schemas
    * are fixed at start): pre-evolution segments NULL-fill later
    * columns, tombstone rows NULL-fill non-key columns, and column
    * order is pinned. */
  private def conform(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    df.select(declared.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
  }

  /** Build the batch for `(fromV, toV]`. RECOVERY CONTRACT: on
    * restart the engine re-requests the LAST COMMITTED window (it
    * splices the plan back in without executing it), and by then
    * maintenance may have legally retired that window's segments — so
    * the plan must build from the manifest's embedded metadata alone,
    * never from an eager filesystem listing (the same reason
    * FileStreamSource plans from its own metadata log). Genuinely
    * unexecuted windows re-run against segments a rewrite could not
    * have touched (the change feed's folded-unconsumed guard). */
  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val fromV = start.map(vOf).getOrElse(startV)
    val toV = vOf(end)
    pacedV = math.max(pacedV, toV)
    val (chg, pre) = ManifestTable.changedSegmentsDml(spark, root, fromV, toV)
    val dels = chg.filter(_.startsWith("del-"))
    require(changeFeed || (dels.isEmpty && pre.isEmpty),
      s"window ($fromV, $toV] of $root commits ${dels.size} tombstone " +
        s"segment(s) and ${pre.size} DML pre-image(s); a plain append " +
        "stream cannot represent deletes — restart with " +
        "option(\"changeFeed\", \"true\") (rows gain _change_type) or " +
        "apply deletes upstream via compact()")
    // one batch cannot carry BOTH delete shapes (key-only tombstone
    // rows vs full DML pre-image rows) distinguishably — same loud
    // contract as ManifestTable.readChanges; reachable only by a
    // hand-mixed window (DML itself requires a tombstone-free table)
    require(dels.isEmpty || pre.isEmpty,
      s"window ($fromV, $toV] of $root mixes merge-on-read tombstones " +
        "with row-level DML pre-images — re-pin the stream to split the " +
        "window at the DML version")
    val batch =
      if (chg.isEmpty && pre.isEmpty) // rewrite-only window: nothing new
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], declared)
      else {
        // the change feed's own read of the walked window (pre-image
        // metadata captured just before each drop, strict tombstone
        // union, schema actions as of toV), conformed to the declared
        // stream schema
        val raw = ManifestTable.readChanges(spark, root, fromV, toV, chg, pre,
          verifyDeletes = false, rowId = false)
        conform(if (changeFeed) raw else raw.drop("_change_type"))
      }
    org.apache.spark.sql.GraftColumnBridge.asStreamingDataFrame(batch)
  }

  override def commit(end: V1Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"ManifestStreamSource[$root]"
}

object ManifestSource {

  /** Table argument → log root, shared by every name-or-path surface
    * (batch read/write options, streaming source/sink, the maintenance
    * TVFs): a string containing `/` is a path literal; anything else
    * resolves through the session catalog as a `graft.manifest` table
    * NAME — the name-addressed face `CREATE TABLE` registered. An
    * unknown name or a non-manifest table fails loudly (treating a
    * typo as a fresh path would silently read an empty log); a
    * relative single-word directory is spelled `./name`. */
  private[graft] def resolveTableRoot(spark: SparkSession, s: String): String =
    if (s.contains("/")) s
    else {
      val cat = spark.sessionState.catalog
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(s)
      require(cat.tableExists(ident),
        s"'$s' is neither a path (no '/') nor a catalog table " +
          "(use './name' for a relative directory)")
      val meta = cat.getTableMetadata(ident)
      require(meta.provider.exists(_.equalsIgnoreCase("graft.manifest")),
        s"table '$s' is not a graft.manifest table " +
          s"(provider ${meta.provider.getOrElse("?")})")
      new Path(meta.location).toString
    }

  /** Stream schema = the SQL relation's schema (embedded-metadata
    * resolution, cached) + `_change_type` when the change feed is on.
    * Resolved once at stream definition — the log must already be
    * committed (a log→log pipeline starts from an existing upstream). */
  private[sources] def streamSchema(spark: SparkSession, root: String,
      changeFeed: Boolean): StructType = {
    val rel = relation(spark, root, None, allowTombstones = true)
    // stream consumers see LOGICAL names (the batch frames are
    // mapping-renamed before conform)
    val mapping = ManifestTable.columnMapping(spark, root)
    val base = StructType(
      (rel.dataSchema.fields ++ rel.partitionSchema.fields).map(f =>
        f.copy(name = ManifestTable.logicalNameOf(spark, mapping, f.name))))
    if (changeFeed)
      StructType(base.fields :+
        StructField("_change_type", StringType, nullable = false))
    else base
  }

  /** Segments the most recent listFiles kept after zone-map pruning —
    * a test observation hook (plan-shape specs assert the segment
    * skipping survives the SQL path), not a production surface. */
  @volatile var lastListedSegments: Seq[String] = Nil

  /** Partition dirs the most recent listFiles kept after partition
    * pruning (= segments for flat layouts) — same test-hook role. */
  @volatile var lastListedPartitions: Int = 0

  // ------------------------------------------------------------------
  // Relation-build cost observation hooks (test-only): with manifest-
  // embedded metadata a relation build must do O(1) filesystem work in
  // SEGMENT COUNT — one root listing to resolve the head version plus
  // one manifest read — instead of a listStatus + sidecar open per
  // segment and a footer-merge job over every file. The segment reader
  // (ManifestTable.metaOf / segRelation) counts that fallback work for
  // every reader; each SQL relation build resets the counters first.
  // PlanSpec asserts they stay zero on meta-bearing tables and grow
  // O(n) only on the legacy fallback path.
  // ------------------------------------------------------------------
  @volatile var lastBuildListOps: Int = 0       // per-segment listStatus calls
  @volatile var lastBuildSidecarReads: Int = 0  // _stats.graft.json opens
  @volatile var lastBuildFooterJobs: Int = 0    // schema footer-merge jobs
  @volatile var lastBuildCacheHit: Boolean = false

  /** Snapshot-relation cache: manifests are immutable once committed
    * and every segment name carries a fresh UUID, so the manifest
    * CONTENT fingerprint identifies a snapshot exactly — across
    * appends (new version = new key), across destroy/recreate (same
    * version number, different content), across processes restarts
    * (rebuilt on first use). Bounded LRU; a stale entry whose segments
    * were since vacuumed fails at scan time with the same
    * missing-file error the uncached API read gives for past-retention
    * access. */
  private case class CacheKey(root: String, v: Long, fingerprint: String)
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[CacheKey, HadoopFsRelation](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[CacheKey, HadoopFsRelation]): Boolean = size() > 64
    })

  private[graft] def relation(spark: SparkSession, root: String,
      version: Option[Long], allowTombstones: Boolean): HadoopFsRelation = {
    // head resolution = ONE root listing; pinned versions skip even that
    val v = version.orElse(ManifestTable.versions(spark, root).lastOption)
      .getOrElse(throw new IllegalArgumentException(
        s"no committed manifest under $root"))
    // ONE manifest read: segment list + embedded metadata + fingerprint
    relation(spark, root, v, ManifestTable.manifestSnapshot(spark, root, v),
      allowTombstones)
  }

  /** The relation of manifest `v` from the caller's own read of it,
    * `snap` — a writer that already holds its head snapshot plans on
    * it without reading the manifest again. */
  private[graft] def relation(spark: SparkSession, root: String, v: Long,
      snap: ManifestTable.Snapshot, allowTombstones: Boolean): HadoopFsRelation = {
    lastBuildListOps = 0
    lastBuildSidecarReads = 0
    lastBuildFooterJobs = 0
    lastBuildCacheHit = false
    val all = snap.segs
    require(all.nonEmpty, s"no committed manifest under $root at version $v")
    val dels = all.filter(_.startsWith("del-"))
    if (dels.nonEmpty && !allowTombstones)
      throw new IllegalStateException(
        s"$root has ${dels.size} outstanding tombstone segment(s); a SQL " +
          "file scan cannot apply merge-on-read deletes. compact() the " +
          "table, read through ManifestTable.readMerged, or set " +
          "option(\"allowTombstones\", \"true\") to knowingly scan raw " +
          "data segments.")
    val key = CacheKey(root, v, snap.fingerprint)
    val rel = cache.get(key) match {
      case c if c != null =>
        lastBuildCacheHit = true
        c
      case _ =>
        val c = ManifestTable.segRelation(spark, root,
          all.filterNot(_.startsWith("del-")), snap.metas, v)
        cache.put(key, c)
        c
    }
    // DROPped columns are a schema projection: the relation never
    // advertises them, so the parquet scan never requests them (the
    // physical bytes stay until a rewrite repackages the rows)
    val eq = spark.sessionState.conf.resolver
    rel.copy(dataSchema = StructType(
      rel.dataSchema.filterNot(f => snap.actions._1.exists(d => eq(d, f.name)))))(spark)
  }
}

/** Committed-segment file index with TWO pruning layers above
  * parquet's own: zone-map + Bloom segment skipping on pushed data
  * filters (conjunct ranges, equalities, and IN/OR-of-equality value
  * sets), and hive-style partition-dir pruning on pushed partition
  * filters (`a=v/b=w` layouts of any depth, the shapes [[ManifestTable
  * .append]]'s `partitionBy` writes). Every file group, zone map and
  * Bloom column comes from `metas` — one [[ManifestTable.SegMeta]] per
  * segment, resolved by [[ManifestTable.readSegs]] — so the index makes
  * no filesystem call of its own except opening a Bloom sidecar a
  * query probes. Partition columns take their type from `typeHint`
  * (the segments' merged schema) when it has them. */
private[graft] class ManifestFileIndex(spark: SparkSession, root: String,
    segs: Seq[String], metas: Map[String, graft.io.ManifestTable.SegMeta],
    typeHint: Option[StructType], atVersion: Long)
    extends FileIndex {

  /** The metadata of every segment the index lists — what a DML
    * rewrite of its segments carries forward. */
  private[graft] def segMetas: Map[String, graft.io.ManifestTable.SegMeta] = metas

  /** The manifest root this index lists — the handle [[graft.plans
    * .ResolveManifestDml]] routes SQL DELETE/UPDATE/MERGE through. */
  private[graft] def tableRoot: String = root

  /** Manifest version the index was pinned at (-1 = a segment-subset
    * index with no version identity, e.g. a streaming batch). The DML
    * commands carry it as their optimistic-concurrency expectation. */
  private[graft] def pinnedVersion: Long = atVersion

  private val rootPath = new Path(root)
  private val fs =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Synthetic FileStatus from the metadata — length is what scan
    * planning consumes (split sizing); mtime/blocksize are unused by
    * the parquet read path. */
  private def metaStatus(seg: String, rel: String, len: Long): FileStatus =
    new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L,
      fs.makeQualified(new Path(rootPath, s"$seg/$rel")))

  /** One file group per (segment, partition-value vector):
    * (segment, partition column names, raw values, files). Only the
    * files the commit named are listed, so junk later dropped into a
    * segment dir is invisible. Partition names must agree across every
    * group (checked below). */
  private val entries: Seq[(String, Seq[String], Seq[String], Array[FileStatus])] =
    segs.flatMap { s =>
      metas(s).files.groupBy(f => partOf(f._1)).toSeq
        .sortBy(_._1.map(_._2).mkString("/"))
        .map { case (pvs, fl) =>
          (s, pvs.map(_._1), pvs.map(_._2),
            fl.map { case (rel, len) => metaStatus(s, rel, len) }.toArray)
        }
    }

  /** `a=1/b=2/part-x.parquet` → Seq(("a","1"),("b","2")), values
    * unescaped the way hive partition dir names are escaped. */
  private def partOf(rel: String): Seq[(String, String)] =
    rel.split("/").dropRight(1).toSeq.map { d =>
      val Array(c, v) = d.split("=", 2)
      (c, ExternalCatalogUtils.unescapePathName(v))
    }

  /** The one partition layout every group must share (Nil = flat).
    * File-less groups (empty partitioned segments) carry no layout
    * evidence and are exempt. */
  private val partCols: Seq[String] = {
    val layouts = entries.filter(_._4.nonEmpty).map(e => (e._1, e._2))
    ManifestTable.requireOneLayout(root, layouts)
    layouts.headOption.fold(Seq.empty[String])(_._2)
  }

  /** Partition value types: the merged segment schema's type when it
    * has the column, else the smallest of Int/Long that fits every dir
    * value, else String — what hive-style discovery infers for the
    * layouts our writers produce. */
  override val partitionSchema: StructType = StructType(
    partCols.zipWithIndex.map { case (c, i) =>
      val vals = entries.filter(_._2.nonEmpty).map(_._3(i))
        .filterNot(_ == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      val dt = typeHint.flatMap(_.find(_.name == c)).map(_.dataType).getOrElse {
        if (vals.forall(v => scala.util.Try(v.toInt).isSuccess)) IntegerType
        else if (vals.forall(v => scala.util.Try(v.toLong).isSuccess)) LongType
        else StringType
      }
      StructField(c, dt, nullable = true)
    })

  private val zone = Option(spark.sessionState.conf.sessionLocalTimeZone)

  private def partRow(raw: Seq[String]): InternalRow =
    if (raw.isEmpty) InternalRow.empty
    else InternalRow.fromSeq(raw.zip(partitionSchema.fields).map { case (v, f) =>
      if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else Cast(Literal(UTF8String.fromString(v)), f.dataType, zone).eval()
    })

  // Bloom sidecars load lazily (a probe-free query never opens them)
  // and memoize per (segment, column) for the relation's lifetime
  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Option[org.apache.spark.util.sketch.BloomFilter]]
  private def bloomOf(seg: String, colName: String) =
    bloomCache.computeIfAbsent((seg, colName), _ =>
      ManifestTable.bloomOf(spark, root, seg, metas(seg), colName))

  override def rootPaths: Seq[Path] = segs.map(s => new Path(rootPath, s))

  override def sizeInBytes: Long =
    entries.iterator.flatMap(_._4).map(_.getLen).sum

  override def inputFiles: Array[String] =
    entries.flatMap(_._4.map(_.getPath.toString)).toArray

  override def refresh(): Unit = () // snapshot-pinned by design

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val bounds = dataFilters.flatMap(ManifestFileIndex.rangeBounds)
    val keySets = dataFilters.flatMap(ManifestFileIndex.keySetProbes)
    // layer 1: zone maps (ranges) + Bloom sidecars + value-set probes
    // (IN-lists / OR-of-equality — an `id IN (k1,k2,k3)` point lookup
    // opens only the union of per-key admitting segments) drop whole
    // segments
    val keep = entries.filter { case (s, _, _, _) =>
      bounds.forall { case (c, lo, hi) =>
        ManifestTable.statsAdmit(metas(s).stats, c, lo, hi)
      } && keySets.forall { case (c, values) =>
        values.exists { case (b, pv) =>
          b.forall(x =>
            ManifestTable.statsAdmit(metas(s).stats, c, Some(x), Some(x))) &&
          pv.forall(x => ManifestTable.bloomAdmit(bloomOf(s, c), x))
        }
      }
    }
    // layer 2: partition filters drop col=value dirs inside survivors
    val pred = partitionFilters.reduceOption(And).map { e =>
      val bound = e.transformUp {
        case a: Attribute =>
          org.apache.spark.sql.catalyst.expressions.BoundReference(
            partitionSchema.fieldIndex(a.name),
            partitionSchema(partitionSchema.fieldIndex(a.name)).dataType,
            nullable = false)
      }
      val p = org.apache.spark.sql.catalyst.expressions.Predicate.create(bound)
      p.initialize(0)
      p
    }
    val kept = keep
      .map { case (s, _, raw, files) => (s, partRow(raw), files) }
      .filter { case (_, row, _) => pred.forall(_.eval(row)) }
    ManifestSource.lastListedSegments = kept.map(_._1).distinct
    ManifestSource.lastListedPartitions = kept.size
    kept.map { case (_, row, files) => PartitionDirectory(row, files) }
  }
}

private[sources] object ManifestFileIndex {

  /** Extract `(column, lo, hi)` zone-map probes from one pushed
    * predicate. Only shapes whose truth REQUIRES the column inside
    * the range contribute (conjuncts of =, <, <=, >, >= against
    * literals); anything else — IS NULL, functions, non-literal
    * comparands — contributes nothing and the segment is read
    * (conservative, same contract as a parquet row-group filter;
    * IN-lists and OR-of-equalities ride [[keySetProbes]]).
    * `>`/`<` relax to their inclusive forms: zone maps are
    * segment-granular, so inclusivity only costs a false keep, never
    * a wrong prune. */
  private[sources] def rangeBounds(
      e: Expression): Seq[(String, Option[Any], Option[Any])] = e match {
    case And(l, r) => rangeBounds(l) ++ rangeBounds(r)
    case EqualTo(a: Attribute, Literal(v, dt)) =>
      bound(a, v, dt).map(b => (a.name, Some(b), Some(b))).toSeq
    case EqualTo(Literal(v, dt), a: Attribute) =>
      bound(a, v, dt).map(b => (a.name, Some(b), Some(b))).toSeq
    case GreaterThan(a: Attribute, Literal(v, dt)) =>
      bound(a, v, dt).map(b => (a.name, Some(b), None)).toSeq
    case GreaterThanOrEqual(a: Attribute, Literal(v, dt)) =>
      bound(a, v, dt).map(b => (a.name, Some(b), None)).toSeq
    case LessThan(a: Attribute, Literal(v, dt)) =>
      bound(a, v, dt).map(b => (a.name, None, Some(b))).toSeq
    case LessThanOrEqual(a: Attribute, Literal(v, dt)) =>
      bound(a, v, dt).map(b => (a.name, None, Some(b))).toSeq
    case GreaterThan(Literal(v, dt), a: Attribute) =>
      bound(a, v, dt).map(b => (a.name, None, Some(b))).toSeq
    case GreaterThanOrEqual(Literal(v, dt), a: Attribute) =>
      bound(a, v, dt).map(b => (a.name, None, Some(b))).toSeq
    case LessThan(Literal(v, dt), a: Attribute) =>
      bound(a, v, dt).map(b => (a.name, Some(b), None)).toSeq
    case LessThanOrEqual(Literal(v, dt), a: Attribute) =>
      bound(a, v, dt).map(b => (a.name, Some(b), None)).toSeq
    case _ => Nil
  }

  /** Extract value-SET probes from one pushed predicate: a conjunct
    * whose truth requires `column IN {v1..vn}` — a bare equality, an
    * `IN` list (or its optimized `InSet` form), or an OR-tree of
    * equalities/INs over ONE attribute. A segment is admitted when ANY
    * value passes BOTH its zone map (point range) and its Bloom
    * sidecar, so `id IN (k1,k2,k3)` opens the union of per-key holders
    * instead of the whole log. Each value carries its external
    * zone-map key and its Bloom probe shape (either may be absent for
    * un-probeable types); a value representable as neither makes the
    * whole probe vacuous (conservative). NULL values never satisfy an
    * equality/IN and are dropped. Mixed-attribute ORs contribute
    * nothing. */
  private[sources] def keySetProbes(
      e: Expression): Seq[(String, Seq[(Option[Any], Option[Any])])] = e match {
    case And(l, r) => keySetProbes(l) ++ keySetProbes(r)
    case other =>
      disjunctValues(other) match {
        case Some((c, vs)) if vs.nonEmpty =>
          val converted = vs.map { case (v, dt) =>
            (boundFor(v, dt), probeVal(v, dt))
          }
          if (converted.exists(p => p._1.isEmpty && p._2.isEmpty)) Nil
          else Seq((c, converted))
        case _ => Nil
      }
  }

  /** `(attribute, values)` when `e` is a disjunction of equalities /
    * IN-lists over exactly one attribute; None otherwise. */
  private def disjunctValues(
      e: Expression): Option[(String, Seq[(Any, DataType)])] = e match {
    case Or(l, r) =>
      for {
        (cl, vl) <- disjunctValues(l)
        (cr, vr) <- disjunctValues(r)
        if cl == cr
      } yield (cl, vl ++ vr)
    case EqualTo(a: Attribute, Literal(v, dt)) if v != null =>
      Some((a.name, Seq((v, dt))))
    case EqualTo(Literal(v, dt), a: Attribute) if v != null =>
      Some((a.name, Seq((v, dt))))
    case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
      Some((a.name, list.collect {
        case Literal(v, dt) if v != null => (v, dt)
      }))
    case InSet(a: Attribute, set) =>
      Some((a.name, set.toSeq.filter(_ != null).map(v => (v, a.dataType))))
    case _ => None
  }

  private def probeVal(v: Any, dt: DataType): Option[Any] =
    if (v == null) None
    else dt match {
      case StringType => Some(v.asInstanceOf[UTF8String].toString)
      case ByteType | ShortType | IntegerType | LongType => Some(v)
      case _ => None
    }

  private def bound(a: Attribute, v: Any, dt: DataType): Option[Any] =
    boundFor(v, dt)

  /** Catalyst internal literal → the external value shape
    * [[ManifestTable.statsAdmit]]'s bound keys understand. Unmappable
    * values (NaN/Inf, exotic types, NULL literals) → None = no probe
    * for this predicate (conservative). */
  private def boundFor(v: Any, dt: DataType): Option[Any] =
    if (v == null) None
    else scala.util.Try[Any] {
      dt match {
        case StringType => v.asInstanceOf[UTF8String].toString
        case TimestampType =>
          val us = v.asInstanceOf[Long]
          java.time.Instant.ofEpochSecond(
            Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
        case DateType => java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong)
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | _: DecimalType =>
          BigDecimal(v.toString) // throws on NaN/Inf -> conservative None
        case _ => return None
      }
    }.toOption
}

/** INSERT-INTO face of the log ([[graft.plans.ResolveManifestRelation]]
  * resolves `INSERT INTO \`graft.manifest\`.\`root\`` onto this), so
  * Spark's stock V1 insert path does the column-count check and type
  * coercion while the write itself is the log's ATOMIC commit verb:
  * append → one [[ManifestTable.append]]ed segment; INSERT OVERWRITE →
  * [[ManifestTable.replace]] (history retained per the table's
  * retention horizon). Never a raw parquet write into the root. Flat
  * segments only, like the DataFrameWriter path: inserting into a
  * hive-partitioned table is rejected at resolution (a flat segment
  * would wedge the layout contract) — partitioned ingest rides
  * `ManifestTable.append(partitionBy=…)`. */
private[graft] class ManifestInsertableRelation(
    spark: SparkSession, root: String,
    declaredSchema: Option[StructType] = None) extends BaseRelation
    with org.apache.spark.sql.sources.InsertableRelation {

  override def sqlContext: SQLContext = spark.sqlContext

  override val schema: StructType =
    if (!ManifestTable.exists(spark, root))
      // a catalog-named table whose root has no commits yet: the first
      // INSERT creates manifest v1, typed by the DDL-declared columns
      declaredSchema.getOrElse(throw new IllegalArgumentException(
        s"no committed manifest under $root"))
    else {
      val rel = ManifestSource.relation(spark, root, None, allowTombstones = true)
      require(rel.partitionSchema.isEmpty,
        s"INSERT INTO a hive-partitioned manifest table ($root is " +
          s"partitioned on ${rel.partitionSchema.fieldNames.mkString("/")}) " +
          "is not supported through SQL — a flat segment would break the " +
          "layout contract; use ManifestTable.append(partitionBy=…)")
      // inserts are coerced against the LOGICAL surface; the append
      // commit translates back to physical names on write
      val mapping = ManifestTable.columnMapping(spark, root)
      StructType(rel.dataSchema.fields.map(f =>
        f.copy(name = ManifestTable.logicalNameOf(spark, mapping, f.name))))
    }

  override def insert(data: DataFrame, overwrite: Boolean): Unit =
    if (overwrite) ManifestTable.replace(spark, root, data)
    else ManifestTable.append(spark, root, data)
}
