package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, functions => F}
import org.apache.spark.sql.types.{StringType, StructType}
import graft.schema.{Flavor, Infer, Snowflake}

/** LOAD operator: file(s) → engine table.
  *
  * The reference's `load_and_copy` pipeline is: [dir-glob or round-robin
  * split] → [gzip] → S3 upload → warehouse `COPY` via key prefix
  * (reference: locopy/redshift.py:235-347) and Snowflake's
  * `PUT → COPY INTO` (locopy/snowflake.py:213-337). On Spark the whole
  * pipeline is ONE declarative read→write: the scan parallelizes over
  * files/blocks natively (the reason the reference splits files at all —
  * docs/source/recipes.rst:42-63 — is subsumed by FileSourceScanExec
  * bin-packing), codecs are transparent, and `COPY` is `saveAsTable` /
  * `insertInto`.
  *
  * 100 TB posture: no driver-side file IO at all — paths go straight to
  * the distributed scan; `splits` maps to `repartition(n)` ONLY when the
  * caller asks (a shuffle is not free); schema inference is a single
  * aggregate pass (see [[graft.schema.Infer]]).
  */
object Load {

  /** Read a file/dir/glob into a DataFrame with reference-style options.
    *
    * @param fileType    csv | json | parquet (reference formats,
    *                    locopy/snowflake.py:39-91)
    * @param options     reference-vocabulary format options (validated;
    *                    unknown keys raise OptionError)
    * @param header      csv header line present (IGNOREHEADER 1 /
    *                    SKIP_HEADER 1)
    * @param schema      explicit schema wins over inference
    *                    (locopy/redshift.py:582-586)
    * @param infer       when no explicit schema: infer via the §1.2
    *                    lattice (all-values, deterministic)
    * @param truncateColumns width map for TRUNCATECOLUMNS parity
    *                    (substring-to-width, locopy/redshift.py:68-70)
    */
  def read(
      spark: SparkSession,
      path: String,
      fileType: String = "csv",
      options: Map[String, String] = Map.empty,
      header: Boolean = false,
      schema: Option[StructType] = None,
      infer: Boolean = true,
      flavor: Flavor = Snowflake,
      truncateColumns: Map[String, Int] = Map.empty
  ): DataFrame = {
    val fmt = Options.formatOf(fileType)
    val sparkOpts = Options.withDefaults(fmt, Options.translateRead(fmt, options))
    val reader = spark.read.format(fmt.spark).options(sparkOpts)
    val base = fmt match {
      case Options.Csv =>
        // a SKIP_HEADER/skip_header format option (translated to the
        // Spark header option) wins over the `header` flag default.
        // DOCUMENTED DIVERGENCE: Snowflake's SKIP_HEADER merely
        // discards the first line and keeps positional column names
        // ($1, $2, …), while Spark's header=true promotes that line to
        // column NAMES. With an explicit `schema` the names come from
        // the schema and the behaviors coincide; without one, inferred
        // column names differ from the reference on headerless-
        // semantics loads. skip_header > 1 raises (Options.scala) —
        // intentional, Spark CSV cannot skip arbitrary leading lines.
        val r = reader.option("header",
          sparkOpts.getOrElse("header", header.toString))
        schema match {
          case Some(s) => r.schema(s).load(path)
          case None =>
            val raw = r.load(path) // all strings
            if (infer) Infer.applySchema(raw, Infer.inferSchema(raw, flavor))
            else raw
        }
      case _ =>
        schema.fold(reader.load(path))(s => reader.schema(s).load(path))
    }
    if (truncateColumns.isEmpty) base
    else
      base.select(base.columns.toIndexedSeq.map { c =>
        truncateColumns.get(c) match {
          case Some(w) if base.schema(c).dataType == StringType =>
            F.substring(F.col(c), 1, w).as(c)
          case _ => F.col(c)
        }
      }: _*)
  }

  /** Full load_and_copy parity: read `path`, optionally repartition
    * (the reference's `splits` — its parallel-load knob,
    * locopy/redshift.py:291-294), write into `table`.
    *
    * `splits <= 0` keeps the scan's natural partitioning (preferred: no
    * shuffle). Round-robin `repartition(n)` mirrors the reference's
    * round-robin line split (locopy/utility.py:123-189).
    *
    * `distKey` is the Redshift `CREATE TABLE … DISTKEY(col)` posture
    * (the reference's integration DDL,
    * tests/test_integration.py:103,133): rows with equal key values
    * are co-located so repeated joins/aggregations on that key skip
    * the shuffle. Spark's equivalent is a bucketed+sorted table —
    * `bucketBy(buckets, key).sortBy(key)` — which pins a
    * HashPartitioning on disk; a subsequent self-join or join between
    * two tables bucketed the same way plans with ZERO Exchange
    * (PlanSpec-asserted). This is the SURVEY §7.3 posture for 100 TB
    * corpora that are re-joined on the same key every round (dedup
    * ids, user ids). */
  /** Drift policy for [[loadAndCopy]] appends into an existing table —
    * the engine surface for the reference's implicit contract that
    * COPY fails on a schema mismatch (locopy/redshift.py:224-229):
    *
    *  - [[DriftAllow]]  — no gate (legacy behavior; the write itself
    *    still fails on incompatible shapes, as the warehouse would).
    *  - [[DriftReject]] — any drift (added / removed / type-changed
    *    column, per [[graft.ext.Profile.schemaDiff]]) raises
    *    [[graft.core.SchemaDriftError]] BEFORE anything is written.
    *  - [[DriftEvolve]] — additive-safe evolution: columns missing
    *    from the incoming data are filled with typed NULLs; columns
    *    new in the incoming data trigger a one-time rewrite of the
    *    existing table through union-by-name (the expensive path — a
    *    table-sized write, flagged for callers to schedule). A
    *    type-changed column is never additive-safe and still raises. */
  sealed trait DriftPolicy
  case object DriftAllow extends DriftPolicy
  case object DriftReject extends DriftPolicy
  case object DriftEvolve extends DriftPolicy

  def loadAndCopy(
      spark: SparkSession,
      path: String,
      table: String,
      fileType: String = "csv",
      options: Map[String, String] = Map.empty,
      header: Boolean = false,
      schema: Option[StructType] = None,
      splits: Int = 0,
      mode: SaveMode = SaveMode.Append,
      flavor: Flavor = Snowflake,
      distKey: Option[String] = None,
      buckets: Int = 8,
      onDrift: DriftPolicy = DriftAllow
  ): DataFrame = {
    val df0 = read(spark, path, fileType, options, header, schema, infer = true, flavor)
    val df1 = if (splits > 0) df0.repartition(splits) else df0
    if (mode == SaveMode.Overwrite) dropManaged(spark, table)
    val df = applyDriftGate(spark, table, df1, mode, onDrift, distKey, buckets)
    // appends into an existing bucketed table must match its layout:
    // inherit the catalog bucket spec when the caller didn't specify
    // one (Spark refuses a mismatched-bucketing append outright)
    val (dk, nb) =
      if (mode == SaveMode.Append && distKey.isEmpty &&
        spark.catalog.tableExists(table)) catalogBucketSpec(spark, table, buckets)
      else (distKey, buckets)
    writeTable(df, table, mode, dk, nb)
    spark.table(table)
  }

  /** (bucket column, bucket count) of an existing catalog table,
    * falling back to (None, `default`) for unbucketed tables. */
  private def catalogBucketSpec(spark: SparkSession, table: String,
      default: Int): (Option[String], Int) = {
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec
    (spec.flatMap(_.bucketColumnNames.headOption),
      spec.map(_.numBuckets).getOrElse(default))
  }

  /** The pre-write schema gate (see [[DriftPolicy]]): analysis-only
    * unless evolution has to rewrite for incoming-new columns. */
  private def applyDriftGate(
      spark: SparkSession,
      table: String,
      incoming: DataFrame,
      mode: SaveMode,
      policy: DriftPolicy,
      distKey: Option[String],
      buckets: Int
  ): DataFrame = {
    if (policy == DriftAllow || mode != SaveMode.Append) return incoming
    // crash-window recovery of the evolve stage below: a previous
    // evolve that died between drop and rename leaves the only copy
    // in the stage table — promote it before deciding the table is new
    val evolveStage = table + "__evolve_stage"
    if (!spark.catalog.tableExists(table) &&
        spark.catalog.tableExists(evolveStage))
      spark.sql(s"ALTER TABLE $evolveStage RENAME TO $table")
    if (!spark.catalog.tableExists(table)) return incoming
    val existing = spark.table(table)
    val diff = graft.ext.Profile.schemaDiff(existing, incoming).collect()
    if (diff.isEmpty) return incoming
    def render = diff.map(r =>
        s"${r.getString(0)}: ${r.getString(3)} (${r.getString(1)} -> ${r.getString(2)})")
      .mkString("; ")
    policy match {
      case DriftReject =>
        throw new graft.core.SchemaDriftError(
          s"schema drift loading into '$table': $render")
      case DriftEvolve =>
        if (diff.exists(_.getString(3) == "type_changed"))
          throw new graft.core.SchemaDriftError(
            s"type change is not additive-safe evolving '$table': $render")
        val added = diff.filter(_.getString(3) == "added").map(_.getString(0))
        if (added.nonEmpty) {
          // incoming grew columns: one-time rewrite of the existing
          // table via union-by-name. Staged through a DURABLE stage
          // table (`<table>__evolve_stage`) — the live table is
          // only dropped once the widened copy is fully on disk, so a
          // crash mid-rewrite never loses history (a localCheckpoint
          // stage would hold the only copy in non-durable block
          // storage across the drop).
          val widened = existing.unionByName(
            incoming.limit(0), allowMissingColumns = true)
          // preserve the existing table's bucketing unless the caller
          // explicitly re-specified a layout: silently rewriting a
          // DISTKEY-parity bucketed table as unbucketed would drop the
          // shuffle-free-join property without any error
          val (dk, nb) = distKey match {
            case some @ Some(_) => (some, buckets)
            case None           => catalogBucketSpec(spark, table, buckets)
          }
          dropManaged(spark, evolveStage)
          writeTable(widened, evolveStage, SaveMode.Overwrite, dk, nb)
          dropManaged(spark, table)
          spark.sql(s"ALTER TABLE $evolveStage RENAME TO $table")
        }
        // fill columns the incoming data is missing with typed NULLs,
        // and align column order to the (possibly widened) table
        val target = spark.table(table).schema
        incoming.select(target.fields.toIndexedSeq.map { f =>
          if (incoming.columns.contains(f.name)) F.col(f.name)
          else F.lit(null).cast(f.dataType).as(f.name)
        }: _*)
      case DriftAllow => incoming
    }
  }

  /** Shared table writer: plain `saveAsTable`, or bucketed+sorted when
    * a DISTKEY-style key is given (see [[loadAndCopy]]). */
  private[io] def writeTable(df: DataFrame, table: String, mode: SaveMode,
      distKey: Option[String], buckets: Int): Unit = distKey match {
    case Some(k) =>
      require(buckets > 0, s"buckets must be positive, got $buckets")
      require(df.columns.contains(k), s"distKey column '$k' not in dataframe")
      df.write.mode(mode).bucketBy(buckets, k).sortBy(k).saveAsTable(table)
    case None =>
      df.write.mode(mode).saveAsTable(table)
  }

  /** Drop a managed table AND its warehouse location — a location can
    * survive from a previous session without a catalog entry (the
    * in-memory catalog dies with the JVM, the directory does not),
    * which otherwise fails saveAsTable with LOCATION_ALREADY_EXISTS. */
  def dropManaged(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
  }
}
