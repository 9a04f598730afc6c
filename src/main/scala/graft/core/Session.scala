package graft.core

import org.apache.spark.sql.SparkSession

/** Engine session management.
  *
  * The reference manages a DB-API connection + cursor with a context
  * manager (reference: locopy/database.py:91-129, 272-283). Here the
  * "warehouse" is Spark itself, so the session IS the connection. The
  * builder defaults are chosen for a local run (all cores, single JVM)
  * but every setting is cluster-valid: AQE on, shuffle
  * partitions sized to cores (not the 200 default), UTC timezone for
  * oracle parity.
  *
  * 100 TB posture: on a real cluster the only things to change are
  * `master` and `spark.sql.shuffle.partitions` (sized to 2-3x total
  * cores); AQE re-coalesces and handles skew at runtime either way.
  */
object Session {

  /** Cores of a local session: `SPARK_GRAFT_CPUS` when set, else every
    * core the JVM sees. The one place the engine reads that variable. */
  val localCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A per-process `spark.sql.warehouse.dir` entry for `extraConf`: a
    * main that writes fixtures or managed tables must never share those
    * roots with a concurrently-running Bench/Verify on the same host
    * (the r15 bench artifact lost the fixture-writing query family to
    * exactly such a collision). */
  def processWarehouse(tag: String): (String, String) =
    "spark.sql.warehouse.dir" -> java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_wh_${tag}_${ProcessHandle.current().pid()}").toString

  /** Streaming-checkpoint IO settings for LOCAL (`file://`) checkpoint
    * dirs — applied by [[build]], so every session (bench, verify,
    * tests, tools) carries them.
    *
    * Why (round-18 measurement): Spark 4.1's default checkpoint writer
    * is `ChecksumCheckpointFileManager` over the FileContext API.
    * FileContext's create path passes an explicit permission down to
    * `RawLocalFileSystem`, and with no Hadoop native IO in the
    * environment that calls `setPermission` → `Shell.execCommand` —
    * a `chmod` PROCESS FORKED PER CHECKPOINT FILE. A stateful query at
    * 32 shuffle partitions writes 32+ state/offset/commit files per
    * micro-batch, each paying a fork from a multi-GB JVM (thread dumps
    * during the bench showed 19 concurrent `forkAndExec` calls inside
    * 128 `ChecksumCheckpointFileManager` pool threads, and the forks
    * get slower as the heap RSS grows — the dominant cause of the
    * in-suite inflation of every streaming query, e.g.
    * stream_dedup_multibatch 51.7 s in-suite vs 4.2 s isolated).
    *
    * The `FileSystem`-based manager creates files through the plain
    * FileSystem API (no explicit-permission create → no fork), exactly
    * what Spark itself falls back to on stores without FileContext
    * rename. The checksum sidecar wrapper (new in 4.1, on by default)
    * doubles the created-file count to guard against storage bitrot —
    * redundant for single-host local disk, so it is off here. Real
    * HDFS/S3 deployments keep both defaults: these two confs are
    * env-overridable (`SPARK_GRAFT_CKPT_FM`, `SPARK_GRAFT_CKPT_CHECKSUM`)
    * and scoped to the local session factory, not baked into any
    * operator. */
  private val localCheckpointIoConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.checkpointFileManagerClass" ->
      sys.env.getOrElse("SPARK_GRAFT_CKPT_FM",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager"),
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" ->
      sys.env.getOrElse("SPARK_GRAFT_CKPT_CHECKSUM", "false"))

  /** The one session factory: every main, harness and test session is
    * built here, so they all share the settings below and differ only in
    * `master`, `shufflePartitions` and `extraConf`. */
  def build(
      master: String = s"local[$localCores]",
      appName: String = "graft",
      shufflePartitions: Int = 32,
      extraConf: Map[String, String] = Map.empty
  ): SparkSession = {
    try {
      val b = SparkSession
        .builder()
        .master(master)
        .appName(appName)
        // the engine's SQL surface carries its extensions: custom
        // Catalyst functions (vec_dot, sorted_intersect_count,
        // topk_by_score) and the `graft.manifest`.`root[@vN]` pure-SQL
        // manifest relation — execute() users get both, matching the
        // reference's everything-through-SQL posture
        .withExtensions(new graft.plans.GraftExtensions)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        // permissive-cast parity with the reference's DATEFORMAT 'auto' /
        // lax COPY semantics (unparseable → NULL, not error)
        .config("spark.sql.ansi.enabled", "false")
        // parquet TIMESTAMP(NANOS) (unsupported natively) reads as long
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        // vectorized parquet + codegen are defaults; pin them so a
        // misconfigured environment can't silently degrade the engine
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.codegen.wholeStage", "true")
      localCheckpointIoConfs.foreach { case (k, v) => b.config(k, v) }
      extraConf.foreach { case (k, v) => b.config(k, v) }
      val spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark
    } catch {
      case e: Throwable => throw new SessionError("failed to build SparkSession", e)
    }
  }

  /** Build a session from a flat connection-config YAML (the
    * reference's `config_yaml=` path, locopy/database.py:96-101 +
    * utility.py:228-266). Recognized keys:
    *
    *   - `master`, `app_name`, `shuffle_partitions` — Spark analogs of
    *     the connection endpoint,
    *   - `warehouse` / `database` / `schema` — applied connect-time via
    *     [[useContext]] (Snowflake parity, locopy/snowflake.py:194-211),
    *   - any `spark.*` key — passed through as Spark conf,
    *   - credential keys the Spark analog has no use for (host, port,
    *     dbname, user, password, profile, account) — accepted and
    *     ignored, so reference `.locopyrc` files work unchanged.
    */
  def buildFromYaml(configYaml: String): SparkSession = {
    val cfg = Config.readConfigYaml(configYaml)
    def str(k: String): Option[String] = cfg.get(k).collect { case v if v != null => v.toString }
    val spark = build(
      master = str("master").getOrElse(s"local[$localCores]"),
      appName = str("app_name").getOrElse("graft"),
      shufflePartitions = str("shuffle_partitions").map(_.toInt).getOrElse(32),
      extraConf = cfg.collect { case (k, v) if k.startsWith("spark.") && v != null => k -> v.toString })
    // `database`/`schema` double as plain connection credentials in
    // Redshift-style .locopyrc files (no catalog namespace to USE), so
    // apply the context only for namespaces that exist — a reference
    // config must work unchanged, not throw
    def existing(k: String): Option[String] =
      str(k).filter(spark.catalog.databaseExists).orElse {
        str(k).foreach(db => org.slf4j.LoggerFactory.getLogger(getClass)
          .info(s"config key $k='$db' is not a catalog namespace — treated as a connection credential and ignored"))
        None
      }
    useContext(spark, str("warehouse"), existing("database"), existing("schema"))
    spark
  }

  /** Connect-time context parity with `Snowflake.connect`'s
    * `USE WAREHOUSE / USE DATABASE / USE SCHEMA` trio
    * (locopy/snowflake.py:194-211):
    *
    *   - warehouse: a Snowflake warehouse is the compute cluster; in
    *     Spark the session's cluster IS the warehouse, so this logs and
    *     is otherwise a no-op,
    *   - database / schema: Spark's catalog has one namespace level, so
    *     both map to `setCurrentDatabase` (applied in reference order —
    *     schema, the narrower scope, wins when both are given). Raises
    *     [[ExecError]] if the namespace does not exist, like USE.
    */
  def useContext(
      spark: SparkSession,
      warehouse: Option[String] = None,
      database: Option[String] = None,
      schema: Option[String] = None
  ): Unit = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    warehouse.foreach(w =>
      log.info(s"USE WAREHOUSE $w: no-op — the Spark cluster is the warehouse"))
    for (db <- Seq(database, schema).flatten)
      try spark.catalog.setCurrentDatabase(db)
      catch {
        case e: Throwable => throw new ExecError(s"cannot USE $db: ${e.getMessage}", e)
      }
  }

  /** Loan pattern: run `f` with a session, always stop it after.
    * Parity with the reference's `with Database(...) as db:` context
    * manager (reference: locopy/database.py:259-283). */
  def withSession[A](appName: String = "graft")(f: SparkSession => A): A = {
    val spark = build(appName = appName)
    try f(spark)
    finally spark.stop()
  }
}
