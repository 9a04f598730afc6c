package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The lakehouse maintenance verbs as SQL table functions, so the ops
  * surface is reachable from `execute` like everything else (the
  * reference's interface is SQL passthrough end to end —
  * `locopy/database.py:131-190`; real lakehouses ship these as
  * CALL/VACUUM statements):
  *
  * {{{
  *   SELECT * FROM graft_manifest_compact('/wh/events__log')
  *   SELECT * FROM graft_manifest_optimize('/wh/events__log', 1048576)
  *   SELECT * FROM graft_manifest_vacuum('/wh/events__log', 3)
  *   SELECT * FROM graft_manifest_expire('/wh/events__log', 3)
  *   SELECT * FROM graft_manifest_set_retain('/wh/events__log', 5)
  *   SELECT * FROM graft_neardup_pack('/wh/ndx')
  *   SELECT * FROM graft_ann_optimize('/wh/annx', 1048576)
  * }}}
  *
  * Each verb is a [[LeafRunnableCommand]]: the action runs exactly
  * once per query EXECUTION (planning and EXPLAIN never trigger it)
  * and returns one row — (action, n, detail) — so the caller sees what
  * the maintenance pass actually did. Arguments must be literals (the
  * command is built at resolution time; a computed table root inside a
  * maintenance verb is an operator error, not a use case). */
case class GraftMaintenanceCommand(verb: String, root: String,
    arg: Option[Long], cols: Seq[String] = Nil) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("action", StringType, nullable = false)(),
    AttributeReference("n", LongType, nullable = false)(),
    AttributeReference("detail", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    import graft.io.ManifestTable
    verb match {
      case "compact" =>
        val before = ManifestTable.segments(session, root).size
        ManifestTable.compact(session, root)
        Seq(Row("compact", before.toLong,
          s"folded $before segment(s) to 1; tombstones applied physically"))
      case "optimize" =>
        val folded = ManifestTable.optimize(session, root, arg.get)
        Seq(Row("optimize", folded.toLong,
          s"bin-packed $folded segment(s) under ${arg.get} bytes"))
      case "vacuum" =>
        val (expired, removed) = ManifestTable.vacuum(session, root, arg.get.toInt)
        Seq(Row("vacuum", removed.size.toLong,
          s"expired ${expired.size} manifest version(s); " +
            s"removed ${removed.size} dir(s)"))
      case "expire" =>
        val expired = ManifestTable.expireVersions(session, root, arg.get.toInt)
        Seq(Row("expire", expired.size.toLong,
          s"expired manifest version(s): ${expired.mkString(",")}"))
      case "set_retain" =>
        ManifestTable.setRetainVersions(session, root, arg.get.toInt)
        Seq(Row("set_retain", arg.get,
          s"rewrites now keep segments of the newest ${arg.get} version(s)"))
      case "neardup_pack" =>
        val folded = graft.streaming.NearDupIndex.pack(session, root)
        Seq(Row("neardup_pack", folded.toLong,
          s"rewrote $folded near-dup index segment(s) as one"))
      case "ann_optimize" =>
        val folded = graft.streaming.AnnIndex.optimize(session, root, arg.get)
        Seq(Row("ann_optimize", folded.toLong,
          s"bin-packed $folded index segment(s) under ${arg.get} bytes"))
      case "cluster" =>
        ManifestTable.cluster(session, root, cols.head, arg.get.toInt)
        Seq(Row("cluster", arg.get,
          s"re-clustered into ${arg.get} range-disjoint segment(s) " +
            s"ordered by ${cols.head}; zone maps regenerated"))
      case "cluster_z" =>
        ManifestTable.clusterZ(session, root, cols.head, cols(1), arg.get.toInt)
        Seq(Row("cluster_z", arg.get,
          s"z-order re-clustered on (${cols.head}, ${cols(1)}) into " +
            s"${arg.get} segment(s); zone maps cover both columns"))
      case other =>
        throw new IllegalStateException(s"unknown maintenance verb $other")
    }
  }
}

/** `SELECT * FROM graft_manifest_history('/wh/t__log')` — the log's
  * commit audit (DESCRIBE HISTORY): one row per surviving manifest
  * version with its commit time, kind (append/delete/rewrite/dml/
  * replace) and segment-list movement. Pure driver metadata, no data
  * IO. */
case class GraftHistoryCommand(root: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("commit_time",
      org.apache.spark.sql.types.TimestampType, nullable = false)(),
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("segments", IntegerType, nullable = false)(),
    AttributeReference("added", IntegerType, nullable = false)(),
    AttributeReference("dropped", IntegerType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] =
    graft.io.ManifestTable.history(session, root).map { c =>
      Row(c.version, java.sql.Timestamp.from(
        java.time.Instant.ofEpochMilli(c.timeMs)),
        c.kind, c.segments, c.added, c.dropped)
    }
}

object GraftMaintenance {

  private def str(e: Expression, fn: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$fn: table root must be a string literal, got $other")
  }

  /** TVF table argument → log root. A string with a `/` is a path
    * literal (the historical form); anything else resolves through the
    * session catalog as a `graft.manifest` table NAME — the
    * name-addressed face CREATE TABLE registered, so maintenance/
    * history/changes calls read like every other catalog statement.
    * An unknown name or a non-manifest table fails loudly (falling
    * back to treat-as-path would mistype a typo as an empty log). */
  private def resolveRoot(e: Expression, fn: String): String =
    try graft.sources.ManifestSource
      .resolveTableRoot(SparkSession.active, str(e, fn))
    catch {
      case ex: IllegalArgumentException =>
        throw new IllegalArgumentException(s"$fn: ${ex.getMessage}", ex)
    }

  private def lng(e: Expression, fn: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument must be an integer literal, got $other")
  }

  private def fn1(name: String, verb: String, usage: String)
      : (String, String, Seq[Expression] => LogicalPlan) =
    (name, usage, args => {
      require(args.length == 1, s"$name(root) takes 1 argument, got ${args.length}")
      GraftMaintenanceCommand(verb, resolveRoot(args.head, name), None)
    })

  private def fn2(name: String, verb: String, usage: String)
      : (String, String, Seq[Expression] => LogicalPlan) =
    (name, usage, args => {
      require(args.length == 2, s"$name(root, n) takes 2 arguments, got ${args.length}")
      GraftMaintenanceCommand(verb, resolveRoot(args.head, name), Some(lng(args(1), name)))
    })

  /** (function name, usage, plan builder) for every maintenance TVF. */
  val all: Seq[(String, String, Seq[Expression] => LogicalPlan)] = Seq(
    fn1("graft_manifest_compact", "compact",
      "graft_manifest_compact(root) - fold all segments to one, applying tombstones physically"),
    fn2("graft_manifest_optimize", "optimize",
      "graft_manifest_optimize(root, smallBytes) - bin-pack data segments smaller than smallBytes"),
    fn2("graft_manifest_vacuum", "vacuum",
      "graft_manifest_vacuum(root, keepLast) - expire manifests past keepLast and delete the dirs only they named"),
    fn2("graft_manifest_expire", "expire",
      "graft_manifest_expire(root, keepLast) - log-side trim: delete manifests past the newest keepLast versions"),
    fn2("graft_manifest_set_retain", "set_retain",
      "graft_manifest_set_retain(root, n) - rewrites keep segments named by the newest n versions"),
    fn1("graft_neardup_pack", "neardup_pack",
      "graft_neardup_pack(root) - rewrite the near-dup band index's segments as one"),
    fn2("graft_ann_optimize", "ann_optimize",
      "graft_ann_optimize(root, smallBytes) - bin-pack small ANN index segments"),
    ("graft_manifest_history",
      "graft_manifest_history(root) - commit audit: one row per version " +
        "(commit_time, kind, segments, added, dropped)",
      args => {
        require(args.length == 1,
          s"graft_manifest_history(root) takes 1 argument, got ${args.length}")
        GraftHistoryCommand(resolveRoot(args.head, "graft_manifest_history"))
      }),
    ("graft_manifest_changes",
      "graft_manifest_changes(root, fromV, toV[, rowId]) - change-data-" +
        "feed rows of the window (fromV, toV]: table columns plus " +
        "_change_type (insert/delete; apply a window's deletes before " +
        "its inserts); rowId=true adds the _row_id surrogate so DML " +
        "deletes apply by row identity",
      args => {
        require(args.length == 3 || args.length == 4,
          s"graft_manifest_changes(root, fromV, toV[, rowId]) takes 3 " +
            s"or 4 arguments, got ${args.length}")
        val root = resolveRoot(args.head, "graft_manifest_changes")
        val fromV = lng(args(1), "graft_manifest_changes")
        val toV = lng(args(2), "graft_manifest_changes")
        val rowId = args.length == 4 && (args(3) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(b: Boolean,
            org.apache.spark.sql.types.BooleanType) => b
          case other => throw new IllegalArgumentException(
            s"graft_manifest_changes: rowId must be a boolean literal, got $other")
        })
        // unlike the audit verbs this returns DATA-sized output, so the
        // builder hands back the DISTRIBUTED readChanges plan itself
        // (no driver materialization); resolution-time session access
        // is the TVF contract (builders run inside the analyzer)
        graft.io.ManifestTable
          .readChanges(SparkSession.active, root, fromV, toV, rowId = rowId)
          .queryExecution.analyzed
      }),
    ("graft_manifest_cluster",
      "graft_manifest_cluster(root, byCol, nSegments) - full sort-based " +
        "re-cluster into range-disjoint segments (tombstones applied)",
      args => {
        require(args.length == 3,
          s"graft_manifest_cluster(root, byCol, nSegments) takes 3 arguments, got ${args.length}")
        GraftMaintenanceCommand("cluster", resolveRoot(args.head, "graft_manifest_cluster"),
          Some(lng(args(2), "graft_manifest_cluster")),
          Seq(str(args(1), "graft_manifest_cluster")))
      }),
    ("graft_manifest_cluster_z",
      "graft_manifest_cluster_z(root, colA, colB, nSegments) - z-order " +
        "re-cluster so zone maps prune ranges on EITHER column",
      args => {
        require(args.length == 4,
          s"graft_manifest_cluster_z(root, colA, colB, nSegments) takes 4 arguments, got ${args.length}")
        GraftMaintenanceCommand("cluster_z", resolveRoot(args.head, "graft_manifest_cluster_z"),
          Some(lng(args(3), "graft_manifest_cluster_z")),
          Seq(str(args(1), "graft_manifest_cluster_z"),
            str(args(2), "graft_manifest_cluster_z")))
      }))
}
