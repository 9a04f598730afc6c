package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{SortedIntersectCount, TopKByScore, VecDotProduct}

/** Engine extensions: registers the custom Catalyst expressions as SQL
  * functions so `spark.sql` users reach them too. Every session built by
  * [[graft.core.Session.build]] carries them:
  *
  *   val spark = graft.core.Session.build()
  *   spark.sql("SELECT vec_dot(a, b), sorted_intersect_count(x, y) ...")
  *
  * (The reference has no user-extension surface at all — SURVEY §2.3
  * UDF row; this is engine-native extensibility via the public
  * SparkSessionExtensions API.)
  *
  * Also registers the lakehouse SQL face: the `graft.manifest` table
  * syntax (head / `@vN` / standard `VERSION AS OF` / `TIMESTAMP AS
  * OF`), `INSERT INTO` routed onto the log's commit verbs, and the
  * maintenance verbs as table functions (`graft_manifest_vacuum` etc.)
  * — everything-through-SQL, matching the reference's posture
  * (`locopy/database.py:131-190`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // full 11-arg constructor (the 5-arg shorthand is deprecated):
  // (className, db, name, usage, arguments, examples, note, group,
  // since, deprecated, source)
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions", null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("sorted_intersect_count"),
      info("sorted_intersect_count",
        "sorted_intersect_count(a, b) - count of common elements of two sorted, deduped array<bigint>"),
      (args: Seq[Expression]) => SortedIntersectCount(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two array<double>"),
      (args: Seq[Expression]) => VecDotProduct(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("topk_by_score"),
      info("topk_by_score",
        "topk_by_score(score, id, k) - aggregate: top k (score, id) pairs per group, best first"),
      (args: Seq[Expression]) => GraftExtensions.buildTopK(args)))
    // HINT-batch placement, not the resolution batch: Spark's own
    // ResolveSQLOnFile recognizes the registered source name and
    // throws UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY for any
    // non-FileFormat source before a same-batch custom rule can win —
    // the hint batch runs earlier, so the relation resolves first
    e.injectHintResolutionRule(session => new ResolveManifestRelation(session))
    // row-level DML (DELETE/UPDATE/MERGE) over the resolved manifest
    // relation: converts in the resolution fixed point, BEFORE Spark's
    // own only-v2-tables rejection (which lives in the planner)
    e.injectResolutionRule(session => new ResolveManifestDml(session))
    // maintenance verbs as table functions: SELECT * FROM
    // graft_manifest_vacuum('/path', 3) — each returns a
    // LeafRunnableCommand, so the action runs exactly once per query
    // EXECUTION (planning/EXPLAIN never trigger it)
    GraftMaintenance.all.foreach { case (name, usage, builder) =>
      e.injectTableFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
  }
}

/** Analyzer rule resolving the pure-SQL manifest table syntax
  * (extension-registered sessions only — plain sessions use
  * `spark.read.format("graft.manifest")` + a temp view):
  *
  * {{{
  *   SELECT … FROM `graft.manifest`.`/wh/events__log`                -- head
  *   SELECT … FROM `graft.manifest`.`/wh/events__log@v3`             -- time travel (sugar)
  *   SELECT … FROM `graft.manifest`.`/wh/events__log` VERSION AS OF 3
  *   SELECT … FROM `graft.manifest`.`/wh/events__log`
  *     TIMESTAMP AS OF '2026-08-15 12:00:00'                         -- commit-time travel
  *   INSERT INTO `graft.manifest`.`/wh/events__log` SELECT …         -- append commit
  *   INSERT OVERWRITE `graft.manifest`.`/wh/events__log` SELECT …    -- replace commit
  * }}}
  *
  * Spark's own direct-query-on-files path only admits FileFormat
  * sources, so a manifest-resolving relation needs this rule — the
  * same extension-rule route the public lakehouse formats take. The
  * resolved relation is [[graft.sources.ManifestSource.relation]]
  * verbatim: committed-segment listing, snapshot pinning, zone-map +
  * Bloom + partition pruning all identical to the reader-API path.
  * INSERT resolves the target to an InsertableRelation wrapping the
  * log's append/replace commit verbs, so Spark's stock V1 insert path
  * (InsertIntoDataSourceCommand) does the column coercion and the
  * manifest does the atomic publish — never a raw parquet write into
  * the table root. */
class ResolveManifestRelation(spark: org.apache.spark.sql.SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
  import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, LogicalPlan}
  import org.apache.spark.sql.execution.datasources.LogicalRelation

  private def isManifest(u: UnresolvedRelation): Boolean =
    u.multipartIdentifier.length == 2 &&
      u.multipartIdentifier.head.equalsIgnoreCase("graft.manifest")

  /** Catalog-NAME resolution: `nameParts` names a session-catalog
    * table whose provider is `graft.manifest` → its metadata. This is
    * what makes `CREATE TABLE t USING graft.manifest LOCATION root`
    * first-class — every later statement (`SELECT`/`INSERT`/`DELETE`/
    * `UPDATE`/`MERGE`/`VERSION AS OF`) addresses the log by NAME, the
    * reference's whole API posture (`locopy/redshift.py:193-233`:
    * every verb takes `table_name`). Resolving here (hint batch, before
    * Spark's own `FindDataSourceTable`) matters twice over: (a) Spark's
    * table-relation cache would pin the FIRST snapshot and serve it
    * stale across later commits, while the manifest relation cache is
    * fingerprint-keyed (fresh content = fresh plan, LRU-cached); (b)
    * Spark's V1 `INSERT` path on a HadoopFsRelation writes raw parquet
    * files straight into `rootPaths.head` — INSIDE an existing segment
    * dir, corrupting it — instead of an atomic manifest commit.
    * Temp views keep their normal precedence (a shadowing view wins);
    * non-manifest tables and missing names fall through untouched. */
  private def namedManifest(nameParts: Seq[String])
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] = {
    val cat = spark.sessionState.catalog
    if (cat.isTempView(nameParts)) return None
    val id = nameParts match {
      case Seq(t) => Some(org.apache.spark.sql.catalyst.TableIdentifier(t))
      case Seq(db, t) =>
        Some(org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db)))
      case Seq(c, db, t) if c.equalsIgnoreCase("spark_catalog") =>
        Some(org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db)))
      case _ => None
    }
    id.filter(i => scala.util.Try(cat.tableExists(i)).getOrElse(false))
      .map(cat.getTableMetadata)
      .filter(_.provider.exists(_.equalsIgnoreCase("graft.manifest")))
  }

  /** A named manifest table resolves to the same snapshot relation as
    * the path form; a created-but-never-committed table reads as EMPTY
    * with its DDL-declared schema (standard fresh-table semantics). */
  private def resolvedNamed(
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable,
      version: Option[Long]): LogicalPlan = {
    val root = meta.location.toString
    if (graft.io.ManifestTable.exists(spark, root)) resolved(root, version)
    else {
      require(version.isEmpty,
        s"table ${meta.identifier} has no committed manifest version yet")
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
          meta.schema))
    }
  }

  /** The SQL face of column mapping: the HadoopFsRelation scans
    * PHYSICAL column names (so parquet pushdown, zone-map pruning and
    * the embedded per-segment schemas stay homogeneous — every segment
    * agrees on physical names by the write-side translation), and a
    * plain alias Project on top surfaces the LOGICAL names. Catalyst
    * rewrites pushed predicates through the aliases, so `WHERE
    * logical = k` reaches the scan as a physical-name filter and every
    * pruning layer fires unchanged. Tables with no mapping resolve to
    * the bare relation exactly as before. */
  private def resolved(root: String, version: Option[Long]): LogicalPlan = {
    val v = version.orElse(
      graft.io.ManifestTable.versions(spark, root).lastOption).getOrElse(
      throw new IllegalArgumentException(s"no committed manifest under $root"))
    val snap = graft.io.ManifestTable.manifestSnapshot(spark, root, v)
    val lr = LogicalRelation(
      graft.sources.ManifestSource.relation(spark, root, v, snap,
        allowTombstones = false),
      isStreaming = false)
    val mapping = snap.actions._2
    if (mapping.isEmpty) lr
    else {
      val eq = spark.sessionState.conf.resolver
      val projectList = lr.output.map { a =>
        mapping.collectFirst { case (p, l) if eq(p, a.name) => l } match {
          case Some(l) =>
            org.apache.spark.sql.catalyst.expressions.Alias(a, l)()
          case None => a
        }
      }
      org.apache.spark.sql.catalyst.plans.logical.Project(projectList, lr)
    }
  }

  /** `@vN` path-suffix sugar: only time-travels when the LITERAL path
    * is not itself a committed table — a table legitimately rooted at
    * `…/events@v2` must resolve to that table's head, never silently
    * to version 2 of a different table sharing the prefix. */
  private def parseSpec(spec: String): (String, Option[Long]) =
    spec.lastIndexOf("@v") match {
      case i if i > 0 && spec.drop(i + 2).nonEmpty &&
          spec.drop(i + 2).forall(_.isDigit) &&
          !graft.io.ManifestTable.exists(spark, spec) =>
        (spec.take(i), Some(spec.drop(i + 2).toLong))
      case _ => (spec, None)
    }

  /** TIMESTAMP AS OF → the newest manifest version whose commit
    * (manifest file) time is at or before the cutoff — O(versions)
    * driver metadata, no data IO. */
  private def versionAsOfTime(root: String, cutoffMs: Long): Long = {
    val vs = graft.io.ManifestTable.versionsWithTimes(spark, root)
    vs.filter(_._2 <= cutoffMs).map(_._1).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no manifest version of $root committed at or before " +
          s"${java.time.Instant.ofEpochMilli(cutoffMs)} (earliest commit: " +
          vs.headOption.map(v => java.time.Instant.ofEpochMilli(v._2).toString)
            .getOrElse("none") + ")"))
  }

  private def evalCutoffMs(e: org.apache.spark.sql.catalyst.expressions.Expression): Long = {
    val cast = org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.TimestampType,
      Some(spark.sessionState.conf.sessionLocalTimeZone))
    require(cast.foldable,
      s"TIMESTAMP AS OF needs a literal timestamp, got $e")
    val micros = cast.eval(null)
    require(micros != null, s"TIMESTAMP AS OF evaluated to NULL: $e")
    micros.asInstanceOf[Long] / 1000L
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    // standard SQL time travel: VERSION AS OF n / TIMESTAMP AS OF ts
    case RelationTimeTravel(u: UnresolvedRelation, ts, ver)
        if isManifest(u) || namedManifest(u.multipartIdentifier).isDefined =>
      val byName = namedManifest(u.multipartIdentifier)
      val spec = byName.map(_.location.toString)
        .getOrElse(u.multipartIdentifier(1))
      val v = (ver, ts) match {
        case (Some(vs), None) =>
          require(vs.forall(_.isDigit),
            s"VERSION AS OF on graft.manifest takes a numeric manifest version, got '$vs'")
          vs.toLong
        case (None, Some(expr)) =>
          versionAsOfTime(spec, evalCutoffMs(expr))
        case _ => throw new IllegalArgumentException(
          "time travel needs exactly one of VERSION AS OF / TIMESTAMP AS OF")
      }
      byName.fold(resolved(spec, Some(v)))(m => resolvedNamed(m, Some(v)))
    // INSERT INTO / INSERT OVERWRITE → the log's commit verbs
    case i: InsertIntoStatement =>
      i.table match {
        case u: UnresolvedRelation if isManifest(u) =>
          require(i.partitionSpec.isEmpty,
            "INSERT INTO graft.manifest does not take a PARTITION spec; " +
              "hive-layout segments ride ManifestTable.append(partitionBy=…)")
          val (root, version) = parseSpec(u.multipartIdentifier(1))
          require(version.isEmpty,
            s"cannot INSERT into a pinned version of $root — inserts " +
              "commit a new version at the head")
          i.copy(table = LogicalRelation(
            new graft.sources.ManifestInsertableRelation(spark, root),
            isStreaming = false))
        case u: UnresolvedRelation =>
          namedManifest(u.multipartIdentifier).fold(i: LogicalPlan) { m =>
            require(i.partitionSpec.isEmpty,
              s"INSERT INTO manifest table ${m.identifier} does not take " +
                "a PARTITION spec; hive-layout segments ride " +
                "ManifestTable.append(partitionBy=…)")
            i.copy(table = LogicalRelation(
              new graft.sources.ManifestInsertableRelation(spark,
                m.location.toString, Some(m.schema)),
              isStreaming = false))
          }
        case _ => i
      }
    case u: UnresolvedRelation if isManifest(u) =>
      val (root, version) = parseSpec(u.multipartIdentifier(1))
      resolved(root, version)
    // DML targets carry Spark's internal __required_write_privileges__
    // option; only USER-supplied options opt a relation out of named
    // resolution (there is no option surface on the name form anyway)
    case u: UnresolvedRelation
        if !u.isStreaming &&
          u.options.keySet.asScala.forall(_.startsWith("__")) =>
      namedManifest(u.multipartIdentifier)
        .fold(u: LogicalPlan)(resolvedNamed(_, None))
    // ALTER TABLE … ADD COLUMN(S) → one additive-evolution log commit
    // (ManifestTable.addColumns); Spark's own v1 path would reject the
    // provider and its v2 path needs a catalog plugin, so the DDL verb
    // resolves here like every other manifest statement. Intercepted
    // in the hint batch (before ResolveTables), so the UnresolvedTable
    // child is still ours to claim.
    case a: org.apache.spark.sql.catalyst.plans.logical.AddColumns =>
      a.table match {
        case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
            if t.multipartIdentifier.length == 2 &&
              t.multipartIdentifier.head.equalsIgnoreCase("graft.manifest") =>
          val (root, version) = parseSpec(t.multipartIdentifier(1))
          require(version.isEmpty,
            s"cannot ALTER a pinned version of $root — DDL commits a new " +
              "version at the head")
          ManifestAlterAddColumnsCommand(root,
            ManifestAlterAddColumnsCommand.colSpecs(a.columnsToAdd), None)
        case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
          namedManifest(t.multipartIdentifier).fold(a: LogicalPlan) { m =>
            ManifestAlterAddColumnsCommand(m.location.toString,
              ManifestAlterAddColumnsCommand.colSpecs(a.columnsToAdd),
              Some(m.identifier))
          }
        case _ => a
      }
    // ALTER TABLE … DROP COLUMN(S) → one schema-projection commit
    // (ManifestTable.dropColumns: a #dropcol line, zero data IO)
    case d: org.apache.spark.sql.catalyst.plans.logical.DropColumns =>
      d.table match {
        case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
            if t.multipartIdentifier.length == 2 &&
              t.multipartIdentifier.head.equalsIgnoreCase("graft.manifest") =>
          val (root, version) = parseSpec(t.multipartIdentifier(1))
          require(version.isEmpty,
            s"cannot ALTER a pinned version of $root — DDL commits a new " +
              "version at the head")
          ManifestAlterDropColumnsCommand(root,
            ManifestAlterDropColumnsCommand.colNames(d.columnsToDrop),
            d.ifExists, None)
        case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
          namedManifest(t.multipartIdentifier).fold(d: LogicalPlan) { m =>
            ManifestAlterDropColumnsCommand(m.location.toString,
              ManifestAlterDropColumnsCommand.colNames(d.columnsToDrop),
              d.ifExists, Some(m.identifier))
          }
        case _ => d
      }
    // ALTER TABLE … RENAME COLUMN old TO new → one column-mapping
    // commit (ManifestTable.renameColumn: physical name constant,
    // `#colmap` line, zero data IO)
    case rc: org.apache.spark.sql.catalyst.plans.logical.RenameColumn =>
      def oldNameOf: String = {
        require(rc.column.name.length == 1,
          "ALTER TABLE on a manifest table renames TOP-LEVEL columns " +
            s"only, got nested field ${rc.column.name.mkString(".")}")
        rc.column.name.head
      }
      rc.table match {
        case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
            if t.multipartIdentifier.length == 2 &&
              t.multipartIdentifier.head.equalsIgnoreCase("graft.manifest") =>
          val (root, version) = parseSpec(t.multipartIdentifier(1))
          require(version.isEmpty,
            s"cannot ALTER a pinned version of $root — DDL commits a new " +
              "version at the head")
          ManifestAlterRenameColumnCommand(root, oldNameOf, rc.newName, None)
        case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
          namedManifest(t.multipartIdentifier).fold(rc: LogicalPlan) { m =>
            ManifestAlterRenameColumnCommand(m.location.toString,
              oldNameOf, rc.newName, Some(m.identifier))
          }
        case _ => rc
      }
    // ALTER TABLE … ALTER COLUMN c TYPE t → one safe-widening marker
    // commit (ManifestTable.alterColumnType: scan-time upcast of old
    // segments, zero data IO)
    case ac: org.apache.spark.sql.catalyst.plans.logical.AlterColumns =>
      ac.table match {
        case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
            if t.multipartIdentifier.length == 2 &&
              t.multipartIdentifier.head.equalsIgnoreCase("graft.manifest") =>
          val (root, version) = parseSpec(t.multipartIdentifier(1))
          require(version.isEmpty,
            s"cannot ALTER a pinned version of $root — DDL commits a new " +
              "version at the head")
          val specs = ManifestAlterColumnTypeCommand.colSpecs(ac.specs)
          require(specs.length == 1,
            "ALTER COLUMN on a manifest table takes one column per statement")
          ManifestAlterColumnTypeCommand(root, specs.head._1, specs.head._2,
            None)
        case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
          namedManifest(t.multipartIdentifier).fold(ac: LogicalPlan) { m =>
            val specs = ManifestAlterColumnTypeCommand.colSpecs(ac.specs)
            require(specs.length == 1,
              "ALTER COLUMN on a manifest table takes one column per statement")
            ManifestAlterColumnTypeCommand(m.location.toString,
              specs.head._1, specs.head._2, Some(m.identifier))
          }
        case _ => ac
      }
  }
}

object GraftExtensions {

  /** SQL builder for the [[TopKByScore]] aggregate: `k` must be an
    * integral literal (the heap is sized at plan time). The score is
    * cast to double exactly like the Column API (`fx.topKByScore`)
    * does, so SQL and Column callers accept the same inputs. The
    * analyzer wraps returned AggregateFunctions in an
    * AggregateExpression itself. */
  private[plans] def buildTopK(args: Seq[Expression]): Expression = {
    require(args.length == 3, s"topk_by_score expects (score, id, k), got ${args.length} args")
    val k = args(2) match {
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
      case Literal(v: Long, org.apache.spark.sql.types.LongType) => v.toInt
      case other => throw new IllegalArgumentException(
        s"topk_by_score: k must be an integer literal, got $other")
    }
    TopKByScore(
      org.apache.spark.sql.catalyst.expressions.Cast(
        args(0), org.apache.spark.sql.types.DoubleType),
      args(1), k)
  }

  /** Register the same functions on an already-built session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_intersect_count", args => SortedIntersectCount(args(0), args(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", args => VecDotProduct(args(0), args(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "topk_by_score", buildTopK, "built-in")
  }
}
