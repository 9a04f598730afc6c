package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{ManifestDml, ManifestTable}

/** `lakehouse_mix`: one closed-loop caller running a seeded operation
  * schedule against one manifest table root.
  *
  * The schedule (one JSON object per line) has three phases: `seed`
  * writes run during set-up and build the version history, `warm` ops
  * run during set-up and are checked but not timed, `run` ops make the
  * timed region. A time-travel scan names the write it reads after
  * (`at`, a write ordinal); the version that write committed is looked
  * up here, so the checker never depends on how many versions the
  * engine's maintenance adds. */
final class Lake(a: Args) extends Workload {
  private val ops: IndexedSeq[Map[String, Any]] = {
    val lines = Files.readAllLines(Paths.get(a.inputs, "lake", "schedule.jsonl")).asScala
    lines.filter(_.nonEmpty).map { l =>
      org.json4s.jackson.JsonMethods.parse(l).values.asInstanceOf[Map[String, Any]]
    }.toIndexedSeq
  }
  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("cat", StringType), StructField("v", LongType), StructField("ts", LongType)))
  private val smallBytes = 64L * 1024
  private var root: String = _
  private var exec: graft.core.Exec = _
  private val versionOf = mutable.HashMap.empty[Long, Long]
  private var warm = Seq.empty[Map[String, Any]]
  private val etl = new Etl(a.inputs)
  private var etlWarm = Map.empty[String, Any]

  private def phase(p: String) = ops.filter(_("ph") == p)
  private val commits = ops.count(op => op.contains("w") || op("op") == "optimize")
  private def num(x: Any): Long = x.asInstanceOf[BigInt].toLong

  def setup(spark: SparkSession, repDir: String): Unit = {
    // a file: URI, not a bare path: with a bare path mergeInto attributes
    // matched rows to the wrong segment and refuses to commit
    root = new File(repDir, "lake/events_log").toURI.toString.stripSuffix("/")
    exec = new graft.core.Exec(spark)
    versionOf.clear()
    etlWarm = etl.setup(spark, repDir)
    // The one departure from the table defaults: time travel reaches back
    // to the first write, so rewrites must keep every version's segments.
    // The horizon is the schedule's commit count (writes and optimizes);
    // the default of 1 would collect history on every optimize.
    ManifestTable.setRetainVersions(spark, root, commits)
    val off = new Tracer(false)
    phase("seed").foreach { op =>
      val (_, r) = apply(spark, off, op)
      r.left.foreach(e => throw e)
    }
    warm = phase("warm").map(op => record(op, apply(spark, off, op)))
  }

  def run(spark: SparkSession, tracer: Tracer): Map[String, Any] = {
    val recs = mutable.ArrayBuffer.empty[Map[String, Any]]
    var timedMs = 0.0
    val wall0 = System.nanoTime()
    val it = phase("run").iterator
    while (it.hasNext && (System.nanoTime() - wall0) / 1e9 < a.seconds * 3 + 30) {
      val op = it.next()
      tracer.nextOp()
      val res = apply(spark, tracer, op)
      timedMs += res._1
      val extra =
        if (tracer.on && op("op") == "point" && res._2.isRight) {
          val key = num(op("id"))
          Map("segs_opened" -> ManifestTable.pointSegments(spark, root, "id", key).size,
            "segs_data" -> ManifestTable.dataSegments(spark, root).size)
        } else Map.empty
      recs += record(op, res) ++ extra
    }
    Map("warm" -> warm, "etl_warm" -> etlWarm, "ops" -> recs.toSeq,
      "timed_s" -> timedMs / 1000)
  }

  def finish(spark: SparkSession): Map[String, Any] = {
    val r = try {
      val s = ManifestTable.read(spark, root).agg(count(lit(1)), sum("id"), sum("v"),
        sum("ts"), sum(length(col("cat")))).head()
      Map("ok" -> true, "rows" -> s.getLong(0), "sum_id" -> s.get(1), "sum_v" -> s.get(2),
        "sum_ts" -> s.get(3), "cat_chars" -> s.get(4),
        "segments" -> ManifestTable.dataSegments(spark, root).size)
    } catch { case e: Throwable => Map("ok" -> false, "err" -> Main.errText(e)) }
    // the head snapshot's segments: the bytes a reader of the live table
    // opens, independent of how much history retention keeps
    val live = try ManifestTable.segmentSizes(spark, root).map(_._2).sum
      catch { case _: Throwable => 0L }
    Map("final" -> r, "stored_bytes" -> live, "stored_rows" -> r.getOrElse("rows", 0L))
  }

  private def record(op: Map[String, Any], res: (Double, Either[Throwable, Any])): Map[String, Any] = {
    val base = Map[String, Any]("i" -> num(op("i")), "op" -> op("op"), "ms" -> res._1)
    res._2 match {
      case Left(e) => base ++ Map("ok" -> false, "err" -> Main.errText(e))
      case Right(v) => base ++ Map("ok" -> true, "r" -> v)
    }
  }

  private def frame(spark: SparkSession, rows: Any): DataFrame = {
    val rs = rows.asInstanceOf[List[List[Any]]].map { r =>
      Row(num(r(0)), r(1).asInstanceOf[String], num(r(2)), num(r(3)))
    }
    spark.createDataFrame(rs.asJava, schema)
  }

  /** Runs one op; the timing covers the calls into the program only. An
    * `etl` op times itself and checks its output after its clock stops. */
  private def apply(spark: SparkSession, tracer: Tracer,
      op: Map[String, Any]): (Double, Either[Throwable, Any]) = {
    val kind = op("op").toString
    if (kind == "etl") {
      val rec = etl.cycle(spark, tracer, op("file").toString)
      return (rec("ms").asInstanceOf[Double], Right(rec))
    }
    val res = Main.timed(tracer.span(s"lake.$kind", spark = false)(kind match {
      case "point" =>
        val df = tracer.span("io.ManifestTable.readPoint") {
          ManifestTable.readPoint(spark, root, "id", num(op("id")))
        }
        val rows = tracer.span("sql.Dataset.collect")(df.collect())
        rows.toSeq.map(r => Seq(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
          .sortBy(_.head.asInstanceOf[Long])
      case "scan" =>
        val at = op.get("at").collect { case w: BigInt =>
          "@v" + versionOf.getOrElse(w.toLong,
            throw new IllegalStateException(s"no version recorded for write $w"))
        }.getOrElse("")
        tracer.span("core.Exec.execute") {
          exec.execute(s"SELECT count(*) AS n, sum(v) AS s FROM `graft.manifest`.`$root$at` " +
            s"WHERE id BETWEEN ${num(op("lo"))} AND ${num(op("hi"))}")
        }
        val row = tracer.span("core.Exec.toDict")(exec.toDict().toList).head
        Map("n" -> row("n"), "s" -> row("s"),
          "cache_hit" -> graft.sources.ManifestSource.lastBuildCacheHit,
          "list_ops" -> graft.sources.ManifestSource.lastBuildListOps)
      case "append" =>
        val df = frame(spark, op("rows"))
        tracer.span("io.ManifestTable.append") {
          ManifestTable.append(spark, root, df, statsCols = Seq("id", "ts"),
            bloomCols = Seq("id"))
        }
        Map.empty[String, Any]
      case "merge" =>
        val src = frame(spark, op("rows"))
        val r = tracer.span("io.ManifestDml.mergeInto") {
          ManifestDml.mergeInto(spark, root, src, col("__t.id") === col("__s.id"),
            matched = Seq(ManifestDml.MergeUpdate(None, Seq("cat" -> col("__s.cat"),
              "v" -> col("__s.v"), "ts" -> col("__s.ts")))),
            notMatched = Seq(ManifestDml.MergeInsert(None, Seq("id" -> col("__s.id"),
              "cat" -> col("__s.cat"), "v" -> col("__s.v"), "ts" -> col("__s.ts")))),
            notMatchedBySource = Nil)
        }
        Map("matched" -> r.rowsMatched)
      case "optimize" =>
        tracer.span("io.ManifestTable.optimize")(ManifestTable.optimize(spark, root, smallBytes))
        Map.empty[String, Any]
      case other => throw new IllegalArgumentException(s"unknown op $other")
    }))
    op.get("w").foreach { w =>
      if (res._2.isRight) versionOf(num(w)) = ManifestTable.versions(spark, root).last
    }
    res
  }
}
