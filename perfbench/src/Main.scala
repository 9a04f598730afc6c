package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Settings `run.py` passes to one benchmark process. */
final case class Args(workload: String, inputs: String, runDir: String,
    seconds: Double, trace: Boolean, reps: Int, cores: Int, out: String)

/** One run of one workload: several timed set-ups, then one timed region.
  *
  * Every set-up builds a fresh session through `core.Session.build` with
  * a fresh warehouse under `runDir`, so set-up time can be reported as a
  * median; the timed region runs on the last of them. The result, with
  * every raw sample, is written as JSON to `Args.out` for `run.py` to
  * check and summarise. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.toList match {
      case List(w, in, run, secs, tr, reps, cores, out) =>
        Args(w, in, run, secs.toDouble, tr == "1", reps.toInt, cores.toInt, out)
      case _ =>
        System.err.println("usage: Main <workload> <inputs> <runDir> <seconds> " +
          "<trace 0|1> <setup reps> <cores> <out.json>")
        sys.exit(2)
    }
    val workload: Workload = a.workload match {
      case "lakehouse_mix" => new Lake(a)
      case "neardup_stream" => new NearDup(a)
      case other =>
        System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val tracer = new Tracer(a.trace)
    var spark: SparkSession = null
    val setups = (1 to a.reps).map { rep =>
      if (spark != null) spark.stop()
      val wh = new File(a.runDir, s"rep$rep/warehouse").getAbsolutePath
      val t0 = System.nanoTime()
      spark = tracer.span("core.Session.build", spark = false) {
        graft.core.Session.build(master = s"local[${a.cores}]",
          appName = s"perfbench-${a.workload}",
          extraConf = Map("spark.sql.warehouse.dir" -> wh))
      }
      workload.setup(spark, new File(a.runDir, s"rep$rep").getAbsolutePath)
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: set-up $rep of ${a.reps} took $secs%.2f s")
      secs
    }
    tracer.attach(spark)
    val repDir = new File(a.runDir, s"rep${a.reps}")
    val fs0 = walk(repDir)
    val gc0 = gcMs()
    val out = workload.run(spark, tracer)
    val gcTimed = gcMs() - gc0
    val fs1 = walk(repDir)
    // live heap: what the heap pools held right after a full GC, taken
    // after a second GC so state released by Spark's cleaner is gone too
    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
    val fin = workload.finish(spark)
    if (a.trace) tracer.listener.drain()
    val traceRec: Map[String, Any] =
      if (!a.trace) Map.empty
      else Map("spans" -> tracer.spanRecords, "jobs" -> tracer.listener.jobRecords,
        "execs" -> tracer.listener.execRecords)
    val res = out ++ fin ++ Map("setup_jvm_s" -> setups, "gc_ms" -> gcTimed,
      "heap_mb_after_gc" -> heapMb, "fs_files" -> (fs1._1 - fs0._1),
      "fs_bytes" -> (fs1._2 - fs0._2), "trace" -> traceRec)
    val json = org.json4s.jackson.Serialization.write(res)(org.json4s.DefaultFormats)
    Files.write(Paths.get(a.out), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** (file count, byte count) of regular files under `dir`. */
  def walk(dir: File): (Long, Long) = {
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (1L, dir.length())
    else Option(dir.listFiles()).toSeq.flatten.map(walk)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  /** Times `body` in milliseconds, keeping its result or its failure. */
  def timed[A](body: => A): (Double, Either[Throwable, A]) = {
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Throwable => Left(e) }
    ((System.nanoTime() - t0) / 1e6, r)
  }

  def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}

/** One workload: set-up (timed by the caller, repeated), one timed
  * region, and the end-of-run state the checker needs. */
trait Workload {
  def setup(spark: SparkSession, repDir: String): Unit
  def run(spark: SparkSession, tracer: Tracer): Map[String, Any]
  def finish(spark: SparkSession): Map[String, Any]
}
