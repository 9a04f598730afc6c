package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: every SparkEntry query against SPARK_GRAFT_SF_DIR,
  * one JSON line to stdout.
  *
  * Protocol (round 4+): each query runs `runs`=3 times back-to-back;
  * the reported per-query number and the total are MEDIANS, with the
  * [min, max] spread emitted alongside — single-shot timings at this
  * scale carry ±6 % run noise (BENCHNOTES.md), which swamped sub-2 s
  * per-query deltas round-over-round. The first run also absorbs JIT /
  * code-cache warmup, which the median then discounts. */
object Bench {
  // Driver protocol stays median-of-3; SPARK_GRAFT_BENCH_RUNS=1 is the
  // local knob for long scale runs (sf1+), where per-query times are
  // 10x the JIT-warmup noise the 3-run median exists to discount.
  private val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
    .map(_.toInt).filter(_ >= 1).getOrElse(3)
  // local iteration knob for scale experiments: at sf1+ a fixed
  // partitions==cores keeps per-partition sort-merge working sets
  // growing with data; a real cluster scales this with executors.
  // JobProbe and PlanDump share it, so they plan like Bench.
  private[graft] val shufflePartitions: Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt)
      .getOrElse(core.Session.localCores)
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    // optional second arg: comma-separated query-name filter (local
    // iteration aid; the driver always passes at most the sf dir)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = core.Session.build(
      appName = "graft-bench",
      shufflePartitions = shufflePartitions,
      extraConf = org.apache.spark.GraftBenchInternals.blockingCleanerConfs +
        core.Session.processWarehouse("bench"))
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    // prime the temp-checkpoint baseline so pre-existing dirs (other
    // processes') are never reaped — only dirs this suite creates
    org.apache.spark.GraftBenchInternals.cleanStreamingState(spark)
    // one timed query run: wall seconds and GC ms inside the timed
    // region, or None when it threw — a query that throws early must
    // never read as a fast timing. The between-run reset runs outside
    // the timer.
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[(Double, Long)] = {
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      // noop sink: full expression evaluation without result
      // materialization (count() lets Catalyst prune unreferenced
      // projections, under-measuring projection-heavy queries)
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      val gcMs = gcMillis() - gc0
      org.apache.spark.GraftBenchInternals.resetBetweenRuns(spark)
      if (ok) Some((dt, gcMs)) else None
    }
    // per query: (wall seconds, GC ms inside the timed region,
    // local-dir MB left AFTER the between-run reset, used-heap MB
    // after reset) per run — the telemetry that lets an inflated
    // in-suite timing be attributed (GC pause? disk debt? heap debt?)
    // or cleared from the artifact alone. None if any run threw.
    def measure(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[Seq[(Double, Long, Long, Long)]] = {
      val rs = (1 to runs).map { _ =>
        runOnce(name, fn).map { case (dt, gcMs) =>
          val residualMb = org.apache.spark.GraftBenchInternals.localDirBytes() >> 20
          val rt = Runtime.getRuntime
          val heapMb = (rt.totalMemory - rt.freeMemory) >> 20
          (dt, gcMs, residualMb, heapMb)
        }
      }
      if (rs.forall(_.isDefined)) Some(rs.flatten) else None
    }
    val measured = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) => name -> measure(name, fn) }
    val results: Seq[(String, Seq[(Double, Long, Long, Long)])] =
      measured.collect { case (name, Some(v)) => name -> v }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def fmtJ(d: Double): String =
      String.format(java.util.Locale.US, "%.2f", Double.box(d))

    // ---- machine-generated variance audit (round 17) ----
    // Any query whose IN-SUITE median exceeds 2x its committed
    // reference median (+0.5 s absolute noise floor) re-runs ISOLATED
    // — same process, same binary, runs=3, after the whole suite
    // finished — and the artifact carries both readings under
    // "isolated". This is the r13b/r16 audit-trail discipline
    // (BENCHNOTES.md) as part of the protocol instead of manual
    // archaeology: a contention outlier clears itself in the same
    // artifact that reported it, while a real regression reproduces.
    // Reference = SPARK_GRAFT_BENCH_REF, else the newest committed
    // bench/bench_detail_*_r{N}a.json whose sf matches this run.
    val refMedians: Map[String, Double] = {
      def parseDetail(path: java.nio.file.Path): Option[(String, Map[String, Double])] =
        scala.util.Try {
          import org.json4s._
          val j = org.json4s.jackson.JsonMethods.parse(
            new String(java.nio.file.Files.readAllBytes(path), "UTF-8"))
          val sf = (j \ "sf") match { case JString(s) => s; case _ => "" }
          val qs = (j \ "queries") match {
            case JObject(fields) => fields.collect {
              case (k, JDouble(d)) => k -> d
              case (k, JInt(i)) => k -> i.toDouble
              case (k, JDecimal(d)) => k -> d.toDouble
            }.toMap
            case _ => Map.empty[String, Double]
          }
          (sf, qs)
        }.toOption
      val explicit = sys.env.get("SPARK_GRAFT_BENCH_REF")
        .map(java.nio.file.Paths.get(_)).filter(java.nio.file.Files.exists(_))
      val fallback = scala.util.Try {
        val dir = java.nio.file.Paths.get("bench")
        val re = "bench_detail_.*_r(\\d+)[a-z]?\\.json".r
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(dir).iterator().asScala
          .flatMap { p =>
            p.getFileName.toString match {
              case re(n) => Some((n.toInt, p))
              case _ => None
            }
          }.toSeq.sortBy(-_._1).map(_._2)
      }.getOrElse(Seq.empty)
      val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
      (explicit.toSeq ++ fallback).iterator
        .flatMap(parseDetail)
        .collectFirst { case (sf, qs)
            if sf.endsWith(sfName) || explicit.isDefined => qs }
        .getOrElse(Map.empty)
    }
    val flagged: Seq[String] = results.collect {
      case (name, v) if refMedians.get(name)
          .exists(ref => median(v.map(_._1)) > 2 * ref + 0.5) => name
    }
    // CAPPED (round 18): the r17 audit re-ran every flagged query 3x
    // with no ceiling, and that uncapped post-suite tail pushed the
    // driver's 32-core run past its timeout (BENCH_r17 rc=124) — the
    // audit must never be the thing that kills the artifact it is
    // auditing. Two caps bound its tail:
    //   * one run per flagged query (an isolated single run is already
    //     decisive for "contention vs regression" — contention debt
    //     shows up as 2-10x, not run noise);
    //   * a hard wall-clock ceiling on the whole audit (default 60 s,
    //     SPARK_GRAFT_AUDIT_BUDGET): each flagged query re-runs only
    //     while the budget lasts, in in-suite-cost order (cheapest
    //     first maximizes coverage).
    // A re-run that throws is reported under "failed", never as an
    // isolated timing.
    val auditBudgetSec = sys.env.get("SPARK_GRAFT_AUDIT_BUDGET")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(60.0)
    val inSuiteSec: Map[String, Double] =
      results.map { case (k, v) => k -> median(v.map(_._1)) }.toMap
    val auditT0 = System.nanoTime()
    val audited: Seq[(String, Option[Double])] =
      flagged.sortBy(inSuiteSec.getOrElse(_, 0.0)).flatMap { name =>
        val spent = (System.nanoTime() - auditT0) / 1e9
        if (spent > auditBudgetSec) None
        else SparkEntry.queries.get(name).map(fn => name -> runOnce(name, fn).map(_._1))
      }
    val isolated: Seq[(String, Double)] =
      audited.collect { case (name, Some(dt)) => name -> dt }
    val failed: Seq[String] = measured.collect { case (name, None) => name } ++
      audited.collect { case (name, None) => name }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val isolatedJson = isolated.map { case (k, v) => "\"" + k + "\":" + fmtJ(v) }
      .mkString("{", ",", "}")
    def fmt(d: Double): String = fmtJ(d)
    // failed queries carry no timing: they are listed, not totalled
    val timed = results.filterNot { case (k, _) => failed.contains(k) }
    val wall: Seq[(String, Seq[Double])] =
      timed.map { case (k, v) => k -> v.map(_._1) }
    val total = wall.map { case (_, v) => median(v) }.sum

    // Full-detail record (medians + [min,max] spread + per-run GC ms
    // and residual local-dir MB, every query) for local iteration.
    // Written to a FILE, not stdout: the driver keeps only the last
    // ~2000 chars of stdout, and in round 6 the ~10 KB detail line
    // bled into that window mid-object, leaving BENCH_r06
    // unparseable. Stdout carries ONLY the compact final line below.
    val detailQs = wall.map { case (k, v) => "\"" + k + "\":" + median(v) }
      .mkString("{", ",", "}")
    val spread = wall.map { case (k, v) => "\"" + k + "\":[" + v.min + "," + v.max + "]" }
      .mkString("{", ",", "}")
    val gcDetail = timed.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(_._2).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val dirDetail = timed.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(_._3).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val heapDetail = timed.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(_._4).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val detail = s"""{"metric":"detail","value":$total,"unit":"sec","queries":$detailQs,"spread":$spread,"gc_ms":$gcDetail,"localdir_mb_after_clean":$dirDetail,"heap_mb_after_clean":$heapDetail,"isolated":$isolatedJson,"failed":$failedJson,"runs":$runs,"sf":"$sfDir"}"""
    // best-effort: a read-only or foreign cwd must not abort the run
    // AFTER the measurements and BEFORE the final stdout line
    try {
      val detailPath = java.nio.file.Paths.get("target/bench_detail.json")
      Option(detailPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(detailPath,
        (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: java.io.IOException => () }

    // Compact FINAL line: the driver's capture window is the last 2000
    // chars of stdout (BENCH_r01–r04 all show the line truncated at the
    // front), so this line must stay well under that — per-query medians
    // rounded to 0.01 s, BEST-FIT FROM SLOWEST: queries are tried in
    // descending-cost order and any piece that would overflow the budget
    // is elided (a shorter later name can still fit after a longer one
    // didn't, so elisions need not be a contiguous tail); elided_sec
    // summarizes the remainder so the total still reconciles.
    // (a failed list, normally empty, takes its length off the budget)
    val budget = 1600 - failedJson.length
    val sorted = wall.map { case (k, v) => k -> median(v) }.sortBy(-_._2)
    val sb = new StringBuilder
    var elided = 0; var elidedSec = 0.0
    sorted.foreach { case (k, v) =>
      val piece = (if (sb.nonEmpty) "," else "") + "\"" + k + "\":" + fmt(v)
      if (sb.length + piece.length <= budget) sb.append(piece)
      else { elided += 1; elidedSec += v }
    }
    // flagged-query isolated re-reads ride the compact line too (small
    // by construction: only >2x-of-reference outliers re-ran)
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":{${sb.result()}},"elided_queries":$elided,"elided_sec":${fmt(elidedSec)},"isolated":$isolatedJson,"failed":$failedJson,"runs":$runs,"sf":"$sfDir"}"""
    println(line)
    spark.stop()
    // Re-emit as the very LAST stdout bytes: spark.stop() and the sbt
    // runner write their own trailers after main returns, and the
    // driver parses only the tail of stdout — seven rounds of
    // BENCH_rN.parsed=null trace to the line being displaced. The
    // duplicate guarantees one complete copy sits at the tail
    // whatever follows; a tail parser finds the last (or only
    // surviving) copy.
    println(line)
    System.out.flush()
  }
}
