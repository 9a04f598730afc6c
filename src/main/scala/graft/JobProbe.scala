package graft
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}

/** Measurement tool: run named queries under the Bench
  * session shape with one listener attached — a warm-up run, then a
  * measured run — and print, per query:
  *
  *   - every Spark job's duration plus the DRIVER GAP since the
  *     previous job ended. The gap column is the tell for
  *     driver-side/filesystem overhead (commit machinery, fs scans,
  *     stream bookkeeping) that per-job timings can't see;
  *   - the completed stages' totals: tasks, shuffle read/write MB and
  *     records, spill, executor run/CPU time and GC. These separate
  *     per-task fixed overhead (tasks grow, CPU per task flat), shuffle
  *     volume (bytes grow super-linearly) and work-mix changes (e.g. a
  *     degree cap as duplicate groups grow) when a query scales badly.
  *
  * A local diagnostic, not one of the Bench/Verify entry points. The
  * report is also written to /tmp/jobprobe.log:
  *
  *   sbt "runMain graft.JobProbe <sfDir> q1,q2"
  */
object JobProbe {
  private case class Job(id: Int, desc: String, start: Long, var end: Long)

  /** Jobs in start order, and the completed stages. */
  private class Probe extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    val stages = new java.util.concurrent.CopyOnWriteArrayList[StageInfo]()

    def clear(): Unit = { jobs.clear(); order.clear(); stages.clear() }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse("").replace('\n', ' ')
      jobs.put(e.jobId, Job(e.jobId, desc, e.time, -1L))
      order.add(e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val names = args.lift(1).map(_.split(",").toSeq).getOrElse(Seq.empty)
    val spark = core.Session.build(
      appName = "graft-jobprobe",
      shufflePartitions = Bench.shufflePartitions,
      extraConf = org.apache.spark.GraftBenchInternals.blockingCleanerConfs +
        core.Session.processWarehouse("probe"))
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val report = new StringBuilder
    def emit(s: String): Unit = { println(s); report.append(s).append('\n') }
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[probe] unknown query: $name")
        case Some(fn) =>
          // warmup run first (absorbs JIT/codegen like Bench's median-of-3
          // does), then the measured run
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
          catch { case _: Throwable => () }
          org.apache.spark.GraftBenchInternals.resetBetweenRuns(spark)
          org.apache.spark.GraftBenchInternals.drainListenerBus(spark.sparkContext)
          probe.clear()
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
          catch { case e: Throwable => System.err.println(s"[probe] $name FAILED: $e") }
          val wall = (System.nanoTime() - t0) / 1e9
          // every job-end and stage-completed event must land first
          org.apache.spark.GraftBenchInternals.drainListenerBus(spark.sparkContext)
          import scala.jdk.CollectionConverters._
          val seq = probe.order.asScala.toSeq.flatMap(id => Option(probe.jobs.get(id)))
            .sortBy(_.start)
          var prevEnd = 0L
          var jobMs = 0L; var gapMs = 0L
          emit(s"== $name  wall=${f"$wall%.2f"}s  jobs=${seq.size}")
          seq.foreach { j =>
            val dur = if (j.end > 0) j.end - j.start else -1L
            val gap = if (prevEnd > 0) j.start - prevEnd else 0L
            if (dur >= 0) jobMs += dur
            gapMs += math.max(0L, gap)
            if (dur >= 100 || gap >= 100)
              emit(f"  job ${j.id}%4d dur=${dur}%6d ms gap=${gap}%6d ms  ${j.desc.take(110)}")
            prevEnd = math.max(prevEnd, j.end)
          }
          emit(f"  [sum] jobs=${jobMs} ms, inter-job driver gaps=${gapMs} ms, wall=${(wall * 1000).toLong} ms")
          val st = probe.stages.asScala.toSeq.filter(_.taskMetrics != null)
          def sum(f: TaskMetrics => Long): Long = st.map(s => f(s.taskMetrics)).sum
          emit(f"  [stages] tasks=${st.map(_.numTasks.toLong).sum} " +
            f"shuffle_read=${sum(_.shuffleReadMetrics.totalBytesRead) >> 20} MB " +
            f"(${sum(_.shuffleReadMetrics.recordsRead)} rec) " +
            f"shuffle_write=${sum(_.shuffleWriteMetrics.bytesWritten) >> 20} MB " +
            f"(${sum(_.shuffleWriteMetrics.recordsWritten)} rec) " +
            f"spill=${sum(_.diskBytesSpilled) >> 20} MB " +
            f"exec_run=${sum(_.executorRunTime) / 1e3}%.1f s " +
            f"exec_cpu=${sum(_.executorCpuTime) / 1e9}%.1f s gc=${sum(_.jvmGCTime) / 1e3}%.1f s")
          org.apache.spark.GraftBenchInternals.resetBetweenRuns(spark)
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/jobprobe.log"),
      report.toString.getBytes("UTF-8"))
    spark.stop()
  }
}
