package graft

/** Plan-capture utility for the optimization rounds: writes
  * `.explain("formatted")` output for the named queries (or all of
  * them) to `<outDir>/<query>_<tag>.txt`, so plan-shape claims in
  * OPTIMIZATION_rN.md are checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> [q1,q2,...]
  * Env: SPARK_GRAFT_SF_DIR (data dir), SPARK_GRAFT_CPUS (core count),
  * SPARK_GRAFT_SHUFFLE_PARTITIONS (same fallback chain as Bench) — the
  * same session shape as Bench. Caveat: this is the STATIC plan
  * (`isFinalPlan=false` under AQE) — runtime re-optimization (e.g.
  * broadcast conversion, partition coalescing) can differ from the
  * dump; treat AQE-sensitive shape claims accordingly.
  * Exits non-zero if any requested query failed to plan. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = core.Session.build(
      appName = "graft-plandump",
      shufflePartitions = Bench.shufflePartitions,
      extraConf = Map(core.Session.processWarehouse("plandump")))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    var failed = 0
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.forall(_.contains(name))) {
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          System.err.println(s"[plandump] $name ok")
        } catch { case e: Throwable =>
          failed += 1
          System.err.println(s"[plandump] $name FAILED: $e")
        }
      }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
