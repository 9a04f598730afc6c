package graft

/** Dev harness (test scope, not product surface): measures
  * [[graft.ext.Dedup.substringPairs]] cost and pair volume across the
  * (w, maxDf) grid for the BENCHNOTES parameter table. Mirrors the
  * Bench session config and between-run reset so numbers are
  * comparable to the suite rows. Run:
  * `Test/runMain graft.SubstringSweep /root/testdata/sf0.1` */
object SubstringSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = core.Session.build(
      appName = "graft-substring-sweep",
      shufflePartitions = core.Session.localCores,
      extraConf = org.apache.spark.GraftBenchInternals.blockingCleanerConfs)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    for (w <- Seq(20, 40, 80); maxDf <- Seq(25, 50, 100)) {
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val n = graft.ext.Dedup.substringPairs(docs, w = w, maxDf = maxDf).count()
        val dt = (System.nanoTime() - t0) / 1e9
        org.apache.spark.GraftBenchInternals.resetBetweenRuns(spark)
        (dt, n)
      }
      println(f"SWEEP w=$w%-3d maxDf=$maxDf%-4d pairs=${times.head._2}%-8d " +
        f"best=${times.map(_._1).min}%.2fs runs=${times.map(t => f"${t._1}%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
