package graft

/** Relation-build latency harness for the manifest SQL face at high
  * segment counts (round-14: manifest-embedded metadata collapses the
  * per-query planning IO from O(segments) sidecar/listing reads + a
  * footer-merge job to ONE manifest read). Builds a table of `n` tiny
  * committed segments (default 1000 — the "streaming-fed log between
  * packs" shape), then times `spark.read.format("graft.manifest")
  * .load(root)` relation builds three ways:
  *
  *   meta   — embedded metadata, cold cache (fresh snapshot each time
  *            is impossible without re-committing, so the cache is
  *            cleared by fingerprint-busting a no-op: we measure the
  *            FIRST build after JVM-warm, then cached rebuilds)
  *   cached — same snapshot again (LRU hit)
  *   legacy — the same manifest stripped of #meta lines (the
  *            pre-metadata format): per-segment listStatus + sidecar
  *            open + one footer-merge job over all files
  *
  * Prints one JSON line: {"segments":N,"meta_ms":…,"cached_ms":…,
  * "legacy_ms":…} (medians of 3 for the repeatable modes). Usage:
  * `runMain graft.MetaBench [nSegments]`. */
object MetaBench {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000)
    val spark = core.Session.build(
      master = "local[8]", appName = "graft-metabench", shufflePartitions = 8)
    spark.sparkContext.setLogLevel("ERROR")
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"graft_metabench_$n").toString
    graft.io.ManifestTable.destroy(spark, root)
    // n single-row commits with stats + bloom sidecars — the worst
    // honest case for per-segment planning IO
    import spark.implicits._
    (1 to n).foreach { k =>
      graft.io.ManifestTable.append(spark, root, Seq(k.toLong).toDF("v"),
        statsCols = Seq("v"), bloomCols = Seq("v"))
      if (k % 200 == 0) System.err.println(s"committed $k/$n")
    }
    def timeMs(body: => Unit): Long = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1000000L
    }
    def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)

    // cold meta build (first relation over this snapshot)
    val metaMs = timeMs {
      spark.read.format("graft.manifest").load(root)
    }
    require(graft.sources.ManifestSource.lastBuildListOps == 0 &&
      graft.sources.ManifestSource.lastBuildSidecarReads == 0 &&
      graft.sources.ManifestSource.lastBuildFooterJobs == 0,
      "meta build must be O(1) in segment count")
    val cachedMs = median((1 to 3).map(_ => timeMs {
      spark.read.format("graft.manifest").load(root)
    }))
    require(graft.sources.ManifestSource.lastBuildCacheHit)

    // legacy: strip #meta lines (the pre-metadata manifest format)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mf = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("_manifest.v"))
      .maxBy(_.stripPrefix("_manifest.v").toLong)
    val in = f.open(new org.apache.hadoop.fs.Path(root, mf))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    f.delete(new org.apache.hadoop.fs.Path(root, mf), false)
    val out = f.create(new org.apache.hadoop.fs.Path(root, mf), true)
    try out.write(lines.filterNot(_.startsWith("#meta "))
      .mkString("\n").concat("\n").getBytes("UTF-8")) finally out.close()
    val legacyMs = timeMs {
      spark.read.format("graft.manifest").load(root)
    }
    require(graft.sources.ManifestSource.lastBuildListOps >= n,
      "legacy build must have paid the per-segment listing")
    println(s"""{"segments":$n,"meta_ms":$metaMs,"cached_ms":$cachedMs,"legacy_ms":$legacyMs}""")
    graft.io.ManifestTable.destroy(spark, root)
    spark.stop()
  }
}
