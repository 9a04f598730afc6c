package graft

import org.apache.spark.sql.functions._

/** Row-level-DML latency harness at high segment counts — the scale
  * evidence for the round-14 pruning-first copy-on-write claim: a
  * point DELETE/UPDATE on a zone-mapped column must cost O(one
  * segment), not O(table), no matter how many segments the log holds.
  *
  * Builds `n` range-disjoint committed segments (`rowsPerSeg` rows
  * each, ids sorted so each segment owns one id range — the
  * post-cluster layout a maintained log converges to), then measures:
  *
  *   point_delete_ms  — DELETE of one id: zone maps prune the match
  *                      scan to 1 candidate, 1 segment rewritten
  *   point_update_ms  — UPDATE of one id: same shape
  *   full_rewrite_ms  — compact() of the whole table, the cost every
  *                      DML would pay WITHOUT pruning-first selection
  *
  * Prints one JSON line. Usage: `runMain graft.DmlBench [nSegments]
  * [rowsPerSeg]`. */
object DmlBench {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(500)
    val rowsPerSeg = args.drop(1).headOption.map(_.toInt).getOrElse(100)
    val spark = core.Session.build(
      master = "local[8]", appName = "graft-dmlbench", shufflePartitions = 8)
    spark.sparkContext.setLogLevel("ERROR")
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"graft_dmlbench_$n").toString
    graft.io.ManifestTable.destroy(spark, root)
    import spark.implicits._
    (0 until n).foreach { k =>
      graft.io.ManifestTable.append(spark, root,
        (k * rowsPerSeg until (k + 1) * rowsPerSeg).map(i => (i.toLong, i * 3L))
          .toDF("id", "v"),
        statsCols = Seq("id"), bloomCols = Seq("id"))
      if ((k + 1) % 100 == 0) System.err.println(s"committed ${k + 1}/$n")
    }
    def timeMs(body: => Unit): Long = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1000000L
    }
    // JVM/relation warm-up (one planned scan; excluded from timings)
    spark.read.format("graft.manifest").load(root).filter(col("id") === 1L).count()

    val mid = (n / 2) * rowsPerSeg + 3L
    val delMs = timeMs {
      val rc = graft.io.ManifestDml.deleteWhere(spark, root, col("id") === mid)
      require(rc.segmentsRewritten == 1 && rc.rowsMatched == 1L,
        s"point delete must rewrite exactly 1 segment, got $rc")
    }
    val candidates = graft.sources.ManifestSource.lastListedSegments.size
    val updMs = timeMs {
      val rc = graft.io.ManifestDml.updateWhere(spark, root,
        Seq("v" -> lit(-1L)), col("id") === mid + 10L)
      require(rc.segmentsRewritten == 1,
        s"point update must rewrite exactly 1 segment, got $rc")
    }
    // point MERGE: dynamic target pruning from the ON-clause keys must
    // open O(admitting segments) in the match scan, not the table —
    // the join-based MERGE's equivalent of the DELETE/UPDATE predicate
    // pruning above
    val mrgMs = timeMs {
      val srcDf = Seq((mid + 20L, -5L)).toDF("id", "nv")
      val rc = graft.io.ManifestDml.mergeInto(spark, root, srcDf,
        col("__t.id") === col("__s.id"),
        matched = Seq(graft.io.ManifestDml.MergeUpdate(None,
          Seq("v" -> col("__s.nv")))),
        notMatched = Seq(graft.io.ManifestDml.MergeInsert(None,
          Seq("id" -> col("__s.id"), "v" -> col("__s.nv")))),
        notMatchedBySource = Nil)
      require(rc.segmentsRewritten == 1,
        s"point merge must rewrite exactly 1 segment, got $rc")
    }
    val mergeCandidates = graft.sources.ManifestSource.lastListedSegments.size

    // broad UPDATE: one matching row in EVERY segment (id % rowsPerSeg
    // is unprunable by the id zone maps), so all n segments rewrite
    // 1:1 — the planning + sidecar-regeneration shape at wide touch
    // counts (grouped multi-path read, one stats job, one Bloom pass;
    // per-segment overhead must stay flat as n grows)
    val broadMs = timeMs {
      val rc = graft.io.ManifestDml.updateWhere(spark, root,
        Seq("v" -> (col("v") + 1L)), col("id") % rowsPerSeg === 7)
      require(rc.segmentsRewritten == n && rc.rowsMatched == n.toLong,
        s"broad update must rewrite all $n segments, got $rc")
    }
    val fullMs = timeMs {
      graft.io.ManifestTable.compact(spark, root)
    }
    println(s"""{"segments":$n,"rows":${n.toLong * rowsPerSeg},""" +
      s""""point_delete_ms":$delMs,"candidates_scanned":$candidates,""" +
      s""""point_update_ms":$updMs,"point_merge_ms":$mrgMs,""" +
      s""""merge_candidates_scanned":$mergeCandidates,""" +
      s""""broad_update_ms":$broadMs,"full_rewrite_ms":$fullMs}""")
    graft.io.ManifestTable.destroy(spark, root)
    spark.stop()
  }
}
