package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ManifestDml, ManifestTable}

/** Row-level DML on the manifest log: copy-on-write DELETE/UPDATE with
  * pruning-first segment selection, atomic swap, and the DML change-
  * feed contract (pre-image deletes + re-inserts). */
class DmlSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def root(name: String): String = {
    val r = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir"), name).toString
    ManifestTable.destroy(spark, r)
    r
  }

  /** Three disjoint-range segments with zone-map + bloom sidecars:
    * ids [0,100), [100,200), [200,300), v = 10*id. */
  private def threeSegs(r: String): Unit =
    (0 until 3).foreach { k =>
      ManifestTable.append(spark,
        r, (k * 100 until (k + 1) * 100).toDF("id")
          .withColumn("v", col("id") * 10),
        statsCols = Seq("id"), bloomCols = Seq("id"))
    }

  test("deleteWhere: scoped copy-on-write — only matching segments rewritten, untouched byte-identical, zone maps prune the match scan") {
    val r = root("dml_delete_scoped")
    threeSegs(r)
    val before = ManifestTable.segments(spark, r)
    val rc = ManifestDml.deleteWhere(spark, r, col("id") === 150)
    assert(rc == ManifestDml.DmlReceipt(1, 1L))
    // the pruned match scan opened ONLY the admitting segment
    assert(graft.sources.ManifestSource.lastListedSegments.size == 1)
    val after = ManifestTable.segments(spark, r)
    // untouched segments keep their exact names (byte-identical dirs);
    // only the middle segment was swapped for one dml segment
    assert(after.count(before.contains) == 2)
    assert(after.filterNot(before.contains) match {
      case Seq(s) => s.contains("-dml")
      case _ => false
    })
    assert(ManifestTable.read(spark, r).count() == 299)
    assert(ManifestTable.read(spark, r).filter(col("id") === 150).isEmpty)
    // the replacement segment regenerated its zone-map sidecar: a
    // point read through the SQL face still prunes to one segment
    val df = spark.read.format("graft.manifest").load(r)
    assert(df.filter(col("id") === 155).count() == 1)
    assert(graft.sources.ManifestSource.lastListedSegments.size == 1)
  }

  test("multi-segment DML preserves the clustered layout 1:1 — zone maps keep pruning after the rewrite") {
    val r = root("dml_layout_preserve")
    threeSegs(r) // range-disjoint: [0,100), [100,200), [200,300)
    // touch segments 0 and 2, leave 1 byte-identical
    val rc = ManifestDml.updateWhere(spark, r,
      Seq("v" -> lit(-5L)), col("id") === 50 || col("id") === 250)
    assert(rc == ManifestDml.DmlReceipt(2, 2L))
    assert(ManifestTable.dataSegments(spark, r).size == 3,
      "1:1 rewrite must keep three segments")
    // the replacements kept their disjoint ranges: a point read still
    // opens exactly ONE segment on each range
    val df = spark.read.format("graft.manifest").load(r)
    assert(df.filter(col("id") === 55).count() == 1)
    assert(graft.sources.ManifestSource.lastListedSegments.size == 1,
      "replacement of [0,100) must keep its zone-map range")
    assert(df.filter(col("id") === 255).count() == 1)
    assert(graft.sources.ManifestSource.lastListedSegments.size == 1,
      "replacement of [200,300) must keep its zone-map range")
    assert(df.filter(col("id") === 50).select("v").as[Long].head() == -5L)
    assert(ManifestTable.read(spark, r).count() == 300)
    // a broad UPDATE touching every segment rewrites all three, still 1:1
    val before = ManifestTable.dataSegments(spark, r)
    assert(ManifestDml.updateWhere(spark, r, Seq("v" -> lit(7L)),
      col("id") % 100 === 7) == ManifestDml.DmlReceipt(3, 3L))
    val after = ManifestTable.dataSegments(spark, r)
    assert(after.size == 3 && after.toSet.intersect(before.toSet).isEmpty,
      s"every segment must be replaced 1:1: $before -> $after")
    val df2 = spark.read.format("graft.manifest").load(r)
    Seq(7, 107, 207).foreach { k =>
      assert(df2.filter(col("id") === k).select("v").as[Long].head() == 7L)
      assert(graft.sources.ManifestSource.lastListedSegments.size == 1,
        s"replacement holding id $k must keep its zone-map range")
    }
    assert(ManifestTable.read(spark, r).count() == 300)
  }

  test("DML on a root spelled as a bare path, file:/ or file:/// — flat and partitioned segments attribute to the manifest") {
    for ((spell, i) <- Seq[String => String](p => p, p => s"file:$p", p => s"file://$p")
        .zipWithIndex; partitioned <- Seq(false, true)) {
      val bare = new org.apache.hadoop.fs.Path(root(s"dml_root_spelling_${i}_$partitioned"))
        .toUri.getPath
      val r = spell(bare)
      val parts = if (partitioned) Seq("b") else Nil
      Seq(0 until 10, 10 until 20).foreach { ids =>
        ManifestTable.append(spark, r,
          ids.map(k => (k.toLong, k % 2, k * 10L)).toDF("id", "b", "v"),
          partitionBy = parts, statsCols = Seq("id"))
      }
      val what = s"root $r (partitioned=$partitioned)"
      assert(ManifestDml.deleteWhere(spark, r, col("id") === 3L).rowsMatched == 1L, what)
      assert(ManifestDml.updateWhere(spark, r, Seq("v" -> lit(-1L)),
        col("id") === 15L).rowsMatched == 1L, what)
      ManifestDml.mergeInto(spark, r,
        Seq((7L, 1, 70L), (99L, 1, 990L)).toDF("id", "b", "nv"),
        col("__t.id") === col("__s.id"),
        matched = Seq(ManifestDml.MergeUpdate(None, Seq("v" -> col("__s.nv")))),
        notMatched = Seq(ManifestDml.MergeInsert(None, Seq("id" -> col("__s.id"),
          "b" -> col("__s.b"), "v" -> col("__s.nv")))),
        notMatchedBySource = Nil)
      val got = ManifestTable.read(spark, r).select("id", "v").as[(Long, Long)]
        .collect().toMap
      val want = ((0L until 20L).filter(_ != 3L).map(k => k -> k * 10L).toMap ++
        Map(15L -> -1L, 7L -> 70L, 99L -> 990L))
      assert(got == want, what)
    }
  }

  test("deleteWhere: NULL predicate rows stay; no-match is a no-op (no new version)") {
    val r = root("dml_delete_null")
    ManifestTable.append(spark, r,
      Seq((1, Some(10)), (2, None), (3, Some(30))).toDF("id", "v"))
    assert(ManifestDml.deleteWhere(spark, r, col("v") > 5) ==
      ManifestDml.DmlReceipt(1, 2L))
    // the NULL-v row survives (cond NULL = not deleted, SQL semantics)
    assert(ManifestTable.read(spark, r).select("id").as[Int].collect().toSeq == Seq(2))
    val v = ManifestTable.versions(spark, r).max
    assert(ManifestDml.deleteWhere(spark, r, col("id") === 999) ==
      ManifestDml.DmlReceipt(0, 0L))
    assert(ManifestTable.versions(spark, r).max == v, "no-match must not commit")
  }

  test("deleteWhere: full clear of a flat table keeps schema readable") {
    val r = root("dml_delete_all")
    ManifestTable.append(spark, r, Seq((1, "a"), (2, "b")).toDF("id", "s"))
    ManifestTable.append(spark, r, Seq((3, "c")).toDF("id", "s"))
    assert(ManifestDml.deleteWhere(spark, r, lit(true)).rowsMatched == 3L)
    val out = ManifestTable.read(spark, r)
    assert(out.columns.toSeq == Seq("id", "s") && out.isEmpty)
    // SQL face stays alive too
    assert(spark.read.format("graft.manifest").load(r).isEmpty)
  }

  test("updateWhere: assignment casts to column type, references pre-image, moves rows across partition dirs") {
    val r = root("dml_update_part")
    ManifestTable.append(spark, r,
      (0 until 20).map(i => (i, i % 2, i * 1.5)).toDF("id", "b", "m"),
      partitionBy = Seq("b"))
    ManifestTable.append(spark, r,
      (20 until 40).map(i => (i, i % 2, i * 1.5)).toDF("id", "b", "m"),
      partitionBy = Seq("b"))
    // move every id<10 row to bucket 7 and double its measure off the
    // PRE-IMAGE m; the assignment value arrives as the wrong type and
    // must cast to the column's (7 is int, b is int — m gets a string)
    val rc = ManifestDml.updateWhere(spark, r,
      Seq("b" -> lit(7), "m" -> (col("m") * 2).cast("string")),
      col("id") < 10)
    assert(rc == ManifestDml.DmlReceipt(1, 10L))
    val out = ManifestTable.read(spark, r)
    assert(out.filter(col("b") === 7).count() == 10)
    assert(out.filter(col("id") === 4).select("m").as[Double].head() == 12.0)
    assert(out.filter(col("id") === 30).select("m").as[Double].head() == 45.0)
    assert(out.schema("m").dataType == org.apache.spark.sql.types.DoubleType)
    // partition pruning over the moved rows through the SQL face
    val sql = spark.read.format("graft.manifest").load(r)
    assert(sql.filter(col("b") === 7).count() == 10)
    // unknown assignment column / duplicate assignment are loud
    intercept[IllegalArgumentException] {
      ManifestDml.updateWhere(spark, r, Seq("nope" -> lit(1)), lit(true))
    }
    intercept[IllegalArgumentException] {
      ManifestDml.updateWhere(spark, r,
        Seq("m" -> lit(1), "M" -> lit(2)), lit(true))
    }
  }

  test("DML contract edges: tombstones reject, OCC version check, additions-only feed consumers fail loudly") {
    val r = root("dml_edges")
    ManifestTable.append(spark, r, (0 until 10).toDF("id"))
    ManifestTable.delete(spark, r, Seq(3).toDF("id"))
    val e = intercept[IllegalArgumentException] {
      ManifestDml.deleteWhere(spark, r, col("id") === 5)
    }
    assert(e.getMessage.contains("tombstone"))
    ManifestTable.compact(spark, r)
    val v = ManifestTable.versions(spark, r).max
    intercept[IllegalArgumentException] {
      ManifestDml.deleteWhere(spark, r, col("id") === 5,
        expectVersion = Some(v - 1))
    }
    ManifestDml.deleteWhere(spark, r, col("id") === 5, expectVersion = Some(v))
    assert(ManifestTable.read(spark, r).count() == 8) // 10 - tombstoned 3 - dml'd 5
    // an additions-only consumer pinned before the DML must throw, not
    // silently miss the rewrite
    val err = intercept[IllegalArgumentException] {
      ManifestTable.changedSegments(spark, r, v, v + 1)
    }
    assert(err.getMessage.contains("row-level DML"))
  }

  test("DML change feed: pre-image deletes + re-inserts reconstruct the head from the pinned snapshot; time travel across the DML holds") {
    val r = root("dml_feed")
    ManifestTable.setRetainVersions(spark, r, 4)
    threeSegs(r)
    val pin = ManifestTable.versions(spark, r).max
    ManifestDml.updateWhere(spark, r, Seq("v" -> lit(-1L)), col("id") % 100 === 7)
    ManifestDml.deleteWhere(spark, r, col("id") === 250)
    val head = ManifestTable.versions(spark, r).max
    val chg = ManifestTable.readChanges(spark, r, pin, head)
    val dels = chg.filter(col("_change_type") === "delete").drop("_change_type")
    val ins = chg.filter(col("_change_type") === "insert").drop("_change_type")
    // apply deletes before inserts (value identity) onto the pinned state
    val rebuilt = ManifestTable.readAt(spark, r, pin)
      .join(dels, Seq("id", "v"), "left_anti")
      .unionByName(ins)
    val now = ManifestTable.read(spark, r)
    assert(rebuilt.count() == now.count())
    assert(rebuilt.exceptAll(now).isEmpty && now.exceptAll(rebuilt).isEmpty)
    // retention keeps the pinned version fully readable across the DMLs
    assert(ManifestTable.readAt(spark, r, pin).count() == 300)
    assert(ManifestTable.readAt(spark, r, pin)
      .filter(col("id") === 250).count() == 1)
  }

  test("SQL DELETE/UPDATE: receipts, pruning-first rewrite, pinned @vN target rejected") {
    val r = root("dml_sql_delupd")
    threeSegs(r)
    val del = spark.sql(
      s"DELETE FROM `graft.manifest`.`$r` WHERE id = 150 OR id = 151").collect()
    assert(del.map(x => (x.getString(0), x.getInt(1), x.getLong(2))).toSeq ==
      Seq(("delete", 1, 2L)))
    val upd = spark.sql(
      s"UPDATE `graft.manifest`.`$r` SET v = v + 1 WHERE id < 100").collect()
    assert(upd.map(x => (x.getString(0), x.getInt(1), x.getLong(2))).toSeq ==
      Seq(("update", 1, 100L)))
    assert(spark.sql(s"SELECT sum(v) AS s FROM `graft.manifest`.`$r` WHERE id < 100")
      .as[Long].head() == (0 until 100).map(_ * 10 + 1).sum)
    assert(spark.sql(s"SELECT count(1) FROM `graft.manifest`.`$r`")
      .as[Long].head() == 298)
    // a pinned time-travel target must not silently DML the head
    val v = ManifestTable.versions(spark, r).max
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM `graft.manifest`.`$r@v${v - 1}` WHERE id = 5")
    }
    assert(e.getMessage.contains("planned against"))
    // UPDATE without WHERE hits every row
    val all = spark.sql(
      s"UPDATE `graft.manifest`.`$r` SET v = 0").collect()
    assert(all.head.getLong(2) == 298L)
    assert(spark.sql(s"SELECT sum(v) AS s FROM `graft.manifest`.`$r`")
      .as[Long].head() == 0L)
  }

  test("SQL MERGE: conditional matched update/delete + insert, same-name columns disambiguate, cardinality violation is loud") {
    val r = root("dml_sql_merge")
    ManifestTable.append(spark, r,
      Seq((1, 10), (2, 20), (3, 30)).toDF("id", "v"))
    ManifestTable.append(spark, r,
      Seq((4, 40), (5, 50)).toDF("id", "v"))
    Seq((2, 99, "u"), (3, 0, "d"), (9, 90, "i"), (4, 44, "u"))
      .toDF("id", "v", "op").createOrReplaceTempView("dml_merge_src")
    val rc = spark.sql(s"""
      MERGE INTO `graft.manifest`.`$r` t
      USING dml_merge_src s
      ON t.id = s.id
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v + t.v
      WHEN NOT MATCHED AND s.op = 'i' THEN INSERT (id, v) VALUES (s.id, s.v)
      """).collect()
    assert(rc.map(x => (x.getString(0), x.getInt(1), x.getLong(2))).toSeq ==
      Seq(("merge", 2, 3L)))
    val out = ManifestTable.read(spark, r).as[(Int, Int)].collect().toMap
    assert(out == Map(1 -> 10, 2 -> 119, 4 -> 84, 5 -> 50, 9 -> 90))
    // two source rows hitting one target row → loud cardinality error
    Seq((5, 1), (5, 2)).toDF("id", "v").createOrReplaceTempView("dml_merge_dup")
    val e = intercept[Exception] {
      spark.sql(s"""
        MERGE INTO `graft.manifest`.`$r` t USING dml_merge_dup s
        ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v""")
    }
    assert(e.getMessage.contains("cardinality"))
  }

  test("SQL MERGE: insert-only merge is a plain append commit (feed-friendly); NOT MATCHED BY SOURCE rewrites everything") {
    val r = root("dml_sql_merge_ins")
    ManifestTable.append(spark, r, Seq((1, 10), (2, 20)).toDF("id", "v"))
    val pin = ManifestTable.versions(spark, r).max
    Seq((2, 22), (7, 70)).toDF("id", "v")
      .createOrReplaceTempView("dml_merge_ins_src")
    val rc = spark.sql(s"""
      MERGE INTO `graft.manifest`.`$r` t USING dml_merge_ins_src s
      ON t.id = s.id
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""").collect()
    assert(rc.map(x => (x.getString(0), x.getInt(1), x.getLong(2))).toSeq ==
      Seq(("merge", 0, 1L)))
    // additions-only consumers still work: the commit is a plain append
    val head = ManifestTable.versions(spark, r).max
    assert(ManifestTable.changedSegments(spark, r, pin, head).size == 1)
    assert(ManifestTable.read(spark, r).as[(Int, Int)].collect().toMap ==
      Map(1 -> 10, 2 -> 20, 7 -> 70))
    // NOT MATCHED BY SOURCE: unmatched target rows take the action
    val rc2 = spark.sql(s"""
      MERGE INTO `graft.manifest`.`$r` t USING dml_merge_ins_src s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED BY SOURCE AND t.id = 1 THEN DELETE""").collect()
    assert(rc2.head.getInt(1) == 2, s"nmbs merge rewrites every segment: ${rc2.toSeq}")
    assert(ManifestTable.read(spark, r).as[(Int, Int)].collect().toMap ==
      Map(2 -> 22, 7 -> 70))
  }

  test("AggView sync over a DML window: count/sum retract exactly via pre-image segments; min/max rebuild contract is loud") {
    import graft.io.AggView
    val base = root("dml_aggview_base")
    val view = root("dml_aggview_view")
    ManifestTable.setRetainVersions(spark, base, 6)
    val spec = AggView.spec("k").count("n").sum("v", "s")
    (0 until 3).foreach { g =>
      ManifestTable.append(spark, base,
        (0 until 40).map(i => (i % 4, (g * 40 + i).toLong)).toDF("k", "v"))
    }
    AggView.syncFromLog(spark, view, base, spec)
    // duplicate VALUES across segments on purpose: the retraction is
    // multiset-additive, so identical rows in untouched segments must
    // not double-subtract
    graft.io.ManifestDml.deleteWhere(spark, base, col("v") % 10 === 3)
    graft.io.ManifestDml.updateWhere(spark, base,
      Seq("v" -> (col("v") + 1000L)), col("v") % 10 === 4)
    AggView.syncFromLog(spark, view, base, spec)
    val got = AggView.read(spark, view, spec)
      .filter(col("n") > 0).orderBy("k").collect()
    val want = ManifestTable.read(spark, base)
      .groupBy(col("k")).agg(count(lit(1)).as("n"), sum("v").as("s"))
      .orderBy("k").collect()
    assert(got.toSeq == want.toSeq,
      s"incremental view diverged from recompute:\n$got\nvs\n$want")
    // non-retractable aggregate + DML window → loud rebuild contract
    val view2 = root("dml_aggview_minmax")
    val spec2 = AggView.spec("k").max("v", "mx")
    AggView.syncFromLog(spark, view2, base, spec2)
    graft.io.ManifestDml.deleteWhere(spark, base, col("v") === 17L)
    val e = intercept[IllegalArgumentException] {
      AggView.syncFromLog(spark, view2, base, spec2)
    }
    assert(e.getMessage.contains("rebuild"))
    AggView.rebuild(spark, view2, base, spec2)
    assert(AggView.read(spark, view2, spec2).count() == 4)
  }

  test("streaming source over a DML window: changeFeed batch carries pre-image deletes + re-inserts; plain stream fails loudly") {
    val r = root("dml_stream_src")
    ManifestTable.setRetainVersions(spark, r, 6)
    ManifestTable.append(spark, r, Seq((1, 10), (2, 20)).toDF("id", "v"))
    ManifestTable.append(spark, r, Seq((3, 30)).toDF("id", "v"))
    graft.io.ManifestDml.updateWhere(spark, r,
      Seq("v" -> lit(21)), col("id") === 2)
    // changeFeed bootstrap-from-v0 would fold everything into one
    // insert batch; start past the first append so the DML window is
    // genuinely incremental
    val q = spark.readStream.format("graft.manifest")
      .option("changeFeed", "true").option("startingVersion", "1")
      .load(r)
      .writeStream.format("memory").queryName("dml_src_cf")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.table("dml_src_cf")
      .select("id", "v", "_change_type").as[(Int, Int, String)]
      .collect().toSet
    // window (1, 3]: append of id=3, then the DML dropping seg-1
    // (pre-images 1/2) and adding the rewritten rows
    assert(rows == Set((3, 30, "insert"),
      (1, 10, "delete"), (2, 20, "delete"),
      (1, 10, "insert"), (2, 21, "insert")), s"got $rows")
    // a plain append stream over the same window must refuse
    val q2 = spark.readStream.format("graft.manifest")
      .option("startingVersion", "1").load(r)
      .writeStream.format("memory").queryName("dml_src_plain")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination()
    }
    assert(e.getMessage.contains("DML pre-image") ||
      Option(e.getCause).exists(_.getMessage.contains("DML pre-image")))
  }

  test("append(retryRaces): concurrent appenders all land, serialized as distinct versions, no rows lost") {
    val r = root("dml_concurrent_append")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val writers = (0 until 4).map { w =>
      Future {
        (0 until 5).foreach { i =>
          ManifestTable.append(spark, r,
            Seq((w * 100 + i, w)).toDF("id", "w"), retryRaces = true)
        }
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    assert(ManifestTable.versions(spark, r) == (1L to 20L))
    val rows = ManifestTable.read(spark, r).select("id").as[Int].collect().toSet
    assert(rows == (0 until 4).flatMap(w => (0 until 5).map(w * 100 + _)).toSet)
    // segment names carry their real commit version (feed contract)
    ManifestTable.segments(spark, r).foreach { s =>
      assert(ManifestTable.segmentsAt(spark, r,
        s.split("-")(1).toLong).contains(s))
    }
    // without retryRaces the loser still throws (single-winner default)
    val r2 = root("dml_concurrent_strict")
    ManifestTable.append(spark, r2, Seq((1, 1)).toDF("id", "w"))
    intercept[ManifestTable.CommitRaceLost] {
      ManifestTable.commitStrategy.publish(
        new org.apache.hadoop.fs.Path(r2)
          .getFileSystem(spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(r2),
        new org.apache.hadoop.fs.Path(r2, "_manifest.v1"), "x")
    }
  }

  test("streaming source maxVersionsPerTrigger: a backlog drains as bounded micro-batches, contents identical") {
    val r = root("dml_stream_paced")
    (1 to 6).foreach { i =>
      ManifestTable.append(spark, r, Seq((i, i * 10)).toDF("id", "v"))
    }
    val q = spark.readStream.format("graft.manifest")
      .option("maxVersionsPerTrigger", "2").load(r)
      .writeStream.format("memory").queryName("dml_paced")
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("dml_paced").count() == 6)
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches == 3,
      s"6 versions at 2/trigger must drain as 3 batches, got $dataBatches: " +
        q.recentProgress.map(_.numInputRows).mkString(","))
    // Trigger.AvailableNow must drain the WHOLE backlog in capped
    // steps and terminate (SupportsTriggerAvailableNow; without it
    // Spark's single-batch fallback would stop after the first capped
    // batch and silently drop the rest)
    val q2 = spark.readStream.format("graft.manifest")
      .option("maxVersionsPerTrigger", "2").load(r)
      .writeStream.format("memory").queryName("dml_paced_an")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q2.awaitTermination(120000), "AvailableNow run must terminate")
    assert(spark.table("dml_paced_an").count() == 6,
      "AvailableNow + rate limit must deliver the full backlog")
    assert(q2.recentProgress.count(_.numInputRows > 0) == 3,
      s"AvailableNow drains in capped steps, got " +
        q2.recentProgress.map(_.numInputRows).mkString(","))
  }

  test("streaming source maxBytesPerTrigger: mixed-size backlog drains in bounded-byte batches under AvailableNow") {
    val r = root("dml_stream_bytes")
    // mixed commit sizes: small, small, BIG, small, small, small
    val sizes = Seq(2, 2, 4000, 2, 2, 2)
    sizes.zipWithIndex.foreach { case (n, i) =>
      ManifestTable.append(spark, r,
        (0 until n).map(k => (i * 100000 + k, k)).toDF("id", "v"))
    }
    // byte budget ~ one small commit's footprint: each small commit
    // admits alone or pairs, the big one admits ALONE (oversized
    // single commits must still progress)
    val smallBytes = graft.io.ManifestTable.addedBytesOf(spark, r, 1L)
    val bigBytes = graft.io.ManifestTable.addedBytesOf(spark, r, 3L)
    assert(bigBytes > smallBytes * 3, s"fixture: big=$bigBytes small=$smallBytes")
    val q = spark.readStream.format("graft.manifest")
      .option("maxBytesPerTrigger", (smallBytes * 2).toString).load(r)
      .writeStream.format("memory").queryName("dml_bytes_an")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow run must terminate")
    assert(spark.table("dml_bytes_an").count() == sizes.sum.toLong,
      "byte-capped drain must deliver the full backlog")
    val rowsPerBatch = q.recentProgress.filter(_.numInputRows > 0)
      .map(_.numInputRows).toSeq
    // the big commit rode ALONE in its batch; small commits packed in
    // pairs up to the budget: batches = [2+2, 4000, 2+2, 2]
    assert(rowsPerBatch.contains(4000L) &&
      rowsPerBatch.count(_ == 4000L) == 1 &&
      rowsPerBatch.size >= 3,
      s"bounded-byte batches expected, got $rowsPerBatch")
    assert(rowsPerBatch.filterNot(_ == 4000L).forall(_ <= 4L),
      s"no batch may exceed the byte budget's row shape: $rowsPerBatch")
  }

  test("cluster TVFs: SQL-reachable re-clustering restores zone-map pruning on arrival-ordered logs") {
    val r = root("dml_cluster_tvf")
    // arrival-ordered ingest: every segment spans the whole id range,
    // so zone maps prune nothing before clustering
    (0 until 3).foreach { k =>
      ManifestTable.append(spark, r,
        (0 until 300).filter(_ % 3 == k).map(i => (i, i * 2)).toDF("id", "v"),
        statsCols = Seq("id"))
    }
    spark.read.format("graft.manifest").load(r)
      .filter(col("id") === 7).count()
    assert(graft.sources.ManifestSource.lastListedSegments.size == 3,
      "pre-cluster: arrival order defeats zone maps")
    val rc = spark.sql(
      s"SELECT * FROM graft_manifest_cluster('$r', 'id', 3)").collect()
    assert(rc.head.getString(0) == "cluster" && rc.head.getLong(1) == 3)
    val cnt = spark.read.format("graft.manifest").load(r)
      .filter(col("id") === 7).count()
    assert(cnt == 1)
    assert(graft.sources.ManifestSource.lastListedSegments.size == 1,
      "post-cluster: range-disjoint segments prune to one")
    // z-order variant over both columns
    val rz = spark.sql(
      s"SELECT * FROM graft_manifest_cluster_z('$r', 'id', 'v', 2)").collect()
    assert(rz.head.getString(0) == "cluster_z")
    assert(ManifestTable.read(spark, r).count() == 300)
  }

  test("SQL MERGE on a hive-partitioned table: layout survives the rewrite, updates can move rows across partitions") {
    val r = root("dml_merge_part")
    ManifestTable.append(spark, r,
      Seq((1, 0, 10), (2, 1, 20), (3, 0, 30)).toDF("id", "b", "v"),
      partitionBy = Seq("b"))
    Seq((2, 99), (8, 80)).toDF("id", "nv")
      .createOrReplaceTempView("dml_merge_part_src")
    // the UPDATE reassigns the PARTITION column; the INSERT lands in
    // its own b= dir
    val rc = spark.sql(s"""
      MERGE INTO `graft.manifest`.`$r` t USING dml_merge_part_src s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.nv, b = 7
      WHEN NOT MATCHED THEN INSERT (id, b, v) VALUES (s.id, 7, s.nv)""").collect()
    assert(rc.head.getInt(1) == 1 && rc.head.getLong(2) == 1L)
    // partition columns come back LAST from discovery — select explicitly
    val out = ManifestTable.read(spark, r).select("id", "b", "v")
      .as[(Int, Int, Int)].collect().map(x => x._1 -> ((x._2, x._3))).toMap
    assert(out == Map(1 -> ((0, 10)), 2 -> ((7, 99)), 3 -> ((0, 30)),
      8 -> ((7, 80))), s"got $out")
    // the partition column still prunes through the SQL face
    val sql = spark.read.format("graft.manifest").load(r)
    assert(sql.filter(col("b") === 7).count() == 2)
    assert(sql.schema.fieldNames.contains("b"))
  }

  test("DML through Exec.execute with parameter binding — the reference's everything-through-execute posture") {
    val r = root("dml_exec")
    ManifestTable.append(spark, r, (0 until 10).map(i => (i, i)).toDF("id", "v"))
    val ex = new graft.core.Exec(spark)
    val del = ex.execute(
      s"DELETE FROM `graft.manifest`.`$r` WHERE id = :k", Map("k" -> 7))
    assert(del.select("rows_matched").as[Long].head() == 1L)
    ex.execute(
      s"UPDATE `graft.manifest`.`$r` SET v = v * :m WHERE id < :hi",
      Map("m" -> 10, "hi" -> 2))
    val got = ex.execute(s"SELECT sum(v) AS s FROM `graft.manifest`.`$r`")
      .as[Long].head()
    assert(got == (0 until 10).filter(_ != 7)
      .map(i => if (i < 2) i * 10L else i.toLong).sum)
  }

  test("DML round-trip under CreateExclusiveCommit (object-store PUT-if-absent publish)") {
    val r = root("dml_putifabsent")
    val prev = ManifestTable.commitStrategy
    ManifestTable.commitStrategy = ManifestTable.CreateExclusiveCommit
    try {
      threeSegs(r)
      assert(ManifestDml.deleteWhere(spark, r, col("id") === 42) ==
        ManifestDml.DmlReceipt(1, 1L))
      assert(ManifestDml.updateWhere(spark, r,
        Seq("v" -> lit(-9L)), col("id") === 142) ==
        ManifestDml.DmlReceipt(1, 1L))
      Seq((300, 1L), (143, 2L)).toDF("id", "v")
        .createOrReplaceTempView("dml_pia_src")
      spark.sql(s"""
        MERGE INTO `graft.manifest`.`$r` t USING dml_pia_src s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
      val out = ManifestTable.read(spark, r)
      assert(out.count() == 300) // 300 appended - 1 deleted + 1 inserted
      assert(out.filter(col("id") === 142).select("v").as[Long].head() == -9L)
      assert(out.filter(col("id") === 143).select("v").as[Long].head() == 2L)
      assert(out.filter(col("id") === 300).select("v").as[Long].head() == 1L)
      assert(out.filter(col("id") === 42).isEmpty)
    } finally ManifestTable.commitStrategy = prev
  }

  test("DML feed netting: a segment appended and dml-dropped inside one window never surfaces") {
    val r = root("dml_feed_net")
    ManifestTable.setRetainVersions(spark, r, 4)
    ManifestTable.append(spark, r, Seq((1, 10)).toDF("id", "v"))
    val pin = ManifestTable.versions(spark, r).max
    ManifestTable.append(spark, r, Seq((2, 20), (3, 30)).toDF("id", "v"))
    // the DML touches BOTH segments: the in-window one nets out, the
    // consumed one emits its pre-image
    ManifestDml.updateWhere(spark, r, Seq("v" -> lit(99)), col("id") =!= 3)
    val head = ManifestTable.versions(spark, r).max
    val (adds, pre) = ManifestTable.changedSegmentsDml(spark, r, pin, head)
    assert(adds.size == 2 && adds.forall(_.contains("-dml")),
      s"in-window append must net out of the feed (1:1 replacements " +
        s"for the two touched segments remain), got $adds")
    assert(pre.size == 1, s"one consumed pre-image, got $pre")
    val chg = ManifestTable.readChanges(spark, r, pin, head)
    val rebuilt = ManifestTable.readAt(spark, r, pin)
      .join(chg.filter(col("_change_type") === "delete").drop("_change_type"),
        Seq("id", "v"), "left_anti")
      .unionByName(
        chg.filter(col("_change_type") === "insert").drop("_change_type"))
    val now = ManifestTable.read(spark, r)
    assert(rebuilt.exceptAll(now).isEmpty && now.exceptAll(rebuilt).isEmpty)
  }

  /** Commit strategy that fires `interloper()` exactly once, right
    * before the first DML-marked manifest publish — a deterministic
    * two-writer race (the interloper's commit takes the version the
    * DML was about to publish, so the DML's publish loses). */
  private def raceOnce(interloper: () => Unit): ManifestTable.CommitStrategy =
    new ManifestTable.CommitStrategy {
      @volatile private var armed = true
      def publish(f: org.apache.hadoop.fs.FileSystem,
          dir: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path, content: String): Unit = {
        if (armed && content.contains("#dml")) {
          armed = false
          interloper()
        }
        ManifestTable.RenameCommit.publish(f, dir, dst, content)
      }
    }

  test("DML OCC retry: an append interleaver retries to success (serialized DML-then-append); default stays loud") {
    val r = root("dml_occ_retry")
    threeSegs(r)
    val prev = ManifestTable.commitStrategy
    try {
      ManifestTable.commitStrategy = raceOnce(() =>
        ManifestTable.append(spark, r, Seq((777, 7770)).toDF("id", "v")))
      val rc = ManifestDml.deleteWhere(spark, r, col("id") === 150,
        retryRaces = true)
      assert(rc == ManifestDml.DmlReceipt(1, 1L))
      val now = ManifestTable.read(spark, r)
      assert(now.count() == 300) // 300 - 1 deleted + 1 appended
      assert(now.filter(col("id") === 150).isEmpty)
      assert(now.filter(col("id") === 777).count() == 1)
      // both commits are in history: the append won its version, the
      // DML retried onto the next one
      val kinds = ManifestTable.history(spark, r).map(_.kind)
      assert(kinds.count(_ == "dml") == 1 && kinds.count(_ == "append") == 4)
    } finally ManifestTable.commitStrategy = prev
    // default (no opt-in): the same race is a loud single-winner loss
    try {
      ManifestTable.commitStrategy = raceOnce(() =>
        ManifestTable.append(spark, r, Seq((778, 7780)).toDF("id", "v")))
      intercept[ManifestTable.CommitRaceLost] {
        ManifestDml.deleteWhere(spark, r, col("id") === 155)
      }
    } finally ManifestTable.commitStrategy = prev
  }

  test("DML OCC retry: an overlapping DML interleaver conflicts loudly (touched segment rewritten under us)") {
    val r = root("dml_occ_overlap")
    threeSegs(r)
    val prev = ManifestTable.commitStrategy
    try {
      // the interloper UPDATEs a row in the SAME segment ([100,200))
      // the outer DELETE is rewriting — true overlap, never retried
      ManifestTable.commitStrategy = raceOnce(() =>
        ManifestDml.updateWhere(spark, r, Seq("v" -> lit(-1L)),
          col("id") === 155))
      val e = intercept[ManifestTable.CommitRaceLost] {
        ManifestDml.deleteWhere(spark, r, col("id") === 150,
          retryRaces = true)
      }
      assert(e.getMessage.contains("true overlap"), e.getMessage)
    } finally ManifestTable.commitStrategy = prev
    // the interloper's update is the table state (single winner)
    assert(ManifestTable.read(spark, r)
      .filter(col("id") === 155).select("v").as[Long].head() == -1L)
    assert(ManifestTable.read(spark, r).filter(col("id") === 150).count() == 1)
    // a merge-on-read tombstone interleaver is also a loud conflict
    // (rewriting under unseen tombstones could resurrect deleted rows)
    val r2 = root("dml_occ_tombstone")
    threeSegs(r2)
    try {
      ManifestTable.commitStrategy = raceOnce(() =>
        ManifestTable.delete(spark, r2, Seq(250).toDF("id")))
      val e2 = intercept[ManifestTable.CommitRaceLost] {
        ManifestDml.deleteWhere(spark, r2, col("id") === 150,
          retryRaces = true)
      }
      assert(e2.getMessage.contains("tombstone") ||
        e2.getMessage.contains("merge-on-read"), e2.getMessage)
    } finally ManifestTable.commitStrategy = prev
  }

  test("MERGE dynamic target pruning: a point merge's match scan opens only the admitting segment") {
    val r = root("dml_merge_prune")
    threeSegs(r) // zone maps + blooms on id, ranges [0,100),[100,200),[200,300)
    Seq((150, -1L), (151, -2L)).toDF("id", "nv")
      .createOrReplaceTempView("merge_prune_src")
    val rc = spark.sql(
      s"MERGE INTO `graft.manifest`.`$r` t USING merge_prune_src s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.nv " +
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)").collect()
    assert(rc.head.getInt(1) == 1 && rc.head.getLong(2) == 2L)
    // the ON-clause key set pruned the match scan to ONE segment —
    // without dynamic pruning the join would list all three
    assert(graft.sources.ManifestSource.lastListedSegments.size == 1,
      s"match scan listed ${graft.sources.ManifestSource.lastListedSegments}")
    val out = ManifestTable.read(spark, r)
    assert(out.filter(col("id") === 150).select("v").as[Long].head() == -1L)
    assert(out.count() == 300)
    // insert-only merge takes the same pruned anti-join
    Seq((150, 0L), (999, 9990L)).toDF("id", "nv")
      .createOrReplaceTempView("merge_prune_src2")
    val rc2 = spark.sql(
      s"MERGE INTO `graft.manifest`.`$r` t USING merge_prune_src2 s " +
        "ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)").collect()
    assert(rc2.head.getString(0) == "merge")
    assert(ManifestTable.read(spark, r).filter(col("id") === 999).count() == 1)
    assert(ManifestTable.read(spark, r).count() == 301)
    spark.catalog.dropTempView("merge_prune_src")
    spark.catalog.dropTempView("merge_prune_src2")
  }

  test("MERGE on a struct-typed ON key: no literal prune is attempted, the merge still lands") {
    val r = root("dml_merge_structkey")
    ManifestTable.append(spark, r,
      spark.sql("SELECT named_struct('a', id, 'b', 'k' || id) AS k, id AS v " +
        "FROM range(4)"))
    spark.sql("SELECT named_struct('a', id, 'b', 'k' || id) AS k, id * 10 AS nv " +
        "FROM range(2, 6)")
      .createOrReplaceTempView("merge_struct_src")
    // an atomic-key merge would build an isin()/lit() prune; a struct
    // key cannot be literalized — the guard must skip the prune, not
    // throw at planning
    val rc = spark.sql(
      s"MERGE INTO `graft.manifest`.`$r` t USING merge_struct_src s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.nv " +
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)").collect()
    assert(rc.head.getString(0) == "merge")
    val out = ManifestTable.read(spark, r)
    assert(out.count() == 6)
    assert(out.filter(col("v") === 30L).count() == 1, "matched row updated")
    assert(out.filter(col("v") === 50L).count() == 1, "unmatched row inserted")
    spark.catalog.dropTempView("merge_struct_src")
  }

  test("MERGE WITH SCHEMA EVOLUTION: star actions graft source-only columns, untouched segments read NULL additively") {
    val r = root("dml_merge_evolve")
    ManifestTable.append(spark, r, Seq((1, 10), (2, 20)).toDF("id", "v"),
      statsCols = Seq("id"))
    ManifestTable.append(spark, r, Seq((5, 50), (6, 60)).toDF("id", "v"),
      statsCols = Seq("id"))
    Seq((2, 99, "x2"), (3, 30, "x3")).toDF("id", "v", "extra")
      .createOrReplaceTempView("evolve_src")
    val rc = spark.sql(
      s"MERGE WITH SCHEMA EVOLUTION INTO `graft.manifest`.`$r` t " +
        "USING evolve_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      .collect()
    assert(rc.head.getString(0) == "merge" && rc.head.getInt(1) == 1)
    val out = spark.sql(
      s"SELECT id, v, extra FROM `graft.manifest`.`$r` ORDER BY id")
      .collect().map(x => (x.getInt(0), x.getInt(1),
        Option(x.getString(2)).getOrElse("-")))
    assert(out.toSeq == Seq((1, 10, "-"), (2, 99, "x2"), (3, 30, "x3"),
      (5, 50, "-"), (6, 60, "-")),
      out.toSeq.toString)
    // the untouched segment ([5,6]) stayed byte-identical: evolution is
    // additive through the relation's schema union, not a rewrite
    assert(ManifestTable.segments(spark, r).count(_.contains("-dml")) == 2)
    // WITHOUT the keyword, the same statement fails resolution (extra
    // is not a target column) — evolution is opt-in per statement
    val e = intercept[Exception] {
      spark.sql(s"MERGE INTO `graft.manifest`.`$r@v2` t USING evolve_src s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET t.nope = s.extra")
    }
    assert(e.getMessage != null)
    spark.catalog.dropTempView("evolve_src")
  }

  test("nested-field UPDATE: SET s.f composes withField onto the pre-image, schema unchanged; non-struct and duplicate field are loud") {
    val r = root("dml_nested_upd")
    ManifestTable.append(spark, r, Seq((1, (10, "a")), (2, (20, "b")))
      .toDF("id", "s"))
    val rc = spark.sql(
      s"UPDATE `graft.manifest`.`$r` SET s._1 = s._1 + 89, s._2 = 'z' " +
        "WHERE id = 1").collect()
    assert(rc.head.getLong(2) == 1L)
    val out = spark.sql(
      s"SELECT id, s._1 AS a, s._2 AS b FROM `graft.manifest`.`$r` ORDER BY id")
      .collect().map(x => (x.getInt(0), x.getInt(1), x.getString(2)))
    assert(out.toSeq == Seq((1, 99, "z"), (2, 20, "b")), out.toSeq.toString)
    // MERGE's matched UPDATE takes the same nested path
    Seq((2, 7)).toDF("id", "nv").createOrReplaceTempView("nested_src")
    spark.sql(s"MERGE INTO `graft.manifest`.`$r` t USING nested_src s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET t.s._1 = s.nv")
    assert(spark.sql(s"SELECT s._1 FROM `graft.manifest`.`$r` WHERE id = 2")
      .head().getInt(0) == 7)
    // loud edges: duplicate nested target; assignment under a non-struct
    val e = intercept[Exception] {
      spark.sql(s"UPDATE `graft.manifest`.`$r` SET s._1 = 1, s._1 = 2")
    }
    assert(e.getMessage.contains("more than once") ||
      e.getMessage.toLowerCase.contains("duplicate"), e.getMessage)
    spark.catalog.dropTempView("nested_src")
  }

  test("streaming upsert into the manifest log: per-batch DML windows on the feed, replay leaves state byte-equal") {
    import graft.streaming.Stream
    val r = root("dml_stream_upsert")
    ManifestTable.setRetainVersions(spark, r, 6)
    def batchDf(rows: Seq[(Long, Long, Long, Double)]) =
      rows.toDF("user_id", "us", "event_id", "value")
    // batch 0: bootstrap append
    Stream.mergeUpsertBatch(spark, r,
      batchDf(Seq((1L, 100L, 1L, 1.0), (2L, 100L, 2L, 2.0))), 0L)
    assert(ManifestTable.history(spark, r).map(_.kind) == Seq("append"))
    // batch 1: update user 1 (newer), insert user 3, stale row for 2 ignored
    Stream.mergeUpsertBatch(spark, r,
      batchDf(Seq((1L, 200L, 5L, 9.0), (2L, 50L, 0L, 0.5), (3L, 150L, 7L, 3.0))), 1L)
    val afterB1 = ManifestTable.read(spark, r).orderBy("user_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(afterB1.toSeq == Seq((1L, 200L, 5L, 9.0), (2L, 100L, 2L, 2.0),
      (3L, 150L, 7L, 3.0)), afterB1.toSeq.toString)
    // the feed sees batch 1 as a DML window: pre-image deletes + inserts
    val kinds = ManifestTable.history(spark, r).map(_.kind)
    assert(kinds == Seq("append", "dml"), kinds.toString)
    val chg = ManifestTable.readChanges(spark, r, 1L, 2L)
    assert(chg.filter(col("_change_type") === "delete").count() > 0)
    // replay of batch 1 (at-least-once re-delivery): state identical
    val headBefore = ManifestTable.versions(spark, r).max
    Stream.mergeUpsertBatch(spark, r,
      batchDf(Seq((1L, 200L, 5L, 9.0), (2L, 50L, 0L, 0.5), (3L, 150L, 7L, 3.0))), 1L)
    val replayed = ManifestTable.read(spark, r).orderBy("user_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(replayed.toSeq == afterB1.toSeq, "replay must be a state no-op")
    // and the replay window's feed nets to the same state for consumers
    val head = ManifestTable.versions(spark, r).max
    if (head > headBefore) {
      val w = ManifestTable.readChanges(spark, r, headBefore, head)
      val rebuilt = ManifestTable.readAt(spark, r, headBefore)
        .join(w.filter(col("_change_type") === "delete").drop("_change_type"),
          Seq("user_id", "us", "event_id", "value"), "left_anti")
        .unionByName(w.filter(col("_change_type") === "insert")
          .drop("_change_type"))
      assert(rebuilt.orderBy("user_id").collect().toSeq ==
        ManifestTable.read(spark, r).orderBy("user_id").collect().toSeq)
    }
  }

  test("ALTER commits on the head it checked: a marker pinned to a moved head fails loudly and commits nothing") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val r = root("dml_alter_pinned")
    ManifestTable.append(spark, r, Seq((1, 10)).toDF("id", "v"))
    val v = ManifestTable.versions(spark, r).max
    val head = ManifestTable.manifestSnapshot(spark, r, v)
    // another writer commits between the ALTER's checks on `head` and
    // its marker's commit
    ManifestTable.append(spark, r, Seq((2, 20)).toDF("id", "v"))
    val marker = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("id", IntegerType), StructField("v", IntegerType),
        StructField("w", LongType))))
    intercept[ManifestTable.CommitRaceLost] {
      ManifestTable.appendReserved(spark, r, marker, tag = Some("alter"),
        at = Some((v, head)))
    }
    assert(ManifestTable.versions(spark, r).max == v + 1)
    assert(!ManifestTable.read(spark, r).columns.contains("w"))
    // uncontended, addColumns checks and commits on one head
    ManifestTable.addColumns(spark, r, Seq("w" -> LongType))
    assert(ManifestTable.versions(spark, r).max == v + 2)
    assert(ManifestTable.read(spark, r).orderBy("id").collect().toSeq.map(_.toSeq) ==
      Seq(Seq(1, 10, null), Seq(2, 20, null)))
  }

  test("commit timestamps live IN the manifest: time travel and history survive scrambled file mtimes") {
    val r = root("dml_embedded_ts")
    ManifestTable.append(spark, r, Seq((1, 10)).toDF("id", "v"))
    Thread.sleep(15)
    ManifestTable.append(spark, r, Seq((2, 20)).toDF("id", "v"))
    Thread.sleep(15)
    val fence = java.time.LocalDateTime.now()
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    Thread.sleep(15)
    ManifestTable.append(spark, r, Seq((3, 30)).toDF("id", "v"))
    val times = ManifestTable.versionsWithTimes(spark, r)
    assert(times.map(_._2) == times.map(_._2).sorted && times.size == 3)
    // a restore/copy scrambles mtimes: set them all to 2001, reversed
    val dir = java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(r).toUri.getPath)
    java.nio.file.Files.list(dir).forEach { f =>
      if (f.getFileName.toString.startsWith("_manifest.v"))
        java.nio.file.Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(
            978307200000L - f.getFileName.toString.hashCode % 1000))
    }
    // embedded #ts stamps keep the answers identical
    assert(ManifestTable.versionsWithTimes(spark, r) == times,
      "commit times must come from the manifest content, not file mtimes")
    assert(spark.sql(s"SELECT count(1) FROM `graft.manifest`.`$r` " +
      s"TIMESTAMP AS OF '$fence'").head().getLong(0) == 2L)
    assert(ManifestTable.history(spark, r).map(c => (c.version, c.timeMs)) ==
      times.map { case (v, t) => (v, t) })
    // monotonicity clamp: a prior commit stamped by a FAST clock (multi-
    // writer skew) must not order AFTER the next commit — rewrite v3's
    // #ts line an hour into the future, commit v4, and the stamps must
    // still be strictly increasing (v4 = future+1, the max(prev+1, now)
    // contract), so TIMESTAMP AS OF keeps resolving whole prefixes
    val future = System.currentTimeMillis() + 3600 * 1000L
    val v3 = dir.resolve("_manifest.v3")
    val lines = java.nio.file.Files.readAllLines(v3)
    val rewritten = new java.util.ArrayList[String]()
    lines.forEach(l => rewritten.add(
      if (l.startsWith("#ts ")) s"#ts $future" else l))
    java.nio.file.Files.write(v3, rewritten)
    ManifestTable.append(spark, r, Seq((4, 40)).toDF("id", "v"))
    val stamped = ManifestTable.versionsWithTimes(spark, r)
    assert(stamped.map(_._2) == stamped.map(_._2).sorted,
      s"commit stamps must be monotone under clock skew: $stamped")
    assert(stamped.last._2 == future + 1,
      s"skewed-clock successor must stamp prev+1: $stamped vs $future")
  }

  test("DML condition guards: nondeterministic rejected loudly; time functions bound once across both phases") {
    val r = root("dml_cond_guards")
    threeSegs(r)
    // rand() could match different rows in the match scan vs the rewrite
    val e = intercept[IllegalArgumentException] {
      ManifestDml.deleteWhere(spark, r, rand() < 0.5)
    }
    assert(e.getMessage.contains("nondeterministic"))
    val e2 = intercept[IllegalArgumentException] {
      ManifestDml.updateWhere(spark, r, Seq("v" -> lit(0)), rand() < lit(2.0))
    }
    assert(e2.getMessage.contains("nondeterministic"))
    assert(ManifestTable.read(spark, r).count() == 300) // nothing applied
    // current_timestamp folds to ONE literal: everything is in the past,
    // so the delete hits every row — and both phases agreed on the stamp
    val ts = spark.sql("SELECT current_timestamp()").collect() // warm session tz
    assert(ts.nonEmpty)
    val rc = ManifestDml.deleteWhere(spark, r,
      to_timestamp(lit("1999-01-01")) < current_timestamp() && col("id") === 7)
    assert(rc.rowsMatched == 1L)
    // SQL face takes the same guard path
    val e3 = intercept[Exception] {
      spark.sql(s"DELETE FROM `graft.manifest`.`$r` WHERE rand() < 0.5")
    }
    assert(e3.getMessage.contains("nondeterministic"))
  }

  test("SQL DML: correlated subquery conditions rejected with a clean message; uncorrelated IN-subquery works") {
    val r = root("dml_subq")
    threeSegs(r)
    Seq((150, 1), (151, 1)).toDF("id", "flag").createOrReplaceTempView("dml_subq_keys")
    // uncorrelated: self-contained subquery plan rides through the rebase
    val del = spark.sql(
      s"DELETE FROM `graft.manifest`.`$r` WHERE id IN " +
        "(SELECT id FROM dml_subq_keys)").collect()
    assert(del.head.getLong(2) == 2L)
    assert(ManifestTable.read(spark, r).count() == 298)
    // correlated: outer references inside the subquery PLAN cannot be
    // rebased — loud, actionable rejection instead of an internal error
    val e = intercept[Exception] {
      spark.sql(
        s"DELETE FROM `graft.manifest`.`$r` t WHERE EXISTS " +
          "(SELECT 1 FROM dml_subq_keys k WHERE k.id = t.id)")
    }
    assert(e.getMessage.contains("correlated subqueries are not supported"),
      e.getMessage)
    spark.catalog.dropTempView("dml_subq_keys")
  }

  test("readChanges verifyDeletes: cross-segment full-row duplicate is detected loudly; keyed windows pass") {
    val r = root("dml_feed_verify")
    ManifestTable.setRetainVersions(spark, r, 4)
    // same full row (7, 70) lives in TWO segments; DML touches only one
    ManifestTable.append(spark, r, Seq((7, 70), (1, 10)).toDF("id", "v"),
      statsCols = Seq("id"))
    ManifestTable.append(spark, r, Seq((7, 70), (200, 2000)).toDF("id", "v"),
      statsCols = Seq("id"))
    val pin = ManifestTable.versions(spark, r).max
    // touch only the second segment (id=200 lives there alone)
    ManifestDml.deleteWhere(spark, r, col("id") === 200)
    val head = ManifestTable.versions(spark, r).max
    // the table still holds TWO (7,70) rows; an anti-join consumer of the
    // unverified feed would kill both and re-insert one → divergence
    assert(ManifestTable.read(spark, r)
      .filter(col("id") === 7).count() == 2)
    val e = intercept[IllegalArgumentException] {
      ManifestTable.readChanges(spark, r, pin, head, verifyDeletes = true)
    }
    assert(e.getMessage.contains("cross-segment duplicate"), e.getMessage)
    // without the opt-in check the window still reads (documented caveat)
    assert(ManifestTable.readChanges(spark, r, pin, head).count() > 0)
    // ROW identity upgrades the hazard to a correct round-trip: the
    // consumer bootstraps with _row_id, applies the window's deletes by
    // id alone — only the TOUCHED (7,70) copy dies, the untouched one
    // survives, and the rebuilt state equals the table exactly
    val idChg = ManifestTable.readChanges(spark, r, pin, head, rowId = true)
    val idState = ManifestTable.readWithRowId(spark, r) // just for schema shape
    assert(idState.columns.contains("_row_id"))
    // state AS OF the pin, with row ids: the pinned segments read back
    // with the same ids the feed's pre-images carry (immutability)
    val bootstrapped = ManifestTable.readChanges(spark, r, 0L, pin, rowId = true)
      .filter(col("_change_type") === "insert").drop("_change_type")
    val idRebuilt = bootstrapped
      .join(idChg.filter(col("_change_type") === "delete").select("_row_id"),
        Seq("_row_id"), "left_anti")
      .unionByName(idChg.filter(col("_change_type") === "insert")
        .drop("_change_type"))
      .drop("_row_id")
    val idNow = ManifestTable.read(spark, r)
    assert(idRebuilt.exceptAll(idNow).isEmpty && idNow.exceptAll(idRebuilt).isEmpty,
      "row-identity feed must round-trip the cross-segment duplicate")
    assert(idRebuilt.filter(col("id") === 7).count() == 2,
      "the untouched duplicate copy must survive the identity delete")
    // a table with unique keys passes verification
    val r2 = root("dml_feed_verify_ok")
    ManifestTable.setRetainVersions(spark, r2, 4)
    ManifestTable.append(spark, r2, Seq((1, 10), (2, 20)).toDF("id", "v"))
    ManifestTable.append(spark, r2, Seq((3, 30), (4, 40)).toDF("id", "v"))
    val pin2 = ManifestTable.versions(spark, r2).max
    ManifestDml.deleteWhere(spark, r2, col("id") === 3)
    val head2 = ManifestTable.versions(spark, r2).max
    val chg = ManifestTable.readChanges(spark, r2, pin2, head2,
      verifyDeletes = true)
    val rebuilt = ManifestTable.readAt(spark, r2, pin2)
      .join(chg.filter(col("_change_type") === "delete").drop("_change_type"),
        Seq("id", "v"), "left_anti")
      .unionByName(
        chg.filter(col("_change_type") === "insert").drop("_change_type"))
    val now = ManifestTable.read(spark, r2)
    assert(rebuilt.exceptAll(now).isEmpty && now.exceptAll(rebuilt).isEmpty)
  }

  test("streaming sink OCC: a concurrent append interleaving a micro-batch commit retries silently — both writers land") {
    val r = root("dml_sink_occ")
    val rp = new org.apache.hadoop.fs.Path(r)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // v1 seeds the table so the sink's batch is a plain append
    ManifestTable.append(spark, r, Seq((100L, 1.0)).toDF("k", "v"))
    // the concurrent appender's segment dir, written but not yet
    // committed when the micro-batch starts (the GC grace window is
    // what keeps a rewrite-class pass from collecting such a dir)
    Seq((200L, 2.0)).toDF("k", "v").coalesce(1)
      .write.parquet(s"$r/seg-2-competitor")
    val v1Segs = ManifestTable.segments(spark, r)
    val competitor =
      (v1Segs :+ "seg-2-competitor").mkString("\n") + "\n"
    // one-shot interposer: the sink's FIRST v2 publish loses to the
    // concurrent appender committing v2 a moment earlier
    val real = ManifestTable.commitStrategy
    @volatile var interposed = false
    ManifestTable.commitStrategy = new ManifestTable.CommitStrategy {
      def publish(f: org.apache.hadoop.fs.FileSystem,
          dir: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path, content: String): Unit = {
        if (!interposed && dst.getName == "_manifest.v2") {
          interposed = true
          real.publish(f, dir, dst, competitor)
        }
        real.publish(f, dir, dst, content)
      }
    }
    try {
      // one real micro-batch through the manifest SINK
      val src = java.nio.file.Files
        .createTempDirectory("graft_sink_occ_").resolve("src").toString
      val cp = java.nio.file.Files
        .createTempDirectory("graft_sink_occ_cp_").toString
      Seq((300L, 3.0), (301L, 3.5)).toDF("k", "v").coalesce(1)
        .write.parquet(src)
      val q = spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
        .writeStream.format("graft.manifest")
        .option("path", r).option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination() // silent: the sink retried past the race
    } finally ManifestTable.commitStrategy = real
    assert(interposed, "the interposer must have fired")
    // three versions: seed, the concurrent append, the retried batch
    assert(ManifestTable.versions(spark, r) == Seq(1L, 2L, 3L))
    val rows = ManifestTable.read(spark, r).orderBy("k").collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(rows == Seq((100L, 1.0), (200L, 2.0), (300L, 3.0), (301L, 3.5)),
      s"both writers' rows must land: $rows")
    // the retried micro-batch segment carries its replay tag at v3
    assert(ManifestTable.segments(spark, r).exists(_.startsWith("seg-3-mb0-")),
      ManifestTable.segments(spark, r).toString)
  }
}
