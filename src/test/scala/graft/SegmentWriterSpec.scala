package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ManifestDml, ManifestTable}

/** Every manifest write verb commits its segments through one writer.
  * Each verb runs once on its own tiny table; the suite checks what the
  * verb committed against what its segment dirs hold (writer parity)
  * and counts the Spark jobs the verb ran (job budget). */
class SegmentWriterSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private val statCols = Seq("id", "ts", "d", "s")
  private val bloomCols = Seq("id", "sn")

  /** `n` rows from `lo`: numeric, timestamp, date and string stat
    * columns, a nullable Bloom column, a partition column `p`, and a
    * nested column whose inner fields are non-nullable. */
  private def batch(lo: Long, n: Int): DataFrame =
    spark.range(lo, lo + n).toDF("id")
      .withColumn("s", concat(lit("s"), (col("id") % 7).cast("string")))
      .withColumn("q", (col("id") * 7919) % 1000)
      .withColumn("p", (col("id") % 2).cast("int"))
      .withColumn("ts", timestamp_seconds(col("id") * 3600))
      .withColumn("d", date_add(lit("2024-01-01").cast("date"), (col("id") % 30).cast("int")))
      .withColumn("sn", when(col("id") % 5 === 0, lit(null)).otherwise(col("s")))
      .withColumn("nest", struct(col("id").as("a"), array(col("q")).as("b")))

  private def seed(root: String, k: Int, partitionBy: Seq[String] = Nil): Unit =
    (0 until k).foreach(i => ManifestTable.append(spark, root, batch(i * 100L, 40),
      partitionBy = partitionBy, statsCols = statCols, bloomCols = bloomCols))

  private val part = Seq("p")
  private val hit = col("id") % 10 === 3

  /** (verb, table setup, the verb itself). */
  private val verbs: Seq[(String, String => Unit, String => Unit)] = Seq(
    ("append flat", seed(_, 1), r => ManifestTable.append(spark, r, batch(1000L, 40),
      statsCols = statCols, bloomCols = bloomCols)),
    ("append partitioned", seed(_, 1, part), r => ManifestTable.append(spark, r,
      batch(1000L, 40), partitionBy = part, statsCols = statCols, bloomCols = bloomCols)),
    ("delete", seed(_, 1), r => ManifestTable.delete(spark, r, batch(0L, 5).select("id"))),
    ("replace", seed(_, 1), r => ManifestTable.replace(spark, r, batch(2000L, 40),
      statsCols = statCols, bloomCols = bloomCols)),
    ("optimize", seed(_, 3), r => assert(ManifestTable.optimize(spark, r, Long.MaxValue) == 3)),
    ("cluster", seed(_, 3), r => ManifestTable.cluster(spark, r, "id", 3,
      statsCols = Seq("id", "ts"))),
    ("clusterZ", seed(_, 3), r => ManifestTable.clusterZ(spark, r, "id", "q", 3)),
    ("clusterRange", seed(_, 3), r => assert(
      ManifestTable.clusterRange(spark, r, "id", Some(0L), Some(250L), 2) == 3)),
    ("deleteWhere flat", seed(_, 3), r => ManifestDml.deleteWhere(spark, r, hit)),
    ("updateWhere flat", seed(_, 3), r =>
      ManifestDml.updateWhere(spark, r, Seq("q" -> lit(-1L)), hit)),
    ("deleteWhere partitioned", seed(_, 3, part), r => ManifestDml.deleteWhere(spark, r, hit)),
    ("updateWhere partitioned", seed(_, 3, part), r =>
      ManifestDml.updateWhere(spark, r, Seq("q" -> lit(-1L)), hit)),
    // the same partitioned DML touching two of four segments, then all four
    ("deleteWhere partitioned, 2 touched", seed(_, 4, part), r =>
      ManifestDml.deleteWhere(spark, r, hit && col("id") < 200)),
    ("deleteWhere partitioned, 4 touched", seed(_, 4, part), r =>
      ManifestDml.deleteWhere(spark, r, hit)))

  /** Spark jobs `body` runs, the listener bus drained on both sides. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftBenchInternals.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftBenchInternals.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** verb -> (table root, Spark jobs the verb ran). */
  private lazy val runs: Map[String, (String, Int)] = verbs.zipWithIndex.map {
    case ((verb, setup, run), i) =>
      val root = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), s"graft_writer_spec_$i").toString
      ManifestTable.destroy(spark, root)
      setup(root)
      verb -> (root, jobsOf(run(root)))
  }.toMap

  test("writer parity: every segment a write verb commits carries the #meta its dir derives") {
    verbs.foreach { case (verb, _, _) =>
      val (root, _) = runs(verb)
      val v = ManifestTable.versions(spark, root).last
      val snap = ManifestTable.manifestSnapshot(spark, root, v)
      val before = ManifestTable.segmentsAt(spark, root, v - 1).toSet
      val fresh = snap.segs.filterNot(before)
      assert(fresh.nonEmpty, s"$verb committed no segment")
      fresh.foreach { seg =>
        val embedded = snap.metas.getOrElse(seg, fail(s"$verb: $seg has no #meta line"))
        val derived = ManifestTable.metaOf(spark, root, seg, None)
        assert(embedded.files.sorted == derived.files.sorted, s"$verb: $seg files")
        assert(embedded.stats == derived.stats, s"$verb: $seg stats")
        assert(embedded.blooms.toSet == derived.blooms.toSet, s"$verb: $seg Bloom columns")
        if (embedded.files.nonEmpty) {
          val footer = spark.read.parquet(s"$root/$seg").schema
          assert(embedded.schema.contains(footer),
            s"$verb: $seg embeds ${embedded.schema.map(_.treeString)} but reads back ${footer.treeString}")
        }
      }
    }
    // the parity covered stats and Bloom sidecars, flat and partitioned
    val appended = ManifestTable.segmentMetas(spark, runs("append partitioned")._1)
    assert(appended.values.forall(m => m.stats.isDefined && m.blooms.toSet == bloomCols.toSet))
    assert(appended.values.forall(m => ManifestTable.layoutOf(m).contains(part)))
  }

  /** Spark jobs per verb on these tiny tables; measured at the parent of
    * the one-writer change, which these budgets may only undercut. */
  private val budgets = Map(
    "append flat" -> 9,
    "append partitioned" -> 12,
    "delete" -> 2,
    "replace" -> 9,
    "optimize" -> 9,
    "cluster" -> 6,
    "clusterZ" -> 6,
    "clusterRange" -> 5,
    "deleteWhere flat" -> 7,
    "updateWhere flat" -> 7,
    "deleteWhere partitioned" -> 36,
    "updateWhere partitioned" -> 36,
    "deleteWhere partitioned, 2 touched" -> 25,
    "deleteWhere partitioned, 4 touched" -> 47)

  test("job budget: no write verb runs more Spark jobs than its budget") {
    val counts = verbs.map { case (verb, _, _) => verb -> runs(verb)._2 }
    counts.foreach { case (verb, n) => info(s"$verb: $n jobs (budget ${budgets(verb)})") }
    counts.foreach { case (verb, n) =>
      assert(n <= budgets(verb), s"$verb ran $n Spark jobs, budget ${budgets(verb)}")
    }
    // a partitioned DML's jobs do not grow with the segments it touches
    assert(runs("deleteWhere partitioned, 4 touched")._2 ==
      runs("deleteWhere partitioned, 2 touched")._2)
  }
}
