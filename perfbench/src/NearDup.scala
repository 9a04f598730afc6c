package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.io.ManifestTable
import graft.streaming.{NearDupIndex, Stream}

/** `neardup_stream`: one `Stream.runNearDupDir` call over a directory of
  * seeded document files, one micro-batch per file, each batch pulled
  * only after the previous one commits.
  *
  * Set-up turns the generated documents into one parquet file per batch
  * whose modification times follow batch order (the file source orders
  * files by that time), then warms up with a separate one-batch run on
  * its own table and checkpoint. */
final class NearDup(a: Args) extends Workload {
  private val docsJson = new File(a.inputs, "neardup/docs.jsonl").getAbsolutePath
  private val table = "pb_docs"
  private var dir: String = _
  private val batches = new ConcurrentLinkedQueue[Map[String, Any]]()

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Writes each generated batch as one parquet file: batch -1 under
    * `warm_docs`, the others under `docs`, in batch order. */
  private def writeBatches(spark: SparkSession, repDir: String): Unit = {
    val tmp = s"$repDir/docs_tmp"
    spark.read.schema("b INT, id BIGINT, t STRING").json(docsJson)
      .select(col("id").as("doc_id"), col("t").as("text"), col("b"))
      .repartition(col("b")).write.partitionBy("b").parquet(tmp)
    val parts = new File(tmp).listFiles().filter(_.getName.startsWith("b="))
      .map(d => d.getName.stripPrefix("b=").toInt -> d).sortBy(_._1)
    val t0 = System.currentTimeMillis() - 3600L * 1000
    parts.foreach { case (b, d) =>
      val out = new File(repDir, if (b < 0) "warm_docs" else "docs")
      out.mkdirs()
      val Array(f) = d.listFiles().filter(_.getName.endsWith(".parquet"))
      val dst = new File(out, f"batch-${b + 1}%05d.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(t0 + (b + 1) * 10000L)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new File(tmp))
  }

  private def corpusRoot(spark: SparkSession): String =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), table + "__corpus").toString

  def setup(spark: SparkSession, repDir: String): Unit = {
    dir = repDir
    writeBatches(spark, repDir)
    Stream.runNearDupDir(spark, s"$repDir/warm_docs", s"$repDir/warm_ckpt", "pb_warm")
    Stream.dropNearDup(spark, "pb_warm")
  }

  def run(spark: SparkSession, tracer: Tracer): Map[String, Any] = {
    val files = new File(dir, "docs").listFiles().count(_.getName.endsWith(".parquet"))
    spark.streams.addListener(listener)
    tracer.nextOp()
    val (ms, res) = Main.timed(tracer.span("streaming.Stream.runNearDupDir") {
      Stream.runNearDupDir(spark, s"$dir/docs", s"$dir/ckpt", table)
    })
    val deadline = System.currentTimeMillis() + 10000
    while (batches.size < files && System.currentTimeMillis() < deadline) Thread.sleep(50)
    spark.streams.removeListener(listener)
    val base = Map[String, Any]("timed_s" -> ms / 1000,
      "batches" -> batches.asScala.toSeq.sortBy(_("batch").asInstanceOf[Long]))
    res match {
      case Left(e) => base ++ Map("ok" -> false, "err" -> Main.errText(e))
      case Right(ingested) =>
        try {
          val ids = spark.table(table).select("doc_id").collect().map(_.getLong(0)).sorted
          base ++ Map("ok" -> true, "ingested" -> ingested, "accepted" -> ids.toSeq)
        } catch { case e: Throwable => base ++ Map("ok" -> false, "err" -> Main.errText(e)) }
    }
  }

  def finish(spark: SparkSession): Map[String, Any] = {
    val root = corpusRoot(spark)
    val local = new Path(root).toUri.getPath
    val bytes = Main.walk(new File(local))._2 + Main.walk(new File(local + "__bands"))._2
    val (segs, roots, rows) =
      try (ManifestTable.dataSegments(spark, root).size,
        NearDupIndex.indexRoots(spark, root).size,
        ManifestTable.read(spark, root).count())
      catch { case _: Throwable => (0, 0, 0L) }
    Map("stored_bytes" -> bytes, "stored_rows" -> rows, "segments_at_end" -> segs,
      "index_roots_at_end" -> roots)
  }
}
