package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The locopy round trip that is the `etl` op of `lakehouse_mix`.
  *
  * Each cycle takes a delimited file no earlier cycle used and carries it
  * split → gzip → stage → load (inferred types) → aggregate + fetch →
  * single-file export → re-inference on a string projection → insert
  * into a new table. Shards are headerless after the split (the split
  * drops the header, as locopy's does), so the load reads positional
  * columns `_c0`..`_c6`: id, qty, price, ship_date, nq, flag, comment. */
final class Etl(inputs: String) {
  private val inDir = new File(inputs, "etl")
  private var dir: String = _

  /** Points later cycles at `repDir` and runs the warm-up cycle. */
  def setup(spark: SparkSession, repDir: String): Map[String, Any] = {
    dir = repDir
    cycle(spark, new Tracer(false), "warm")
  }

  /** One cycle over the file `name`.csv; returns its timing and everything
    * the checker compares against the generator. Check queries run after
    * the clock stops. */
  def cycle(spark: SparkSession, tracer: Tracer, name: String): Map[String, Any] = {
    val src = new File(inDir, name + ".csv")
    val work = new File(dir, s"etl/$name"); work.mkdirs()
    val stageDir = s"file://$dir/stage/$name"
    val loaded = s"etl_${name}_load"
    val inserted = s"etl_${name}_ins"
    val exportPath = s"${work.getAbsolutePath}/export.csv"
    val exec = new graft.core.Exec(spark)
    var aggRows: Seq[Map[String, Any]] = Nil
    var inferred: Seq[String] = Nil
    val (ms, res) = Main.timed(tracer.span("lake.etl", spark = false) {
      val shards = tracer.span("io.LocalFiles.splitFile", spark = false) {
        graft.io.LocalFiles.splitFile(src.getAbsolutePath, s"${work.getAbsolutePath}/part",
          splits = 4, ignoreHeader = 1)
      }
      val gz = tracer.span("io.LocalFiles.compressFileList", spark = false) {
        graft.io.LocalFiles.compressFileList(shards)
      }
      tracer.span("io.Stage.putList", spark = false) {
        new graft.io.Stage(spark).putList(gz, stageDir)
      }
      tracer.span("io.Load.loadAndCopy") {
        graft.io.Load.loadAndCopy(spark, stageDir, loaded, fileType = "csv")
      }
      tracer.span("core.Exec.execute") {
        exec.execute(s"SELECT _c5 AS flag, count(*) AS n, sum(_c1) AS qty, " +
          s"max(_c3) AS last_ship FROM $loaded GROUP BY _c5")
      }
      aggRows = tracer.span("core.Exec.toDict")(exec.toDict().toList)
      tracer.span("io.Unload.unloadAndCopy") {
        graft.io.Unload.unloadAndCopy(spark, s"SELECT * FROM $loaded",
          s"file://${work.getAbsolutePath}/unload", Some(s"file://$exportPath"))
      }
      val t = spark.table(loaded)
      val strings = t.select(t.columns.toIndexedSeq.map(c => col(c).cast("string").as(c)): _*)
      val schema = tracer.span("schema.Infer.inferSchema")(graft.schema.Infer.inferSchema(strings))
      inferred = schema.fields.toSeq.map(_.dataType.simpleString)
      tracer.span("io.Insert.insertDataFrame") {
        graft.io.Insert.insertDataFrame(spark, strings, inserted, create = true,
          metadata = Some(schema))
      }
    })
    val base = Map[String, Any]("name" -> name, "ms" -> ms)
    res match {
      case Left(e) => base ++ Map("ok" -> false, "err" -> Main.errText(e))
      case Right(_) =>
        try {
          val t = spark.table(loaded)
          val sums = t.agg(count(lit(1)), sum("_c0"), sum("_c1"), sum("_c2"), count("_c4"),
            sum("_c4"), min("_c3"), max("_c3"), sum(length(col("_c6"))),
            countDistinct("_c5")).head()
          val ins = spark.table(inserted).agg(count(lit(1)), sum("_c0")).head()
          val lines = scala.io.Source.fromFile(exportPath)
          val exportLines = try lines.getLines().size finally lines.close()
          base ++ Map("ok" -> true, "r" -> Map(
            "loaded_types" -> t.schema.fields.toSeq.map(_.dataType.simpleString),
            "inferred_types" -> inferred,
            "rows" -> sums.getLong(0), "sum_id" -> sums.get(1), "sum_qty" -> sums.get(2),
            "sum_price" -> sums.get(3), "nq_count" -> sums.get(4), "sum_nq" -> sums.get(5),
            "min_date" -> sums.get(6).toString, "max_date" -> sums.get(7).toString,
            "comment_chars" -> sums.get(8), "flags" -> sums.get(9),
            "agg" -> aggRows.map(_.map { case (k, d: java.sql.Date) => k -> d.toString
              case kv => kv }).sortBy(_("flag").toString),
            "export_lines" -> exportLines,
            "inserted_rows" -> ins.getLong(0), "inserted_sum_id" -> ins.get(1)))
        } catch { case e: Throwable => base ++ Map("ok" -> false, "err" -> Main.errText(e)) }
    }
  }
}
