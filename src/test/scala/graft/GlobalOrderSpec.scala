package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GlobalOrder

/** `GlobalOrder.exclusivePrefix` against the single-window reference
  * `coalesce(sum(w) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
  * AND 1 PRECEDING), 0)`, over key types, bucket widths and degenerate
  * inputs. */
class GlobalOrderSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val weights = Seq(col("w1") -> "p1", col("w2") -> "p2", lit(0L) -> "p0")

  private def reference(df: DataFrame): Set[Row] = {
    val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    df.select(col("k") +: weights.map { case (c, out) =>
      coalesce(sum(c).over(w), lit(0L)).as(out) }: _*).collect().toSet
  }

  /** Checks every bucket expression against the reference; the input
    * has columns k (unique key), w1, w2 (non-negative long weights). */
  private def check(name: String, df: DataFrame, buckets: Seq[(String, Column)]): Unit = {
    val want = reference(df)
    for ((label, bucket) <- buckets) {
      val got = GlobalOrder.exclusivePrefix(df, "k", bucket, weights: _*)
        .select("k", "p1", "p2", "p0").collect()
      assert(got.length == want.size && got.toSet == want,
        s"$name, bucket $label: ${got.length} rows vs ${want.size}; " +
          s"diff ${(got.toSet diff want).take(5)}")
    }
  }

  private def widths(ws: Double*): Seq[(String, Column)] =
    ws.map(w => s"floor(k/$w)" -> floor(col("k") / w).cast("long"))
  private val degenerate = Seq("one bucket" -> lit(0L), "one per row" -> col("k"))

  test("double keys: negative, fractional, a null first, every bucket width") {
    val rnd = new scala.util.Random(11)
    val keys = Seq.fill(300)(math.round((rnd.nextDouble() - 0.5) * 2e5) / 100.0).distinct
    val rows = keys.map(k => (Option(k), rnd.nextInt(4).toLong, rnd.nextInt(1000).toLong)) :+
      ((None, 5L, 7L))
    check("double", rows.toDF("k", "w1", "w2"), degenerate ++ widths(0.5, 7, 1000))
  }

  test("long keys, including ids far apart, every bucket width") {
    val rnd = new scala.util.Random(12)
    val keys = (Seq.fill(300)((rnd.nextDouble() * 2e12 - 1e12).toLong) ++
      Seq(-1L, 0L, 1L, 4095L, 4096L)).distinct
    val rows = keys.map(k => (Option(k), rnd.nextInt(3).toLong, rnd.nextInt(50).toLong)) :+
      ((None, 1L, 2L))
    check("long", rows.toDF("k", "w1", "w2"), degenerate ++ widths(1, 64, 4096, 1e9))
  }

  test("document ids at the widths pack layouts were checked at") {
    val docs = spark.read.parquet(s"${TestSession.sf}/documents.parquet")
      .select(col("doc_id").as("k"),
        graft.functions.tokenCount(col("text")).cast("long").as("w1"),
        length(col("text")).cast("long").as("w2"))
    check("documents", docs, widths(1, 7, 64, 100000))
  }

  test("empty input and a single row") {
    val empty = Seq.empty[(Double, Long, Long)].toDF("k", "w1", "w2")
    check("empty", empty, degenerate ++ widths(7))
    val one = Seq((-2.5, 9L, 0L)).toDF("k", "w1", "w2")
    check("single", one, degenerate ++ widths(7))
  }

  test("reserved working columns are rejected") {
    val df = Seq((1L, 1L, 1L)).toDF("k", "w1", "bkt")
    val e = intercept[IllegalArgumentException](
      GlobalOrder.exclusivePrefix(df, "k", col("k"), col("w1") -> "p1"))
    assert(e.getMessage.contains("bkt"))
  }
}
