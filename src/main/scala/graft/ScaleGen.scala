package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a driver-generated SF directory: writes
  * `factor` disjoint copies of every fact table with all entity keys
  * shifted by copy-index × key-span, preserving referential integrity
  * (copy i's lineitems reference copy i's orders/parts/suppliers, its
  * events copy i's users, …). Dimension tables (region, nation) stay
  * fixed, exactly as TPC-H scaling does.
  *
  * The output is a clean "10× more entities, same per-entity density"
  * corpus: keyed joins/aggregations see 10× distinct keys, the
  * co-occurrence/bipartite graphs become `factor` disjoint copies of
  * the base graph, and text/embedding tables gain exact-duplicate
  * groups of size `factor` (a dedup stress case, not a bug: the
  * banding caps and hot-key guards are exactly what must absorb it).
  *
  * Usage: runMain graft.ScaleGen <baseSfDir> <outDir> [factor=10]
  * The round-10 scale measurement (BENCHNOTES.md) generates
  * testdata-sf1 from /root/testdata/sf0.1 with factor 10. */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val base = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 1)
    val spark = core.Session.build(
      appName = "graft-scalegen", shufflePartitions = core.Session.localCores)

    def rd(name: String): DataFrame = spark.read.parquet(s"$base/$name.parquet")

    /** `factor` unioned copies with `shifts` (column → span) added
      * per copy: copy i adds i·span to each listed key column. The
      * union is a narrow plan — one scan per copy, no shuffle — and
      * the copy index never materializes as data. */
    def scaled(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      (0 until factor).map { i =>
        shifts.foldLeft(df) { case (d, (c, span)) =>
          d.withColumn(c, col(c) + lit(i * span))
        }
      }.reduce(_ unionByName _)

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    // spans = max key + 1 of the base SF (driver generator uses dense
    // 0-based keys; measure instead of assuming to stay SF-agnostic).
    // Cast in the query so int32 key columns don't throw on getLong,
    // and fail with a real message on an empty/all-null base table.
    def span(df: DataFrame, c: String): Long = {
      val row = df.agg(max(col(c)).cast("long")).head()
      require(!row.isNullAt(0), s"cannot span empty/all-null key column $c")
      row.getLong(0) + 1L
    }

    val cust = rd("customer"); val supp = rd("supplier"); val part = rd("part")
    val ord = rd("orders"); val li = rd("lineitem"); val ev = rd("events")
    val doc = rd("documents"); val emb = rd("embeddings")
    val cSpan = span(cust, "c_custkey")
    val sSpan = span(supp, "s_suppkey")
    val pSpan = span(part, "p_partkey")
    val oSpan = span(ord, "o_orderkey")
    val uSpan = span(ev, "user_id")
    val eSpan = span(ev, "event_id")
    val dSpan = span(doc, "doc_id")
    val vSpan = span(emb, "vec_id")

    rd("region").write.mode("overwrite").parquet(s"$out/region.parquet")
    rd("nation").write.mode("overwrite").parquet(s"$out/nation.parquet")
    write(scaled(cust, Map("c_custkey" -> cSpan)), "customer", 4 * factor / 10 max 1)
    write(scaled(supp, Map("s_suppkey" -> sSpan)), "supplier", factor / 10 max 1)
    write(scaled(part, Map("p_partkey" -> pSpan)), "part", 4 * factor / 10 max 1)
    write(scaled(ord, Map("o_orderkey" -> oSpan, "o_custkey" -> cSpan)),
      "orders", 8 * factor / 10 max 2)
    write(scaled(li, Map("l_orderkey" -> oSpan, "l_partkey" -> pSpan,
      "l_suppkey" -> sSpan)), "lineitem", 16 * factor / 10 max 4)
    write(scaled(ev, Map("event_id" -> eSpan, "user_id" -> uSpan)),
      "events", 8 * factor / 10 max 2)
    write(scaled(doc, Map("doc_id" -> dSpan)), "documents", 4 * factor / 10 max 1)
    write(scaled(emb, Map("vec_id" -> vSpan)), "embeddings", 2 * factor / 10 max 1)

    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .map(t => s"$t=${spark.read.parquet(s"$out/$t.parquet").count()}")
    println(s"[scalegen] $out: ${counts.mkString(" ")}")
    spark.stop()
  }
}
