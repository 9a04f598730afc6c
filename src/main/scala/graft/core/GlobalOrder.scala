package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global order without a single-task sort: the distributed two-phase
  * exclusive prefix sum every ranking, row-numbering and packing
  * operator in the engine shares.
  *
  * The naive formulation, `sum(w) OVER (ORDER BY key)`, is a global
  * window: Spark plans it as an `Exchange SinglePartition` and one task
  * sorts the whole relation. Here the relation is cut into
  * order-preserving buckets instead:
  *
  *   1. per-bucket weight totals (one map-side-combinable aggregation);
  *   2. running bucket offsets from an ordered window over the bucket
  *      totals only (one row per bucket, the one deliberate global
  *      window, ordered by the reserved `bkt` column);
  *   3. the offsets broadcast back, and the within-bucket running sum
  *      runs under a window PARTITIONED by bucket: parallel across
  *      buckets, and no task sees more than one bucket.
  *
  * Cost: one aggregation, one keyed shuffle of the input, one broadcast
  * of the bucket totals.
  *
  * Contract:
  *   - `key` is unique (at most one null);
  *   - `bucket` is non-decreasing in `key` and a deterministic function
  *     of the row (it is evaluated in both branches of one plan);
  *   - the working columns `bkt`, `__obkt`, `__btot<i>`, `__boff<i>` and
  *     the output names are not already columns of the input.
  *
  * Null rule: the offsets join null-safely, so a null key (whose bucket
  * is null) keeps its row and sorts first, as in the single-window
  * reference; it is not dropped by the equi-join.
  *
  * Why the buckets are a caller expression, not sampled range bounds:
  * sampled bounds would need a checkpoint of the input plus a driver
  * collect, about three extra eager jobs per call. A fixed-width bucket
  * over a key with a known domain (`floor(key / width)`) stays lazy. A
  * constant bucket, or the key itself, satisfies the contract but
  * funnels again: one bucket holding everything, or a bucket relation
  * as large as the input under the ordered window. */
object GlobalOrder {

  /** For each `(weight, out)` pair adds `out` = Σ `weight` over the rows
    * whose `key` sorts before this row's key: exactly
    * `coalesce(sum(weight) OVER (ORDER BY key ROWS BETWEEN UNBOUNDED
    * PRECEDING AND 1 PRECEDING), 0)`. Inclusive sums are `out + weight`;
    * 0-based ranks are `out` of weight `lit(1L)`. */
  def exclusivePrefix(df: DataFrame, key: String, bucket: Column,
                      sums: (Column, String)*): DataFrame = {
    require(sums.nonEmpty, "exclusivePrefix needs at least one (weight, out) pair")
    val totals = sums.indices.map(i => s"__btot$i")
    val offsets = sums.indices.map(i => s"__boff$i")
    val reserved = Seq("bkt", "__obkt") ++ totals ++ offsets ++ sums.map(_._2)
    val hits = reserved.filter(df.columns.contains)
    require(hits.isEmpty,
      s"exclusivePrefix uses reserved working columns already present in the input: $hits")

    val b = df.withColumn("bkt", bucket)
    val bucketTotals = sums.zip(totals).map { case ((w, _), t) => sum(w).as(t) }
    val offW = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    val off = b.groupBy("bkt").agg(bucketTotals.head, bucketTotals.tail: _*)
      .select(col("bkt").as("__obkt") +: totals.zip(offsets).map { case (t, o) =>
        coalesce(sum(col(t)).over(offW), lit(0L)).as(o) }: _*)

    val inW = Window.partitionBy("bkt").orderBy(key)
      .rowsBetween(Window.unboundedPreceding, -1)
    b.join(broadcast(off), col("bkt") <=> col("__obkt"))
      .select(col("*") +: sums.zip(offsets).map { case ((w, out), o) =>
        (col(o) + coalesce(sum(w).over(inW), lit(0L))).as(out) }: _*)
      .drop(("bkt" +: "__obkt" +: offsets): _*)
  }
}
