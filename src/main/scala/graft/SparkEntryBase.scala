package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Exec, GlobalOrder}
import graft.ext.{Dedup, Multimodal, Similarity, Text}
import graft.functions.{charShingles, fingerprintMd5, tokens}
import graft.io.{Load, Unload}
import graft.schema.Infer
import graft.streaming.Stream

/** Registry part 1/4: table readers + the relational surface
  * (SURVEY §2.2/§2.3 q01…) with its stats and graph batteries.
  * Split from the monolithic SparkEntry in round 10; the traits
  * chain (Base ← Mid ← Tail ← Oracle) purely for name visibility —
  * object SparkEntry assembles the driver contract. */
trait SparkEntryBase {

  /** Read a testdata table. The events table's `ts` physical type has
    * varied across fixture generations — TIMESTAMP(NANOS) (no native
    * Spark type: read nanos as long under the legacy conf, convert with
    * integer arithmetic since ns epochs exceed 2^53) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (loads as TIMESTAMP_NTZ,
    * which watermarks and unix_micros reject). [[graft.streaming.Stream
    * .normalizeTs]] handles both, yielding TimestampType either way. */
  private[graft] def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.streaming.Stream.normalizeTs(
      spark.read.parquet(s"${dir.stripSuffix("/")}/$name.parquet"))
  }

  private[graft] def registerViews(spark: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(n => t(spark, dir, n).createOrReplaceTempView(n))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Multi-way join + aggregation: revenue per nation (broadcast dims,
    * shuffled fact — the plan shape that must hold at 100 TB). */
  def entry(spark: SparkSession): DataFrame =
    q03JoinAgg(spark, "/root/testdata/sf0.001")

  // ======================================================================
  // Relational surface (SURVEY §2.2 / §2.3)
  // ======================================================================

  /** Projection + aliasing + arithmetic + filter (pushed to parquet). */
  private[graft] def q01Project(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      // no rounding: a per-row IEEE product is bit-identical across
      // engines, while round() at half-way points is not
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Hash aggregation with partial (map-side) combine — TPC-H Q1 shape. */
  private[graft] def q02Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Multi-way join: fact shuffles once on orderkey; customer/nation are
    * broadcast (dim side ≪ fact side at any SF). */
  private[graft] def q03JoinAgg(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count_distinct(col("o_orderkey")).as("n_orders"))
      .orderBy("n_name")
  }

  /** Window: row_number per partition (reference exercises row_number
    * OVER, tests/test_integration.py:166). */
  private[graft] def q04WindowRownum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    t(s, dir, "lineitem")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("l_suppkey", "rn", "l_orderkey", "l_linenumber")
      .orderBy("l_suppkey", "rn")
  }

  /** Sort + limit → TakeOrderedAndProject (no full sort at scale). */
  private[graft] def q05TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** Set op: UNION (distinct) — reference tests/test_integration.py:76. */
  private[graft] def q06Union(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      .union(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
      .distinct()
      .orderBy("nk")

  /** Set op: EXCEPT — customers having orders but none in status F. */
  private[graft] def q07Except(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.select(col("o_custkey").as("custkey"))
      .except(o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey")))
      .orderBy("custkey")
  }

  /** Semi join (EXISTS). */
  private[graft] def q08SemiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  /** Anti join (NOT EXISTS) — customers with no finished (F) order. */
  private[graft] def q09AntiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_nationkey")

  /** Distinct aggregation (exact; see q20 for the approx scale path). */
  private[graft] def q10CountDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .agg(
        count_distinct(col("l_partkey")).as("n_parts"),
        count_distinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))

  /** ROLLUP grouping sets. */
  private[graft] def q11Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** CUBE grouping sets. */
  private[graft] def q12Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .withColumn("yr", year(col("l_shipdate")).cast("long"))
      .cube("l_returnflag", "yr")
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("yr"))

  /** Scalar function coverage: string/date/math/case (SURVEY §2.3). */
  private[graft] def q13Scalar(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("pri_upper"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mon"),
        when(col("o_totalprice") > 100000, "big").otherwise("small").as("size_class"),
        sqrt(col("o_totalprice")).as("sqrt_price"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("status_pri"))
      .orderBy("o_orderkey")

  /** Semi-structured JSON path access (reference VARIANT path
    * `v:location:city`, tests/test_integration_sf.py:156). */
  private[graft] def q14Json(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(sum("k").cast("long").as("sum_k"), count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Date/time bucketing aggregation. */
  private[graft] def q15TimeAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("hr", "event_type")

  /** HAVING (post-aggregation filter). */
  private[graft] def q16Having(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_suppkey")
      .agg(round(avg("l_quantity"), 4).as("avg_qty"), count(lit(1)).as("n"))
      .filter(col("avg_qty") > 25.5)
      .orderBy("l_suppkey")

  /** Scalar subquery via SQL passthrough (reference execute(),
    * locopy/database.py:131-190 — identical SQL runs on our engine). */
  private[graft] def q17Subquery(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    new Exec(s).execute(
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS s
        |FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""".stripMargin)
  }

  /** Running window aggregate (rows frame). */
  private[graft] def q18WindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // rounded: window accumulation order differs across engines in the
    // last ulp; accumulated sums never sit near a half-way boundary, so
    // round(2) is stable (unlike products of 2-decimal money, q01)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum("o_totalprice").over(w), 2).as("running"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Parameterized SQL (reference param binding,
    * locopy/database.py:150-152; injection-safe named params). */
  private[graft] def q19Param(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    new Exec(s).execute(
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_shipdate >= CAST(:lo AS TIMESTAMP) AND l_quantity > :minq
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
      Map("lo" -> "1996-01-01", "minq" -> 30))
  }

  /** Window lag/lead. Raw doubles carried from parquet — no arithmetic,
    * so no rounding needed. */
  private[graft] def q21LagLead(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Date cast + interval arithmetic — the reference's own integration
    * SQL shape `('2017-12-31'::date + row_number())::date`
    * (tests/test_integration.py:166). The global row_number is
    * [[graft.core.GlobalOrder]] over orderkeys bucketed by
    * floor(key/2^16); the oracle keeps the single-window formulation
    * (independent). Serialized as ISO strings for the cross-engine
    * compare. */
  private[graft] def q22DateArith(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"))
    GlobalOrder.exclusivePrefix(o, "o_orderkey",
        floor(col("o_orderkey") / 65536L).cast("long"), lit(1L) -> "pre")
      .select(col("o_orderkey"),
        date_format(date_add(lit("2017-12-31").cast("date"), (col("pre") + 1L).cast("int")),
          "yyyy-MM-dd").as("dt"))
      .orderBy("o_orderkey")
  }

  /** String function breadth: substr/upper/length/replace/lpad/trim. */
  private[graft] def q23StringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(
        col("c_custkey"),
        substring(col("c_name"), 1, 8).as("name8"),
        upper(col("c_name")).as("name_up"),
        length(col("c_name")).cast("long").as("name_len"),
        regexp_replace(col("c_name"), "Customer", "C").as("name_short"),
        lpad(col("c_nationkey").cast("string"), 4, "0").as("nation_pad"))
      .orderBy("c_custkey")

  /** Explicit GROUPING SETS (beyond rollup/cube). */
  private[graft] def q24GroupingSets(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    new Exec(s).execute(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_quantity), 2) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  /** Set op: INTERSECT — nations present among both customers and
    * suppliers (completes the UNION/EXCEPT/INTERSECT trio). */
  private[graft] def q25Intersect(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
      .orderBy("nk")

  /** PIVOT: order counts per year pivoted by order status. A fixed
    * pivot-value list keeps the plan a single pass (no distinct-values
    * pre-query) — the shape that holds at scale. */
  private[graft] def q26Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")).cast("long"))
      .groupBy("yr")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O", "P"))
      .select(col("yr"), col("F").as("n_f"), col("O").as("n_o"), col("P").as("n_p"))
      .orderBy("yr")

  /** Correlated scalar subquery (q17 is the uncorrelated twin):
    * customers whose account balance beats their nation's average. */
  private[graft] def q27Correlated(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    new Exec(s).execute(
      """SELECT c_nationkey, count(*) AS n_above
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_nationkey = c.c_nationkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
  }

  /** Ranking-function breadth: dense_rank / percent_rank / ntile over
    * a total order (unique o_orderkey tie-break ⇒ deterministic, and
    * percent_rank's (rank−1)/(n−1) is the same IEEE computation on
    * both engines — no rounding needed). */
  private[graft] def q28RankFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        dense_rank().over(w).cast("long").as("drank"),
        percent_rank().over(w).as("prank"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("o_orderkey")
  }

  /** Ordered string aggregation (LISTAGG/string_agg parity): names per
    * (nation, segment), sorted so the concat is deterministic. */
  private[graft] def q29StringAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(array_join(array_sort(collect_list(col("c_name"))), "|").as("names"),
        count(lit(1)).as("n"))
      .orderBy("c_nationkey", "c_mktsegment")

  /** Interpolated percentiles (percentile_cont / quantile_cont parity):
    * quartiles of l_quantity per return flag. Both engines use the
    * (n−1)·p linear-interpolation definition; l_quantity is integral so
    * quantiles land on exact .0/.25/.5/.75 values. */
  private[graft] def q30Percentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"))
      .orderBy("l_returnflag")

  /** FULL OUTER join with both-side null fill: nations holding
    * top-balance customers vs nations holding low-balance suppliers —
    * the thresholds make BOTH sides sparse at sf0.01, so unmatched
    * rows survive from each side (coalesce picks whichever key is
    * present). */
  private[graft] def q31FullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_acctbal") > 9900)
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"))
    val su = t(s, dir, "supplier").filter(col("s_acctbal") < 500)
      .groupBy("s_nationkey").agg(count(lit(1)).as("n_supp"))
    c.join(su, col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).cast("long").as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  /** LATERAL explode with ordinality (posexplode ≡ UNNEST WITH
    * ORDINALITY): one row per (doc, position, word). */
  private[graft] def q32Lateral(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") < 30)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
      .orderBy("doc_id", "pos")

  /** Event-TIME RANGE window frame (not ROWS): per-user trailing
    * 1-hour purchase total. Both engines order by the same truncated
    * epoch seconds, so frame peers coincide exactly. */
  private[graft] def q33RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("secs").rangeBetween(-3600, 0)
    t(s, dir, "events").filter(col("event_type") === "purchase")
      .withColumn("secs", unix_timestamp(col("ts")))
      .select(col("event_id"), col("user_id"),
        round(sum("value").over(w), 4).as("trailing_1h"))
      .orderBy("event_id")
  }

  /** Several DISTINCT aggregates in one grouping (the Expand-based
    * multi-distinct plan) mixed with plain aggregates. */
  private[graft] def q34MultiDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n_rows"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")

  /** Higher-order array functions (transform / filter / aggregate /
    * zip_with over a per-group collected array). The array is ordered
    * by (line number, value) — array_sort on a (pos, value) struct ≡
    * DuckDB's `list(x ORDER BY pos, x)`; the value tiebreak matters
    * because fixture line numbers repeat within an order — so every
    * derived scalar is deterministic; all arithmetic is integral. */
  private[graft] def q35HigherOrder(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(array_sort(collect_list(struct(
        col("l_linenumber").as("i"),
        col("l_quantity").cast("long").as("q")))).as("pairs"))
      .select(
        col("l_orderkey"),
        expr("transform(pairs, p -> p.q)").as("arr"))
      .select(
        col("l_orderkey"),
        size(col("arr")).cast("long").as("n_items"),
        expr("size(filter(arr, x -> x > 25))").cast("long").as("n_big"),
        expr("aggregate(transform(arr, x -> x * 2L), 0L, (acc, x) -> acc + x)")
          .as("doubled_sum"),
        // position-weighted sum via zip_with against 1..n
        expr("aggregate(zip_with(arr, sequence(1L, size(arr)), (x, i) -> x * i), 0L, (acc, x) -> acc + x)")
          .as("pos_weighted"))
      .orderBy("l_orderkey")

  /** Recursive CTE (Spark 4.1 WITH RECURSIVE): walk each region's
    * nation chain (edges = next-larger nation key within the region,
    * built by a window in a non-recursive CTE) from the region's min
    * nation, counting depth. The SQL text is engine-portable — the
    * oracle runs the IDENTICAL statement. */
  private[graft] val q36RecursiveSql =
    """WITH RECURSIVE e AS (
      |  SELECT n_regionkey, n_nationkey AS src,
      |         lead(n_nationkey) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS dst
      |  FROM nation
      |), roots AS (
      |  SELECT n_regionkey, min(src) AS node FROM e GROUP BY n_regionkey
      |), walk AS (
      |  SELECT n_regionkey, node, 1 AS depth FROM roots
      |  UNION ALL
      |  SELECT w.n_regionkey, e.dst, w.depth + 1
      |  FROM walk w JOIN e ON e.n_regionkey = w.n_regionkey AND e.src = w.node
      |  WHERE e.dst IS NOT NULL
      |)
      |SELECT CAST(n_regionkey AS BIGINT) AS regionkey,
      |       CAST(node AS BIGINT) AS nationkey,
      |       CAST(depth AS BIGINT) AS depth
      |FROM walk ORDER BY regionkey, depth""".stripMargin

  private[graft] def q36Recursive(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(q36RecursiveSql)
  }

  /** Map construction + lookup: per-user event-type counts built as a
    * MAP (map_from_entries over a collected (key, count) struct list)
    * and then extracted with element_at — the map is exercised on the
    * Spark side while the oracle states the same result relationally. */
  private[graft] def q37MapAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(map_from_entries(collect_list(struct(col("event_type"), col("n"))))
        .as("m"))
      .select(
        col("user_id"),
        coalesce(element_at(col("m"), "click"), lit(0L)).as("n_click"),
        coalesce(element_at(col("m"), "purchase"), lit(0L)).as("n_purchase"),
        coalesce(element_at(col("m"), "error"), lit(0L)).as("n_error"))
      .orderBy("user_id")

  /** Conditional / boolean aggregates: count_if, bool_or, bool_and,
    * and a guarded conditional sum, per nation over customers. */
  private[graft] def q38CondAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(col("c_nationkey").cast("long").as("nationkey"))
      .agg(
        expr("count_if(c_acctbal < 0)").as("n_debt"),
        expr("bool_or(c_mktsegment = 'AUTOMOBILE')").as("any_auto"),
        expr("bool_and(c_acctbal > -1000)").as("all_above"),
        round(sum(when(col("c_acctbal") < 0, col("c_acctbal")).otherwise(lit(0.0))), 2)
          .as("debt_sum"))
      .orderBy("nationkey")

  /** Distribution window functions: cume_dist, nth_value and
    * last_value over an explicit unbounded ROWS frame. The ordering
    * key (acctbal, name) is unique, so ranks and picked names are
    * deterministic. */
  private[graft] def q39Distribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_name")
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "customer").filter(col("c_custkey") <= 500)
      .select(
        col("c_mktsegment"), col("c_custkey"),
        round(cume_dist().over(w), 6).as("cume"),
        nth_value(col("c_name"), 3).over(wFull).as("third_name"),
        last_value(col("c_name")).over(wFull).as("top_name"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  /** SCD2 (slowly-changing-dimension type 2) interval build: each
    * purchase event opens a validity interval closed by the user's
    * next purchase — valid_from/valid_to half-open intervals with an
    * is_current flag, the standard warehouse history table derived
    * with one lead() window (deterministic (ts, event_id) order). */
  private[graft] def q44Scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(s, dir, "events").filter(col("event_type") === "purchase")
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("ts").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"),
        round(col("value"), 4).as("value"))
      .orderBy("user_id", "valid_from", "event_id")
  }

  /** Streaming SCD2 maintenance ([[graft.streaming.Stream
    * .foreachBatchScd2]]): the purchase history built incrementally
    * across two REAL micro-batches — each batch re-versions only its
    * affected keys and rewrites only their hash-bucket partitions
    * (dynamic partition overwrite; untouched partitions stay
    * byte-identical). Split-invariance makes the oracle
    * the single-shot lead() replay (the q44 shape on epoch-micro
    * longs). */
  private[graft] def streamScd2(s: SparkSession, dir: String): DataFrame =
    Stream.foreachBatchScd2(s,
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        batch2Pred = pmod(col("event_id"), lit(2)) === 1)
      .select(col("user_id"), col("valid_from"), col("event_id"),
        col("value"), col("valid_to"), col("is_current"))
      .orderBy("user_id", "valid_from", "event_id")

  private[graft] val streamScd2Sql: String =
    """SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS valid_from, event_id,
      |       value,
      |       lead(CAST(epoch_us(ts) AS BIGINT)) OVER
      |         (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |         AS valid_to,
      |       lead(ts) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |         IS NULL AS is_current
      |FROM events WHERE event_type = 'purchase'
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  /** Deterministic-PCM audio frame analysis — the audio-modality
    * sibling of the real-codec image path: each document's md5 is
    * read as 8 big-endian signed 16-bit PCM samples (the
    * deterministic stand-in the container's missing audio codecs
    * require — the Spark-side plumbing, frame shape, and integer DSP
    * are real), split into two 4-sample frames scored with energy
    * (Σs²), zero-crossing count, and a silence flag. All-integer —
    * exact on both engines. */
  private[graft] def multimodalAudio(s: SparkSession, dir: String): DataFrame = {
    val hex = md5(col("text"))
    def sample(i: Int): Column = {
      val u = conv(substring(hex, i * 4 + 1, 4), 16, 10).cast("long")
      when(u >= 32768L, u - 65536L).otherwise(u)
    }
    val d = t(s, dir, "documents").select(
      col("doc_id").as("media_id"),
      array((0 until 8).map(sample): _*).as("pcm"))
    val frames = d.select(col("media_id"),
      explode(array(lit(0), lit(1))).as("frame"), col("pcm"))
    def at(k: Int): Column =
      element_at(col("pcm"), col("frame") * 4 + (k + 1))
    val energy = (0 until 4).map(k => at(k) * at(k)).reduceLeft(_ + _)
    val zcr = (1 until 4).map(k =>
      ((at(k) >= 0L) =!= (at(k - 1) >= 0L)).cast("long")).reduceLeft(_ + _)
    frames.select(col("media_id"), col("frame").cast("long").as("frame"),
        energy.as("energy"), zcr.as("zcr"),
        (energy < 800000000L).as("is_silence"))
      .orderBy("media_id", "frame")
  }

  private[graft] val multimodalAudioSql: String = {
    def sample(i: Int): String = {
      val u = s"('0x' || substr(md5(text), ${i * 4 + 1}, 4))::BIGINT"
      s"(CASE WHEN $u >= 32768 THEN $u - 65536 ELSE $u END)"
    }
    def frame(f: Int): String = {
      def at(k: Int) = sample(f * 4 + k)
      val energy = (0 until 4).map(k => s"${at(k)} * ${at(k)}").mkString(" + ")
      val zcr = (1 until 4).map(k =>
        s"CASE WHEN (${at(k)} >= 0) <> (${at(k - 1)} >= 0) THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""SELECT doc_id AS media_id, CAST($f AS BIGINT) AS frame,
         |       CAST($energy AS BIGINT) AS energy, CAST($zcr AS BIGINT) AS zcr,
         |       ($energy) < 800000000 AS is_silence
         |FROM documents""".stripMargin
    }
    s"""${frame(0)}
       |UNION ALL
       |${frame(1)}
       |ORDER BY media_id, frame""".stripMargin
  }

  /** Gini coefficient of customer account balance (shifted to a
    * positive cent grid, so EVERY quantity in `G = Σ(2i−n−1)·x_i /
    * (n·Σx)` is an exact int64 — no float anywhere until the final
    * ratio): the inequality/concentration diagnostic behind dataset
    * re-balancing decisions. Ranks come from [[graft.core.GlobalOrder]]
    * over the distinct cents bucketed by floor(cents/10000); per-value
    * position-block coefficient sums are closed-form, tie-invariant.
    * Oracle: the independent single-window row_number formulation. */
  private[graft] def statsGini(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(
      (round(col("c_acctbal") * 100.0, 0).cast("long") + 100000L).as("cents"))
    val vc = c.groupBy("cents").agg(count(lit(1)).as("cnt"))
    val tot = c.agg(count(lit(1)).as("n"))
    val ranked = GlobalOrder.exclusivePrefix(vc, "cents",
        floor(col("cents") / 10000.0).cast("long"), col("cnt") -> "cumStart")
      .crossJoin(broadcast(tot))
      // Σ_{i in block} (2i − n − 1) = 2·cnt·cumStart + cnt(cnt+1) − cnt(n+1)
      // (division-free form — Spark's / on longs is double division)
      .withColumn("coeff",
        lit(2L) * col("cnt") * col("cumStart") +
          col("cnt") * (col("cnt") + 1L) -
          col("cnt") * (col("n") + 1L))
    // num ≈ n·Σx·G crosses int64 near 100× sf1 (the stats_spearman
    // overflow class, caught by the round-10 sf1 gate) — sum in
    // DECIMAL(38,0) and multiply n·s in double, mirroring the
    // oracle's native HUGEINT accumulation
    ranked.agg(first("n").as("n"),
        sum(col("cnt") * col("cents")).as("s"),
        sum((col("coeff") * col("cents")).cast("decimal(38,0)")).as("num"))
      .select(col("n"), col("s").as("total_cents"),
        round(col("num").cast("double") /
          (col("n").cast("double") * col("s").cast("double")), 6).as("gini"))
  }

  private[graft] val statsGiniSql: String =
    """WITH c AS (SELECT CAST(round(c_acctbal * 100.0, 0) AS BIGINT) + 100000
      |             AS cents FROM customer),
      |r AS (SELECT cents,
      |        CAST(row_number() OVER (ORDER BY cents) AS BIGINT) AS i
      |      FROM c),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c)
      |SELECT n, CAST(sum(cents) AS BIGINT) AS total_cents,
      |       round(CAST(sum((2 * i - n - 1) * cents) AS DOUBLE) /
      |             CAST(n * sum(cents) AS DOUBLE), 6) AS gini
      |FROM r CROSS JOIN nn GROUP BY n""".stripMargin

  /** Ordered conversion funnel (view → click → purchase): per user,
    * first view, first click strictly after it, first purchase
    * strictly after that; stage 3 requires converting within 24 h of
    * the first view. Emits per-stage user counts and the mean
    * hours-to-convert of stage-3 users. Three keyed min-aggregations
    * and two left joins — no windows over the event corpus. */
  private[graft] def q45Funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("v_ts"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("v_ts"))
      .groupBy("user_id").agg(min("ts").as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("c_ts"))
      .groupBy("user_id").agg(min("ts").as("p_ts"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("p_ts").isNotNull &&
            col("p_ts") <= col("v_ts") + expr("INTERVAL 24 HOURS"), lit(3))
          .when(col("c_ts").isNotNull, lit(2)).otherwise(lit(1)).as("stage"),
        when(col("p_ts").isNotNull &&
            col("p_ts") <= col("v_ts") + expr("INTERVAL 24 HOURS"),
          (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).cast("double") / 3.6e9)
          .as("conv_h"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_users"), round(avg("conv_h"), 4).as("avg_hours_to_convert"))
      .orderBy("stage")
  }

  /** Data-quality expectation gate ([[graft.ext.Profile.expect]]):
    * one aggregation pass evaluates every rule (violation predicates +
    * key uniqueness) over orders and emits the per-rule report — a
    * deliberately mixed pass/fail fixture (the status-domain rule
    * excludes 'P', which the data contains). */
  private[graft] def dqExpectations(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.expect(t(s, dir, "orders"),
      Seq(
        "orderkey_not_null" -> col("o_orderkey").isNull,
        "totalprice_positive" -> (col("o_totalprice") <= 0),
        "status_in_domain" -> !col("o_orderstatus").isin("O", "F"),
        "orderdate_in_range" -> (col("o_orderdate") < lit("1992-01-01").cast("date") ||
          col("o_orderdate") > lit("1998-12-31").cast("date")),
        "priority_not_null" -> col("o_orderpriority").isNull),
      uniqueCols = Seq("o_orderkey"))
      .orderBy("rule")

  /** Point-in-time join ([[graft.operators.AsOfJoin]]): each view
    * event attached to the purchase state VALID AT its timestamp —
    * the leakage-free feature-attachment contract (never a future
    * purchase). Purchases pre-deduped to one row per (user, ts)
    * (max-event_id wins) so the carried values are deterministic; the
    * oracle replays the same semantics as SCD2 interval containment
    * (as-of ≡ membership in the [valid_from, valid_to) tile). */
  private[graft] def scd2PitJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("ts"),
        col("m.event_id").as("p_event_id"), col("m.value").as("p_value0"),
        col("ts").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("ts"))
    graft.operators.AsOfJoin.asOf(v, p, "user_id", "ts", "user_id", "ts",
        Seq("p_event_id", "p_value0", "p_ts"))
      .select(col("user_id"), col("event_id"), col("ts"),
        col("p_event_id"),
        round(col("p_value0"), 4).as("p_value"),
        round((unix_micros(col("ts")) - unix_micros(col("p_ts"))).cast("double") / 3.6e9, 4)
          .as("hours_since"))
      .orderBy("user_id", "event_id")
  }

  /** Last-touch marketing attribution: every purchase credits the
    * latest view/click strictly preceding it in (ts, event_id) order,
    * IF within a 7-day lookback — else 'none'. ONE keyed window (two
    * running last(ignoreNulls) evaluations in one pass), one keyed
    * agg; the corpus never joins itself. */
  private[graft] def q57Attribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val mk = when(col("event_type").isin("view", "click"), col("event_type"))
    t(s, dir, "events")
      .withColumn("last_ch", last(mk, ignoreNulls = true).over(w))
      .withColumn("last_mk_ts",
        last(when(mk.isNotNull, col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("last_mk_ts").isNotNull &&
          col("last_mk_ts") >= col("ts") - expr("INTERVAL 7 DAYS"), col("last_ch"))
          .otherwise(lit("none")))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"), round(sum("value"), 2).as("revenue"))
      .orderBy("channel")
  }

  /** Rank-based winsorized mean per event type: values clipped at the
    * 5th/95th percent_rank boundary values, then averaged — the
    * robust-mean sibling of q55's MAD. percent_rank is a pure rank
    * ratio (no quantile interpolation), so the boundaries are exact
    * cross-engine; only the final averages round. */
  private[graft] def statsWinsorize(s: SparkSession, dir: String): DataFrame = {
    val prW = Window.partitionBy("event_type").orderBy("v")
    val allW = Window.partitionBy("event_type")
    t(s, dir, "events")
      .select(col("event_type"), col("value").cast("double").as("v"))
      // drop NULL values explicitly: Spark's ORDER BY defaults to
      // NULLS FIRST and DuckDB's to NULLS LAST, so a null would shift
      // every percent_rank and move the clip boundaries differently
      // per engine (standard robust-stats practice drops them anyway)
      .filter(col("v").isNotNull)
      .withColumn("pr", percent_rank().over(prW))
      .withColumn("lo", max(when(col("pr") <= 0.05, col("v"))).over(allW))
      .withColumn("hi", min(when(col("pr") >= 0.95, col("v"))).over(allW))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(avg(least(greatest(col("v"), coalesce(col("lo"), col("v"))),
          coalesce(col("hi"), col("v")))), 4).as("winsorized_mean"),
        round(avg(col("v")), 4).as("raw_mean"))
      .orderBy("event_type")
  }

  /** Incremental rollup maintenance ([[graft.ext.Incremental
    * .mergePartials]]): orders split into a historical state (keys
    * not divisible by 3) and a new batch (the rest), each aggregated
    * per customer, then algebraically merged — counts/sums add,
    * maxes fold. The oracle is the FULL recompute over all orders:
    * the gate proves merge-of-partials ≡ aggregate-of-union, the
    * contract that lets a 100 TB rollup absorb a day's partition
    * without rescanning history. Sum rounds AFTER the merge on both
    * sides (partial-sum association differs in the last ulp). */
  private[graft] def aggIncrement(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    def partial(df: DataFrame): DataFrame = df.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum("o_totalprice").as("sum_total"),
        max("o_orderdate").as("max_date"))
    val state = partial(orders.filter(col("o_orderkey") % 3 =!= 0))
    val delta = partial(orders.filter(col("o_orderkey") % 3 === 0))
    graft.ext.Incremental.mergePartials(state, delta, Seq("o_custkey"),
        sumCols = Seq("n_orders", "sum_total"), maxCols = Seq("max_date"))
      .select(col("o_custkey"), col("n_orders"),
        round(col("sum_total"), 2).as("sum_total"),
        col("max_date").cast("timestamp").as("max_date"))
      .orderBy("o_custkey")
  }

  /** Key-skew profile ([[graft.ext.Profile.keySkew]]) of lineitem by
    * supplier: the (group_size, n_keys) distribution that decides
    * salting/AQE-skew strategy before a join on that key. */
  private[graft] def skewProfile(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.keySkew(t(s, dir, "lineitem"), Seq("l_suppkey"))
      .orderBy("group_size")

  /** New-user growth accounting: each user's first-seen day, daily
    * new-user counts, and the cumulative user curve. The cumulative
    * window runs over the DAY table (bounded by the date domain, the
    * same class as GlobalOrder's bucket-offset window), never the
    * event corpus. */
  private[graft] def userGrowth(s: SparkSession, dir: String): DataFrame = {
    val firstSeen = t(s, dir, "events")
      .groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("day"))
    val daily = firstSeen.groupBy("day").agg(count(lit(1)).as("n_new_users"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.withColumn("cum_users", sum("n_new_users").over(w))
      .select(col("day").cast("timestamp").as("day"),
        col("n_new_users"), col("cum_users"))
      .orderBy("day")
  }

  /** Population stability index (PSI) between two order cohorts —
    * THE production drift monitor for a feature distribution (PSI >
    * 0.2 conventionally triggers retraining review). Reference-cohort
    * min/max fix 10 equi-width bins (one tiny broadcast row); both
    * cohorts bin map-side ((x−lo)/w is a 2-op IEEE chain, bit-stable);
    * PSI per bin from exact count ratios with a 1e-6 floor inside the
    * ln. One keyed agg over ≤ 11 bins. */
  private[graft] def driftPsi(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice").cast("double").as("x"),
        (col("o_orderkey") % 2 === 1).as("is_ref"))
    val edges = orders.filter(col("is_ref"))
      .agg(min("x").as("lo"), max("x").as("hi"))
    val binned = orders.crossJoin(broadcast(edges))
      .withColumn("bin",
        least(greatest(floor((col("x") - col("lo")) / ((col("hi") - col("lo")) / 10.0)), lit(0L)),
          lit(9L)))
    val counts = binned.groupBy("bin")
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
    val totals = counts.agg(sum("n_ref").as("t_ref"), sum("n_cur").as("t_cur"))
    counts.crossJoin(broadcast(totals))
      .withColumn("p_ref", col("n_ref").cast("double") / col("t_ref"))
      .withColumn("p_cur", col("n_cur").cast("double") / col("t_cur"))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round((col("p_cur") - col("p_ref")) *
          log(greatest(col("p_cur"), lit(1e-6)) / greatest(col("p_ref"), lit(1e-6))), 6)
          .as("psi"))
      .orderBy("bin")
  }

  /** Embedding QA table — the admission gate before vectors reach the
    * ANN index: per-vector dimensionality, L2 norm (6 dp — the
    * squared-sum chain is sequential and order-identical cross-engine,
    * rounded by the repo float rule), zero-component count, and an
    * is-normalized flag on the ROUNDED norm. Pure map-side projection. */
  private[graft] def embQuality(s: SparkSession, dir: String): DataFrame = {
    val v = transform(col("embedding"), _.cast("double"))
    t(s, dir, "embeddings")
      // null/empty vectors get a NULL norm (DuckDB's empty-list sum is
      // NULL and Spark's dot is 0.0 — the guards align the engines);
      // size() is likewise guarded (Spark size(NULL) = -1, DuckDB NULL)
      .select(col("vec_id"),
        when(col("embedding").isNotNull, size(col("embedding"))).as("dim"),
        when(col("embedding").isNotNull && size(col("embedding")) > 0,
          round(sqrt(graft.functions.fx.vecDot(v, v)), 6)).as("norm"),
        when(col("embedding").isNotNull,
          size(filter(col("embedding"), _ === 0.0f))).as("n_zero"))
      .withColumn("is_unit", abs(col("norm") - 1.0) <= 0.01)
      .orderBy("vec_id")
  }

  /** Order-independent integrity checksum ([[graft.ext.Profile
    * .tableChecksum]]) of the orders key/status/priority columns —
    * the load/unload round-trip gate: the digest is invariant to
    * partitioning and row order, so source and destination compare
    * without a sort. */
  private[graft] def integrityChecksum(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.tableChecksum(t(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))

  /** Bucketed merkle digest ([[graft.ext.Profile.merkleChecksum]], 16
    * leaves) of the same order columns — integrity_checksum's
    * localizing sibling: a drifted replica points to its leaf instead
    * of forcing a full rescan. */
  private[graft] def integrityMerkle(s: SparkSession, dir: String): DataFrame =
    graft.ext.Profile.merkleChecksum(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
        buckets = 16)
      .orderBy("bucket")

  private[graft] val integrityMerkleSql: String =
    """WITH h AS (SELECT ('0x' || substr(md5(concat_ws('|',
      |        coalesce(CAST(o_orderkey AS VARCHAR), chr(0) || 'null'),
      |        coalesce(CAST(o_custkey AS VARCHAR), chr(0) || 'null'),
      |        coalesce(o_orderstatus, chr(0) || 'null'),
      |        coalesce(o_orderpriority, chr(0) || 'null'))), 1, 15))::BIGINT AS h
      |      FROM orders),
      |leaf AS (
      |  SELECT h % 16 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
      |         bit_xor(h) AS xor_hash, min(h) AS min_hash, max(h) AS max_hash
      |  FROM h GROUP BY 1),
      |l2 AS (SELECT bucket, n_rows, xor_hash,
      |         md5(CAST(bucket AS VARCHAR) || ':' || CAST(n_rows AS VARCHAR)
      |           || ':' || CAST(xor_hash AS VARCHAR) || ':'
      |           || CAST(min_hash AS VARCHAR) || ':'
      |           || CAST(max_hash AS VARCHAR)) AS leaf_md5
      |       FROM leaf),
      |root AS (SELECT md5(string_agg(leaf_md5, '|' ORDER BY bucket))
      |           AS root_md5 FROM l2)
      |SELECT bucket, n_rows, xor_hash, leaf_md5, root_md5
      |FROM l2 CROSS JOIN root ORDER BY bucket""".stripMargin

  /** Deterministic k-fold cross-validation assignment (5 folds from
    * each document's md5 uniform — growth-stable like
    * [[sampleSplit]]), reported as the (fold, lang) stratification
    * grid a CV harness checks before trusting fold symmetry. One
    * map-side fold stamp + one keyed agg over the bounded grid. */
  private[graft] def sampleKfold(s: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(md5(concat(lit("fold:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
      .cast("double") / 4294967296.0
    t(s, dir, "documents")
      .withColumn("fold", floor(u * 5.0).cast("long"))
      .groupBy("fold", "lang").agg(count(lit(1)).as("n_docs"))
      .orderBy("fold", "lang")
  }

  private[graft] val sampleKfoldSql: String =
    """SELECT CAST(floor((('0x' || substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |         / 4294967296.0) * 5.0) AS BIGINT) AS fold,
      |       lang, CAST(count(*) AS BIGINT) AS n_docs
      |FROM documents GROUP BY 1, 2 ORDER BY fold, lang""".stripMargin

  /** Theil–Sen robust trend of daily order revenue: the MEDIAN of all
    * pairwise slopes (and the median-residual intercept) — the
    * outlier-proof alternative to OLS (stats_regression's robust
    * sibling). The pair set is bounded by the DAY domain (~2.4k days →
    * ~2.9M pairs at sf0.1), so the slope relation and its positional-
    * median selection never touch corpus scale; daily revenue rounds 2
    * first, each slope is one exact-input division, medians are exact
    * positional middles (the stats_bf discipline). */
  private[graft] def statsTheilsen(s: SparkSession, dir: String): DataFrame = {
    // materialized (r18): four consumers below (pairs reads it twice
    // via the self-join, mCnt, resid, nd) each re-ran the orders
    // scan+aggregation
    val daily = t(s, dir, "orders")
      .groupBy((unix_timestamp(date_trunc("day", col("o_orderdate"))) / 86400L)
        .cast("long").as("d"))
      .agg(round(sum("o_totalprice"), 2).as("r"))
      .localCheckpoint()
    val pairs = daily.as("a").join(daily.as("b"), col("a.d") < col("b.d"))
      .select(((col("b.r") - col("a.r")) /
        (col("b.d") - col("a.d")).cast("double")).as("slope"))
    // m = C(n_days, 2) from the day count — NOT a second scan of the
    // pair join (recomputing `pairs` for its own count doubled the
    // query's cost; the identity is exact)
    val mCnt = daily.agg((count(lit(1)) * (count(lit(1)) - 1L) / lit(2))
      .cast("long").as("m"))
    // Positional median of the ~C(days, 2) slope relation (2.9M rows
    // at sf0.1) WITHOUT a single-partition global window (r18): range-
    // repartition by slope, then per-partition row_number offset by
    // the preceding partitions' row counts — the counts are a
    // ≤shuffle-partitions-element driver list (parameter-bounded, the
    // touchedBuckets discipline), and the selected VALUES at the two
    // middle global positions are the exact order statistics whatever
    // the tie placement at range boundaries (a position's value is
    // unique in the sorted multiset). The global sort becomes fully
    // parallel instead of one task sorting every pair.
    val sorted = pairs
      .repartitionByRange(s.sessionState.conf.numShufflePartitions,
        col("slope"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val cnts = sorted.groupBy("pid").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets: Map[Int, Long] =
      cnts.map(_._1).zip(cnts.scanLeft(0L)(_ + _._2).dropRight(1)).toMap
    val wS = Window.partitionBy("pid").orderBy("slope")
    val rnGlobal =
      if (offsets.isEmpty) row_number().over(wS).cast("long")
      else row_number().over(wS).cast("long") +
        coalesce(element_at(typedLit(offsets), col("pid")), lit(0L))
    val m = sorted.withColumn("rn", rnGlobal)
      .crossJoin(broadcast(mCnt))
      .filter(col("rn") === floor((col("m") + 1L) / 2.0).cast("long") ||
        col("rn") === floor((col("m") + 2L) / 2.0).cast("long"))
      .agg(round(avg("slope"), 6).as("slope"), first("m").as("n_pairs"))
    val resid = daily.crossJoin(broadcast(m))
      .select((col("r") - col("slope") * col("d").cast("double")).as("res"),
        col("slope"), col("n_pairs"))
    val wR = Window.orderBy("res")
    resid.withColumn("rn", row_number().over(wR))
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("nd"))))
      .filter(col("rn") === floor((col("nd") + 1L) / 2.0).cast("long") ||
        col("rn") === floor((col("nd") + 2L) / 2.0).cast("long"))
      .agg(first("nd").as("n_days"), first("n_pairs").as("n_pairs"),
        first("slope").as("slope"), round(avg("res"), 6).as("intercept"))
  }

  private[graft] val statsTheilsenSql: String =
    """WITH daily AS (
      |  SELECT CAST(epoch(date_trunc('day', o_orderdate)) // 86400 AS BIGINT)
      |           AS d,
      |         round(sum(o_totalprice), 2) AS r
      |  FROM orders GROUP BY 1),
      |pairs AS (
      |  SELECT (b.r - a.r) / CAST(b.d - a.d AS DOUBLE) AS slope
      |  FROM daily a JOIN daily b ON a.d < b.d),
      |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
      |sm AS (
      |  SELECT round(avg(slope), 6) AS slope, min(m) AS n_pairs
      |  FROM (SELECT slope, row_number() OVER (ORDER BY slope) AS rn FROM pairs)
      |       CROSS JOIN mm
      |  WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2),
      |resid AS (
      |  SELECT r - slope * CAST(d AS DOUBLE) AS res, slope, n_pairs
      |  FROM daily CROSS JOIN sm),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM daily)
      |SELECT min(nd) AS n_days, min(n_pairs) AS n_pairs,
      |       min(slope) AS slope, round(avg(res), 6) AS intercept
      |FROM (SELECT res, slope, n_pairs,
      |        row_number() OVER (ORDER BY res) AS rn FROM resid)
      |     CROSS JOIN nn
      |WHERE rn = (nd + 1) // 2 OR rn = (nd + 2) // 2""".stripMargin

  /** Mutual information between customer nation and market segment —
    * the dependence measure behind categorical feature selection
    * (chi-squared's information-theoretic sibling, stats_kl's
    * machinery): `I = Σ (c_xy/n)·ln(c_xy·n/(c_x·c_y))`, every ratio an
    * exact-int product ratio through one ln; marginal entropies and
    * the uncertainty coefficient ride along. One keyed agg over the
    * (nation, segment) grid + two marginal aggs. */
  private[graft] def statsMi(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .select(col("c_nationkey").cast("long").as("x"), col("c_mktsegment").as("y"))
    val g = c.groupBy("x", "y").agg(count(lit(1)).as("cxy"))
    val gx = c.groupBy("x").agg(count(lit(1)).as("cx"))
    val gy = c.groupBy("y").agg(count(lit(1)).as("cy"))
    val n = c.agg(count(lit(1)).as("n"))
    val mi = g.join(broadcast(gx), "x").join(broadcast(gy), "y")
      .crossJoin(broadcast(n))
      .agg(round(sum((col("cxy").cast("double") / col("n").cast("double")) *
        log((col("cxy") * col("n")).cast("double") /
          (col("cx") * col("cy")).cast("double"))), 6).as("mi"))
    val hx = gx.crossJoin(broadcast(n))
      .agg(round(sum(-(col("cx").cast("double") / col("n").cast("double")) *
        log(col("cx").cast("double") / col("n").cast("double"))), 6).as("h_x"))
    val hy = gy.crossJoin(broadcast(n))
      .agg(round(sum(-(col("cy").cast("double") / col("n").cast("double")) *
        log(col("cy").cast("double") / col("n").cast("double"))), 6).as("h_y"))
    n.crossJoin(mi).crossJoin(hx).crossJoin(hy)
      .select(col("n"), col("mi"), col("h_x"), col("h_y"),
        round(col("mi") / col("h_x"), 6).as("uncertainty_coef"))
  }

  private[graft] val statsMiSql: String =
    """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS x, c_mktsegment AS y
      |           FROM customer),
      |g AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cxy FROM c GROUP BY 1, 2),
      |gx AS (SELECT x, CAST(count(*) AS BIGINT) AS cx FROM c GROUP BY 1),
      |gy AS (SELECT y, CAST(count(*) AS BIGINT) AS cy FROM c GROUP BY 1),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
      |mi AS (SELECT round(sum((CAST(cxy AS DOUBLE) / CAST(n AS DOUBLE)) *
      |               ln(CAST(cxy * n AS DOUBLE) / CAST(cx * cy AS DOUBLE))), 6)
      |           AS mi
      |       FROM g JOIN gx USING (x) JOIN gy USING (y) CROSS JOIN nn),
      |hx AS (SELECT round(sum(-(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE)) *
      |               ln(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS h_x
      |       FROM gx CROSS JOIN nn),
      |hy AS (SELECT round(sum(-(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)) *
      |               ln(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS h_y
      |       FROM gy CROSS JOIN nn)
      |SELECT n, mi, h_x, h_y, round(mi / h_x, 6) AS uncertainty_coef
      |FROM nn CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy""".stripMargin

  /** Per-group boxplot / robust-scaling statistics of l_quantity:
    * exact POSITIONAL quartiles (type-1, no interpolation), IQR,
    * 1.5·IQR Tukey fences, and the outlier count beyond them — the
    * robust profiling row feeding both boxplots and robust scalers.
    * Same cumulative-count positional machinery as stats_bf (the
    * 150-row value grid does all ordering); quantity's integer domain
    * keeps every statistic dyadic-exact. */
  private[graft] def statsBoxplot(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_quantity").as("q"))
    val vc = li.groupBy("flag", "q").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("flag").orderBy("q")
    val cum = vc
      .withColumn("cumEnd", sum("cnt").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cumStart", col("cumEnd") - col("cnt"))
    val tot = li.groupBy("flag").agg(count(lit(1)).as("n"))
    def at(p: Column): Column =
      min(when(col("cumStart") < p && p <= col("cumEnd"), col("q")))
    val qs = cum.join(broadcast(tot), "flag")
      .withColumn("p25", floor((col("n") + 3L) / 4.0).cast("long"))
      .withColumn("p50a", floor((col("n") + 1L) / 2.0).cast("long"))
      .withColumn("p50b", floor((col("n") + 2L) / 2.0).cast("long"))
      .withColumn("p75", floor((lit(3L) * col("n") + 1L) / 4.0).cast("long"))
      .groupBy("flag")
      .agg(first("n").as("n"), at(col("p25")).as("q1"),
        ((at(col("p50a")) + at(col("p50b"))) / 2.0).as("median"),
        at(col("p75")).as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
      .withColumn("lo_fence", col("q1") - lit(1.5) * col("iqr"))
      .withColumn("hi_fence", col("q3") + lit(1.5) * col("iqr"))
    li.join(broadcast(qs), "flag")
      .groupBy("flag")
      .agg(first("n").as("n"), first("q1").as("q1"),
        first("median").as("median"), first("q3").as("q3"),
        first("iqr").as("iqr"), first("lo_fence").as("lo_fence"),
        first("hi_fence").as("hi_fence"),
        sum(when(col("q") < col("lo_fence") || col("q") > col("hi_fence"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("flag")
  }

  private[graft] val statsBoxplotSql: String =
    """WITH li AS (SELECT l_returnflag AS flag, l_quantity AS q FROM lineitem),
      |vc AS (SELECT flag, q, CAST(count(*) AS BIGINT) AS cnt
      |       FROM li GROUP BY 1, 2),
      |cum AS (SELECT flag, q, cnt,
      |          CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY q) AS BIGINT)
      |            AS cumEnd
      |        FROM vc),
      |c2 AS (SELECT flag, q, cumEnd - cnt AS cumStart, cumEnd FROM cum),
      |tot AS (SELECT flag, CAST(count(*) AS BIGINT) AS n FROM li GROUP BY 1),
      |qs AS (
      |  SELECT flag, min(n) AS n,
      |         min(CASE WHEN cumStart < (n+3)//4 AND (n+3)//4 <= cumEnd
      |               THEN q END) AS q1,
      |         (min(CASE WHEN cumStart < (n+1)//2 AND (n+1)//2 <= cumEnd
      |                THEN q END) +
      |          min(CASE WHEN cumStart < (n+2)//2 AND (n+2)//2 <= cumEnd
      |                THEN q END)) / 2.0 AS median,
      |         min(CASE WHEN cumStart < (3*n+1)//4 AND (3*n+1)//4 <= cumEnd
      |               THEN q END) AS q3
      |  FROM c2 JOIN tot USING (flag) GROUP BY flag),
      |f AS (SELECT flag, n, q1, median, q3, q3 - q1 AS iqr,
      |        q1 - 1.5 * (q3 - q1) AS lo_fence,
      |        q3 + 1.5 * (q3 - q1) AS hi_fence
      |      FROM qs)
      |SELECT li.flag, min(n) AS n, min(q1) AS q1, min(median) AS median,
      |       min(q3) AS q3, min(iqr) AS iqr, min(lo_fence) AS lo_fence,
      |       min(hi_fence) AS hi_fence,
      |       CAST(sum(CASE WHEN q < lo_fence OR q > hi_fence THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_outliers
      |FROM li JOIN f USING (flag) GROUP BY li.flag ORDER BY li.flag""".stripMargin

  /** Grouped top-k through the bounded-heap
    * [[graft.functions.TopKByScore]] aggregate — the SCALE path for
    * top-k-per-group: the shuffle moves k-entry partial heaps per
    * (partition, group), never the full per-group row set a
    * row_number window would sort (q04's shape). Oracled against the
    * window formulation, which is exactly the semantic contract. */
  private[graft] def q49TopkGrouped(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(graft.functions.fx.topKByScore(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("o_orderpriority"), (col("pos") + 1).as("rank"),
        col("t.id").as("o_orderkey"), col("t.score").as("o_totalprice"))
      .orderBy("o_orderpriority", "rank")

  /** Deterministic dataset split assignment ([[graft.ext.Sample
    * .assignSplits]], 80/10/10): every document gets a reproducible,
    * growth-stable train/val/test label from its md5 uniform. */
  private[graft] def sampleSplit(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sample.assignSplits(t(s, dir, "documents"),
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), "doc_id")
      .select(col("doc_id"), col("split"))
      .orderBy("doc_id")

  /** Weighted sampling without replacement ([[graft.ext.Sample
    * .weightedSample]], A-ES): 50 documents drawn with probability
    * proportional to n_chars — deterministic md5 uniforms, round-9
    * keys, id tie-break, so the sampled SET is hash-gated exactly. */
  private[graft] def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sample.weightedSample(t(s, dir, "documents"), 50, "n_chars", "doc_id")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")

  /** Cohort retention matrix: users cohorted by the week of their
    * first event; n distinct users active per (cohort week, week
    * offset) — the standard product-analytics retention triangle.
    * Three keyed aggregations, no window over the event corpus. */
  private[graft] def q46Retention(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
    val cohort = ev.groupBy("user_id").agg(min("wk").as("cwk"))
    ev.distinct().join(cohort, "user_id")
      .select(col("cwk").cast("timestamp").as("cohort_week"),
        floor(datediff(col("wk"), col("cwk")) / 7).cast("int").as("week_offset"),
        col("user_id"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Rolling 7-day distinct active users per day. The scale shape:
    * instead of a per-day range join (or a DISTINCT window, which
    * neither engine distributes well), each (user, day) activity row
    * fans out to the ≤ 7 trailing days it covers — the sliding-window
    * explode pattern — then one keyed count(distinct) per day. */
  private[graft] def q47RollingDau(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("ed")).distinct()
    val days = ev.select(col("ed").as("d")).distinct()
    ev.select(col("user_id"),
        explode(sequence(col("ed"), date_add(col("ed"), 6))).as("d"))
      .join(days, "d")
      .groupBy(col("d").cast("timestamp").as("d"))
      .agg(countDistinct("user_id").as("dau_7d"))
      .orderBy("d")
  }

  /** Z-score anomaly flags on daily event counts: each (day, type)
    * count scored against its own TRAILING 6-day window (current day
    * excluded — the leak-free baseline); |z| ≥ 2 flags the anomaly.
    * Windows are rows-framed over unique (type, day) keys, so frame
    * membership is deterministic; z rounds to 4 dp (the frame's
    * mean/std accumulate in engine order). */
  private[graft] def q48Zscore(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"))
    val w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-6, -1)
    daily
      .withColumn("mu", avg("n").over(w))
      .withColumn("sd", stddev_samp(col("n")).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .select(col("d").cast("timestamp").as("d"), col("event_type"),
        col("n").cast("long").as("n"),
        when(col("cnt") >= 3 && col("sd") > 0,
          round((col("n") - col("mu")) / col("sd"), 4)).as("z"),
        (col("cnt") >= 3 && col("sd") > 0 &&
          abs((col("n") - col("mu")) / col("sd")) >= 2).as("is_anomaly"))
      .orderBy("d", "event_type")
  }

  /** Statistical aggregates (corr / covariance / stddev / variance /
    * linear regression / exact median) per group — the profiling
    * surface of a feature-engineering pass. Rounding margins are set
    * per statistic: the two engines accumulate central moments in
    * different orders (and with different but equally-stable one-pass
    * algorithms), so each value is rounded where its magnitude leaves
    * ≥ 10³ of headroom over the cross-engine drift. */
  private[graft] def q42Stats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qp"),
        round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope_pq"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 2).as("icept_pq"),
        round(median(col("l_extendedprice")), 4).as("med_price"))
      .orderBy("l_returnflag")

  /** Fixed-grid histogram of order totals: bucket = min(⌊price /
    * 50 000⌋, 11) — the floor-div binning both engines compute
    * bit-identically (double divide + floor + least, no aggregates
    * before the bucket key). */
  private[graft] def q43Histogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        least(floor(col("o_totalprice").cast("double") / lit(50000.0)), lit(11L)).as("bucket"),
        col("o_totalprice").cast("double").as("p"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), round(sum("p"), 2).as("sum_price"),
        round(min("p"), 2).as("min_price"), round(max("p"), 2).as("max_price"))
      .orderBy("bucket")

  /** Inline VALUES lookup table (driver-local rows become a broadcast
    * dim): per-priority order counts weighted by a literal table. */
  private[graft] def q40ValuesJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val weights = Seq(
      ("1-URGENT", 5L), ("2-HIGH", 4L), ("3-MEDIUM", 3L),
      ("4-NOT SPECIFIED", 2L), ("5-LOW", 1L))
      .toDF("o_orderpriority", "weight")
    t(s, dir, "orders")
      .join(broadcast(weights), "o_orderpriority")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("weight").as("weighted"))
      .orderBy("o_orderpriority")
  }

  /** Array set algebra: per-segment sorted distinct nation list
    * (collect_set → array_sort), its overlap with a literal array
    * (array_intersect), and a string rendering (deterministic because
    * sorted). */
  private[graft] def q41ArrayOps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_nationkey").cast("long").as("nk"))
      .groupBy("c_mktsegment")
      .agg(array_sort(collect_set(col("nk"))).as("nations"))
      .select(
        col("c_mktsegment"),
        size(col("nations")).cast("long").as("n_nations"),
        size(array_intersect(col("nations"),
          array((0L to 9L).map(lit): _*))).cast("long").as("n_low"),
        array_join(expr("transform(nations, x -> cast(x as string))"), ",")
          .as("nation_csv"))
      .orderBy("c_mktsegment")

  /** PageRank over a cyclic part↔supplier graph derived from lineitem
    * (forward edges part→supplier on non-returned lines, reverse edges
    * on returned lines; supplier node ids offset by 1e6 to disjoin the
    * key spaces). 5 fixed iterations of [[graft.ext.Graph.pageRank]] —
    * two keyed shuffles per iteration, lineage checkpointed — oracled
    * against the same recurrence unrolled as 5 relational steps in
    * DuckDB. Final ranks rounded to 6 dp (per-destination double sums
    * are shuffle-order-dependent in the last ulp). */
  /** The shared part↔supplier bipartite graph: non-returned lines
    * point part → supplier, returned lines reverse the edge (so the
    * graph has real direction structure and dangling nodes). */
  private[graft] def bipartiteEdges(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val fwd = li.filter(col("l_returnflag") =!= "R")
      .select(col("l_partkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    val rev = li.filter(col("l_returnflag") === "R")
      .select((col("l_suppkey") + 1000000L).as("src"), col("l_partkey").as("dst"))
    fwd.union(rev)
  }

  private[graft] def graphPagerank(s: SparkSession, dir: String): DataFrame =
    graft.ext.Graph.pageRank(bipartiteEdges(s, dir), iterations = 5, damping = 0.85)
      .select(col("id").as("node"), round(col("r"), 6).as("pr"))
      .orderBy("node")

  /** [[graphPagerank]]'s graph under the CANONICAL dangling-mass
    * formulation ([[graft.ext.Graph.pageRank]] with
    * `redistributeDangling = true`): each round redistributes the
    * aggregate rank of sink nodes uniformly, conserving total rank.
    * Same unrolled relational replay, extended with a per-iteration
    * dangling-mass scalar. */
  private[graft] def graphPagerankDangling(s: SparkSession, dir: String): DataFrame =
    graft.ext.Graph.pageRank(bipartiteEdges(s, dir), iterations = 5,
        damping = 0.85, redistributeDangling = true)
      .select(col("id").as("node"), round(col("r"), 6).as("pr"))
      .orderBy("node")

  /** DuckDB oracle for [[graphPagerank]] (and its dangling-
    * redistribution twin): the identical recurrence unrolled — rank_0
    * = 1, rank_{t+1} = 0.15 + 0.85 · (Σ in-mass [+ D_t / N]) — as
    * chained CTEs, one (dangling-mass, contribs, ranks) group per
    * iteration. */
  private[graft] def graphPagerankSqlFor(dangling: Boolean,
                                  seeds: Option[Seq[Long]] = None): String = {
    // restart vector: uniform 1.0 (plain/dangling PageRank) or the
    // seed indicator (personalized) — mirrors Graph.pageRank's seeds
    val restartInit = seeds
      .map(ss => s"CASE WHEN id IN (${ss.mkString(", ")}) THEN 1.0 ELSE 0.0 END")
      .getOrElse("1.0")
    val restartTerm = seeds.map(_ => s"0.15 * ($restartInit)").getOrElse("0.15")
    val outCol = if (seeds.isDefined) "ppr" else "pr"
    val iters = (1 to 5).map { i =>
      val dmass =
        if (dangling)
          s"""d$i AS (
             |  SELECT coalesce(sum(r.r), 0) AS dm
             |  FROM r${i - 1} r JOIN dang ON dang.id = r.id),
             |""".stripMargin
        else ""
      val rank =
        if (dangling)
          s"""r$i AS (
             |  SELECT id, 0.15 + 0.85 * (coalesce(m, 0) + d$i.dm / n.n) AS r
             |  FROM nodes LEFT JOIN c$i ON c$i.dst = nodes.id
             |  CROSS JOIN d$i CROSS JOIN n)""".stripMargin
        else
          s"""r$i AS (
             |  SELECT id, $restartTerm + 0.85 * coalesce(m, 0) AS r
             |  FROM nodes LEFT JOIN c$i ON c$i.dst = nodes.id)""".stripMargin
      s"""${dmass}c$i AS (
         |  SELECT e.dst, sum(r${i - 1}.r / deg.outdeg) AS m
         |  FROM e JOIN deg USING (src) JOIN r${i - 1} ON r${i - 1}.id = e.src
         |  GROUP BY e.dst),
         |$rank""".stripMargin
    }.mkString(",\n")
    val danglingCtes =
      if (dangling)
        """dang AS (SELECT id FROM nodes WHERE id NOT IN (SELECT src FROM deg)),
          |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
          |""".stripMargin
      else ""
    s"""WITH e AS (
       |  SELECT DISTINCT l_partkey AS src, 1000000 + l_suppkey AS dst
       |  FROM lineitem WHERE l_returnflag <> 'R'
       |  UNION
       |  SELECT DISTINCT 1000000 + l_suppkey, l_partkey
       |  FROM lineitem WHERE l_returnflag = 'R'),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
       |${danglingCtes}r0 AS (SELECT id, $restartInit AS r FROM nodes),
       |$iters
       |SELECT id AS node, round(r, 6) AS $outCol FROM r5 ORDER BY node""".stripMargin
  }
  private[graft] val graphPagerankSql: String = graphPagerankSqlFor(dangling = false)
  private[graft] val graphPagerankDanglingSql: String = graphPagerankSqlFor(dangling = true)

  /** Personalized PageRank ([[graft.ext.Graph.personalizedPageRank]],
    * restart to parts {1,2,3,4}) on the same bipartite graph as
    * [[graphPagerank]] — rank mass concentrates around the seed
    * neighborhood instead of spreading uniformly. Oracle: the same
    * 5-round unroll with the seed-indicator restart term. */
  private[graft] def graphPpr(s: SparkSession, dir: String): DataFrame =
    graft.ext.Graph.personalizedPageRank(bipartiteEdges(s, dir),
        seeds = Seq(1L, 2L, 3L, 4L), iterations = 5, damping = 0.85)
      .select(col("id").as("node"), round(col("r"), 6).as("ppr"))
      .orderBy("node")

  private[graft] val graphPprSql: String =
    graphPagerankSqlFor(dangling = false, seeds = Some(Seq(1L, 2L, 3L, 4L)))

  /** HITS hubs & authorities ([[graft.ext.Graph.hits]], 3 rounds) on
    * the shared bipartite graph. The directed structure makes the two
    * sides genuinely different: parts that SEND edges become hubs,
    * suppliers that receive become authorities (and vice versa on the
    * returned-lines reversals). Oracle: the identical recurrence
    * unrolled — per round a sum-join CTE, a single-row max, and the
    * max-normalized round(6) scores — with MATERIALIZED round CTEs
    * (each is referenced twice; inlined they re-expand the base scan
    * exponentially). */
  private[graft] def graphHits(s: SparkSession, dir: String): DataFrame =
    graft.ext.Graph.hits(bipartiteEdges(s, dir), iterations = 3)
      .select(col("id").as("node"), col("a").as("authority"), col("h").as("hub"))
      .orderBy("node")

  private[graft] val graphHitsSql: String = {
    val rounds = (1 to 3).map { i =>
      val prevH = s"h${i - 1}"
      s"""ar$i AS MATERIALIZED (
         |  SELECT e.dst, sum($prevH.h) AS ar
         |  FROM e JOIN $prevH ON $prevH.id = e.src GROUP BY e.dst),
         |ma$i AS (SELECT max(ar) AS ma FROM ar$i),
         |a$i AS MATERIALIZED (
         |  SELECT id, round(coalesce(ar, 0) / ma, 6) AS a
         |  FROM nodes LEFT JOIN ar$i ON ar$i.dst = nodes.id CROSS JOIN ma$i),
         |hr$i AS MATERIALIZED (
         |  SELECT e.src, sum(a$i.a) AS hr
         |  FROM e JOIN a$i ON a$i.id = e.dst GROUP BY e.src),
         |mh$i AS (SELECT max(hr) AS mh FROM hr$i),
         |h$i AS MATERIALIZED (
         |  SELECT id, round(coalesce(hr, 0) / mh, 6) AS h
         |  FROM nodes LEFT JOIN hr$i ON hr$i.src = nodes.id CROSS JOIN mh$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT l_partkey AS src, 1000000 + l_suppkey AS dst
       |  FROM lineitem WHERE l_returnflag <> 'R'
       |  UNION
       |  SELECT DISTINCT 1000000 + l_suppkey, l_partkey
       |  FROM lineitem WHERE l_returnflag = 'R'),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
       |h0 AS (SELECT id, 1.0 AS h FROM nodes),
       |$rounds
       |SELECT nodes.id AS node, a3.a AS authority, h3.h AS hub
       |FROM nodes JOIN a3 ON a3.id = nodes.id JOIN h3 ON h3.id = nodes.id
       |ORDER BY node""".stripMargin
  }

  /** Leave-one-out target encoding of order priority against the
    * binary "fulfilled" label — the category-to-number feature
    * transform that avoids label leakage: each row's own label is
    * subtracted from its category's sum, plus an m=10 smoothing prior
    * toward the global rate (the standard high-cardinality-category
    * recipe). The encoding depends on a row only through (cat, y), so
    * the distinct (cat, y) grid — bounded by the category domain —
    * IS the result: one keyed agg, one single-row global rate, one
    * broadcast join. All numerators exact int64; each encoding is a
    * single division (plus one mul-add for the smoothed form), round
    * 6. */
  private[graft] def featTargetEncode(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderpriority").as("cat"),
      when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
    val g = o.groupBy("cat").agg(count(lit(1)).as("n_cat"), sum("y").as("s_cat"))
    val glob = o.agg(sum("y").as("sy"), count(lit(1)).as("cnt"))
    o.distinct()
      .join(broadcast(g), "cat").crossJoin(broadcast(glob))
      .select(col("cat"), col("y"), col("n_cat"), col("s_cat"),
        round(when(col("n_cat") > 1L,
            (col("s_cat") - col("y")).cast("double") /
              (col("n_cat") - 1L).cast("double"))
          .otherwise(col("sy").cast("double") / col("cnt").cast("double")),
          6).as("loo_enc"),
        round(((col("s_cat") - col("y")).cast("double") +
            lit(10.0) * (col("sy").cast("double") / col("cnt").cast("double"))) /
          (col("n_cat") - 1L + 10L).cast("double"), 6).as("smoothed_enc"))
      .orderBy("cat", "y")
  }

  private[graft] val featTargetEncodeSql: String =
    """WITH o AS (SELECT o_orderpriority AS cat,
      |             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |           FROM orders),
      |g AS (SELECT cat, CAST(count(*) AS BIGINT) AS n_cat,
      |        CAST(sum(y) AS BIGINT) AS s_cat FROM o GROUP BY cat),
      |gl AS (SELECT CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(count(*) AS BIGINT) AS cnt FROM o)
      |SELECT DISTINCT o.cat, CAST(o.y AS BIGINT) AS y, n_cat, s_cat,
      |       round(CASE WHEN n_cat > 1
      |                  THEN CAST(s_cat - y AS DOUBLE) / CAST(n_cat - 1 AS DOUBLE)
      |                  ELSE CAST(sy AS DOUBLE) / CAST(cnt AS DOUBLE) END, 6)
      |         AS loo_enc,
      |       round((CAST(s_cat - y AS DOUBLE) +
      |              10.0 * (CAST(sy AS DOUBLE) / CAST(cnt AS DOUBLE))) /
      |             CAST(n_cat - 1 + 10 AS DOUBLE), 6) AS smoothed_enc
      |FROM o JOIN g USING (cat) CROSS JOIN gl
      |ORDER BY cat, y""".stripMargin

  /** Shared 64-entry Laplace(b=1) noise ladder: quantile at each
    * bucket midpoint (i+0.5)/64, serialized as shortest-round-trip
    * double literals so BOTH engines parse back the identical bits
    * (the poissonCdf precedent). */
  private[graft] val laplaceLadder: Seq[String] = (0 until 64).map { i =>
    val p = (i + 0.5) / 64.0
    val x = if (p < 0.5) math.log(2.0 * p) else -math.log(2.0 * (1.0 - p))
    x.toString
  }

  /** Differentially-private event-type counts (ε=1 Laplace mechanism)
    * with SEEDED noise: each group's uniform comes from an md5 of its
    * key, quantized through the shared 64-entry inverse-CDF ladder —
    * the release pipeline's noisy-count shape, made deterministic so
    * the oracle gates it exactly (real deployments would swap the md5
    * seed for a secret RNG; everything else is unchanged). One keyed
    * count + a per-group scalar chain; nothing scales with rows. The
    * true count rides along for the error readout. */
  private[graft] def privDpcount(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "events")
      .groupBy("event_type").agg(count(lit(1)).as("n_true"))
    val u = conv(substring(md5(concat(lit("dp:"), col("event_type"))), 1, 8),
      16, 10).cast("long").cast("double") / 4294967296.0
    val idx = floor(col("u") * 64.0).cast("int")
    val noise = laplaceLadder.zipWithIndex.foldRight(lit(0.0): Column) {
      case ((x, i), acc) => when(col("idx") === i, lit(x.toDouble)).otherwise(acc)
    }
    counts.withColumn("u", u).withColumn("idx", idx)
      .select(col("event_type"), col("n_true"),
        round(noise, 6).as("noise"),
        round(col("n_true").cast("double") + noise, 6).as("n_noisy"))
      .orderBy("event_type")
  }

  private[graft] val privDpcountSql: String = {
    val cases = laplaceLadder.zipWithIndex
      .map { case (x, i) => s"WHEN idx = $i THEN CAST($x AS DOUBLE)" }
      .mkString(" ")
    s"""WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
       |           FROM events GROUP BY event_type),
       |u AS (SELECT event_type, n_true,
       |        CAST(floor((('0x' || substr(md5('dp:' || event_type), 1, 8))::BIGINT
       |          / 4294967296.0) * 64.0) AS INT) AS idx
       |      FROM c),
       |nz AS (SELECT event_type, n_true, CASE $cases ELSE 0.0 END AS noise
       |       FROM u)
       |SELECT event_type, n_true, round(noise, 6) AS noise,
       |       round(CAST(n_true AS DOUBLE) + noise, 6) AS n_noisy
       |FROM nz ORDER BY event_type""".stripMargin
  }

  /** Gini decision stump over `value → is-purchase` — the single-split
    * classifier that doubles as best-split feature scoring in
    * tree/GBDT training. Candidate thresholds are the floor(value)
    * buckets (attribute-domain-bounded, ~500), so one keyed agg
    * produces per-bucket (n, positives), one tiny ordered window
    * produces cumulative left-side counts, and the weighted-Gini
    * argmin is a min-struct over that bounded relation. All counts
    * exact int64; the Gini chain is short IEEE over exact ints,
    * round(6) before the (cost, threshold) argmin so ranking replays
    * exactly. */
  private[graft] def mlStump(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      floor(col("value")).cast("long").as("thr"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val bk = ev.groupBy("thr").agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
    val w = Window.orderBy("thr").rowsBetween(Window.unboundedPreceding, 0)
    val cum = bk
      .withColumn("nl", sum("cnt").over(w))
      .withColumn("pl", sum("pos").over(w))
    val tot = ev.agg(count(lit(1)).as("n"), sum("y").as("p"))
    def gini(pp: Column, nn: Column): Column = {
      val a = pp.cast("double") / nn.cast("double")
      val b = (nn - pp).cast("double") / nn.cast("double")
      lit(1.0) - a * a - b * b
    }
    val cand = cum.crossJoin(broadcast(tot)).filter(col("nl") < col("n"))
    val cost = round(
      (col("nl").cast("double") / col("n").cast("double")) *
        gini(col("pl"), col("nl")) +
      ((col("n") - col("nl")).cast("double") / col("n").cast("double")) *
        gini(col("p") - col("pl"), col("n") - col("nl")), 6)
    cand.withColumn("cost", cost)
      .agg(min(struct(col("cost"), col("thr"), col("nl"), col("pl"))).as("b"))
      .crossJoin(broadcast(tot))
      .select(col("b.thr").as("split_at"), col("b.cost").as("gini_cost"),
        col("b.nl").as("n_left"), col("b.pl").as("pos_left"),
        (col("n") - col("b.nl")).as("n_right"),
        (col("p") - col("b.pl")).as("pos_right"),
        round(gini(col("p"), col("n")), 6).as("gini_base"))
  }

  private[graft] val mlStumpSql: String =
    """WITH ev AS (SELECT CAST(floor(value) AS BIGINT) AS thr,
      |             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |           FROM events),
      |bk AS (SELECT thr, CAST(count(*) AS BIGINT) AS cnt,
      |         CAST(sum(y) AS BIGINT) AS pos FROM ev GROUP BY thr),
      |cum AS (SELECT thr,
      |          CAST(sum(cnt) OVER (ORDER BY thr) AS BIGINT) AS nl,
      |          CAST(sum(pos) OVER (ORDER BY thr) AS BIGINT) AS pl
      |        FROM bk),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS p
      |        FROM ev),
      |cand AS (
      |  SELECT thr, nl, pl, n, p,
      |         round((CAST(nl AS DOUBLE) / CAST(n AS DOUBLE)) *
      |                 (1.0 - (CAST(pl AS DOUBLE)/CAST(nl AS DOUBLE))
      |                          * (CAST(pl AS DOUBLE)/CAST(nl AS DOUBLE))
      |                      - (CAST(nl - pl AS DOUBLE)/CAST(nl AS DOUBLE))
      |                          * (CAST(nl - pl AS DOUBLE)/CAST(nl AS DOUBLE))) +
      |               (CAST(n - nl AS DOUBLE) / CAST(n AS DOUBLE)) *
      |                 (1.0 - (CAST(p - pl AS DOUBLE)/CAST(n - nl AS DOUBLE))
      |                          * (CAST(p - pl AS DOUBLE)/CAST(n - nl AS DOUBLE))
      |                      - (CAST((n - nl) - (p - pl) AS DOUBLE)/CAST(n - nl AS DOUBLE))
      |                          * (CAST((n - nl) - (p - pl) AS DOUBLE)/CAST(n - nl AS DOUBLE))), 6)
      |           AS cost
      |  FROM cum CROSS JOIN tot WHERE nl < n)
      |SELECT thr AS split_at, cost AS gini_cost, nl AS n_left, pl AS pos_left,
      |       n - nl AS n_right, p - pl AS pos_right,
      |       round(1.0 - (CAST(p AS DOUBLE)/CAST(n AS DOUBLE))
      |                     * (CAST(p AS DOUBLE)/CAST(n AS DOUBLE))
      |                 - (CAST(n - p AS DOUBLE)/CAST(n AS DOUBLE))
      |                     * (CAST(n - p AS DOUBLE)/CAST(n AS DOUBLE)), 6) AS gini_base
      |FROM cand ORDER BY cost, thr LIMIT 1""".stripMargin

  /** Per-document keyphrases: top-3 terms by tf·idf with idf =
    * ln(N/df) — the classic keyword extractor over the corpus. Two
    * keyed aggs (doc-term tf, term df), one keyed join on TERM (a
    * 100 M-term vocabulary still flows — never broadcast), one
    * single-row N broadcast, and a doc-PARTITIONED rank window.
    * ln runs on an exact-int ratio (the text_zipf parity precedent);
    * scores round 6 before ranking with (score desc, term) ties. */
  private[graft] def textKeyphrase(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nd = docs.agg(count(lit(1)).as("nd"))
    val td = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfr = td.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = td.join(dfr, "term").crossJoin(broadcast(nd))
      .withColumn("score", round(col("tf").cast("double") *
        log(col("nd").cast("double") / col("df").cast("double")), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast("long").as("rank"), col("term"),
        col("score"), col("tf"), col("df"))
      .orderBy("doc_id", "rank")
  }

  private[graft] lazy val textKeyphraseSql: String =
    s"""WITH tok AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
       |td AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM tok GROUP BY 1, 2),
       |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM td GROUP BY 1),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
       |scored AS (
       |  SELECT doc_id, term, tf, df,
       |         round(CAST(tf AS DOUBLE) *
       |               ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS score
       |  FROM td JOIN dfr USING (term) CROSS JOIN nd),
       |rk AS (SELECT doc_id, term, tf, df, score,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY score DESC, term) AS rank
       |       FROM scored)
       |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, score, tf, df
       |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Hampel filter outlier repair on the per-type daily series:
    * |x − med₇| > 3·1.4826·MAD₇ flags the point and substitutes the
    * rolling median — the robust despiker run before feeding metrics
    * into forecasting. The 7-slot frame materializes as a collected
    * array per row (bounded by the window width, not the series), so
    * the median AND the median-absolute-deviation are exact middle
    * elements of sorted 7-arrays — no windowed-percentile
    * interpolation to synchronize. Daily sums round 4 first; every
    * later step is exact selection/comparison. Keyed windows only. */
  private[graft] def tsHampel(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(sum("value"), 4).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val d = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("arr", collect_list("x").over(w.rowsBetween(-6, 0)))
      .filter(col("rn") >= 7)
      .withColumn("med7", element_at(array_sort(col("arr")), 4))
      .withColumn("mad7", element_at(
        array_sort(transform(col("arr"), v => abs(v - col("med7")))), 4))
    val out = abs(col("x") - col("med7")) > lit(4.4478) * col("mad7")
    d.select(col("event_type"), col("day").cast("timestamp").as("day"),
        col("x"), col("med7"), col("mad7"), out.as("is_outlier"),
        when(out, col("med7")).otherwise(col("x")).as("repaired"))
      .orderBy("event_type", "day")
  }

  private[graft] val tsHampelSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, round(sum(value), 4) AS x
      |  FROM events GROUP BY 1, 2),
      |c AS (SELECT event_type, day, x,
      |        list(x) OVER (PARTITION BY event_type ORDER BY day
      |          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS arr,
      |        row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |      FROM daily),
      |m AS (SELECT event_type, day, x, arr, list_sort(arr)[4] AS med7
      |      FROM c WHERE rn >= 7),
      |md AS (SELECT event_type, day, x, med7,
      |         list_sort(list_transform(arr, v -> abs(v - med7)))[4] AS mad7
      |       FROM m)
      |SELECT event_type, CAST(day AS TIMESTAMP) AS day, x, med7, mad7,
      |       abs(x - med7) > 4.4478 * mad7 AS is_outlier,
      |       CASE WHEN abs(x - med7) > 4.4478 * mad7 THEN med7 ELSE x END
      |         AS repaired
      |FROM md ORDER BY event_type, day""".stripMargin

  /** Cosine radius search ([[Similarity.rangeSearch]]): every corpus
    * vector within cosine ≥ 0.35 of query vectors 0-7 — the
    * threshold-gated retrieval primitive (near-dup lookup, RAG
    * recall gates). Broadcast queries, corpus never shuffles, the
    * predicate prunes inside the scan; the threshold compares the
    * ROUNDED cosine so the boundary replays exactly. */
  private[graft] def simsearchRange(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.rangeSearch(emb, emb.filter(col("vec_id") < 8), 0.35)
      .orderBy("query_id", "nbr_id")
  }

  private[graft] val simsearchRangeSql: String =
    """SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
      |       round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
      |                                    CAST(q.embedding AS DOUBLE[])), 6) AS cosine
      |FROM embeddings c JOIN embeddings q
      |  ON q.vec_id < 8 AND q.vec_id <> c.vec_id
      |WHERE round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
      |                                   CAST(q.embedding AS DOUBLE[])), 6) >= 0.35
      |ORDER BY query_id, nbr_id""".stripMargin

  /** DuckDB oracle for [[graphKcore]]: the identical
    * [[kcoreRounds]]-round peel unrolled as chained CTEs (degree →
    * keep → filtered edges per round). Idempotence after convergence
    * makes the fixed unroll exact — no fixpoint test to synchronize
    * across engines. */
  // literal-typed final val: a compile-time constant, safe to use from
  // vals declared on either side of it (no initialization-order hazard)
  final val kcoreRounds = 4

  private[graft] val graphKcoreSql: String = {
    // MATERIALIZED: each e_i is referenced 3x by round i+1; inlined,
    // the unroll re-expands e0 3^rounds times and exhausts file handles
    val rounds = (1 to kcoreRounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT id, count(*) AS d FROM (
         |  SELECT u AS id FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1}) GROUP BY 1),
         |k$i AS (SELECT id FROM d$i WHERE d >= 4),
         |e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
         |        JOIN k$i a ON a.id = e.u JOIN k$i b ON b.id = e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH ps AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |            FROM lineitem WHERE l_linenumber <= 3),
       |e0 AS MATERIALIZED (SELECT DISTINCT x.p AS u, y.p AS v
       |       FROM ps x JOIN ps y ON x.o = y.o AND x.p < y.p),
       |$rounds
       |SELECT CAST(id AS BIGINT) AS id, count(*) AS core_degree
       |FROM (SELECT u AS id FROM e$kcoreRounds UNION ALL SELECT v FROM e$kcoreRounds)
       |GROUP BY 1 ORDER BY id""".stripMargin
  }

  /** BPE merge training ([[graft.ext.Text.bpeTrain]], 6 merges) over
    * the documents corpus — the tokenizer-training step of an LLM data
    * pipeline, fully exact (integer pair counts + deterministic string
    * rewrites, no floats anywhere), so the whole training loop is
    * hash-oracled as 6 unrolled count→argmax→rewrite rounds. */
  private[graft] def textBpe(s: SparkSession, dir: String): DataFrame =
    graft.ext.Text.bpeTrain(t(s, dir, "documents"), nMerges = 6)
      .orderBy("rank")

  /** BPE ENCODE ([[graft.ext.Text.bpeEncode]]): train 6 merges, then
    * apply them in rank order to every document — the tokenizer-apply
    * step. The merge table is parameter-sized (collected like the PQ
    * codebooks); encoding is a per-token chain of 6 codegen'd replace
    * projections. Exact strings/ints end-to-end, so the oracle
    * replays training AND encoding and the md5 of each doc's
    * position-ordered subword sequence hash-matches. */
  private[graft] def textBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = graft.ext.Text.bpeTrain(docs, nMerges = 6).orderBy("rank")
      .select("left_sym", "right_sym").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    graft.ext.Text.bpeEncode(docs, merges).orderBy("doc_id")
  }

  /** DuckDB oracle for [[textBpe]]: the same 6 training rounds
    * unrolled — per round, adjacent-pair counts from the chr(1)-joined
    * symbol strings, the (count DESC, l, r) argmax, and the padded
    * left-to-right replace rewrite (identical semantics to the
    * engine's). MATERIALIZED per round (the rewrite references the
    * previous vocabulary twice via scalar subqueries). */
  /** The 6 unrolled BPE training rounds as a WITH-body fragment
    * (`w`, `s0`, and per-round `p$i`/`m$i`/`s$i` CTEs) — shared by the
    * training oracle ([[textBpeSql]]) and the encode oracle
    * (text_bpe_encode), which applies the trained `m$i` merges. */
  private[graft] lazy val bpeTrainCtes: String = {
    val rounds = (1 to 6).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT parts[CAST(k AS INT)] AS l, parts[CAST(k + 1 AS INT)] AS r,
         |         CAST(sum(cnt) AS BIGINT) AS total
         |  FROM (SELECT parts, cnt,
         |          unnest(generate_series(1, len(parts) - 1)) AS k
         |        FROM (SELECT string_split(s, chr(1)) AS parts, cnt FROM s${i - 1}))
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (
         |  SELECT l, r, total FROM p$i ORDER BY total DESC, l, r LIMIT 1),
         |s$i AS MATERIALIZED (
         |  SELECT substr(rep, 2, length(rep) - 2) AS s, cnt FROM (
         |    SELECT replace(chr(1) || s || chr(1),
         |             chr(1) || (SELECT l FROM m$i) || chr(1) ||
         |               (SELECT r FROM m$i) || chr(1),
         |             chr(1) || (SELECT l FROM m$i) ||
         |               (SELECT r FROM m$i) || chr(1)) AS rep, cnt
         |    FROM s${i - 1}))""".stripMargin
    }.mkString(",\n")
    s"""w AS MATERIALIZED (
       |  SELECT tok AS w, count(*) AS cnt
       |  FROM (SELECT unnest($duckToks) AS tok FROM documents) GROUP BY 1),
       |s0 AS MATERIALIZED (
       |  SELECT array_to_string(string_split(w, ''), chr(1)) AS s, cnt FROM w),
       |$rounds""".stripMargin
  }

  private[graft] lazy val textBpeSql: String = {
    val out = (1 to 6).map { i =>
      s"SELECT $i AS rank, l AS left_sym, r AS right_sym, l || r AS merged, total AS pair_weight FROM m$i"
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeTrainCtes
       |SELECT CAST(rank AS INT) AS rank, left_sym, right_sym, merged, pair_weight
       |FROM ($out) ORDER BY rank""".stripMargin
  }

  /** DuckDB oracle for text_bpe_encode: the shared training rounds
    * ([[bpeTrainCtes]]) produce m1..m6; encoding replays the same
    * padded-replace chain per (doc, pos) token, then re-aggregates the
    * position-ordered subword sequence per doc. */
  private[graft] lazy val textBpeEncodeSql: String = {
    val encs = (1 to 6).map { i =>
      s"""enc$i AS MATERIALIZED (
         |  SELECT doc_id, pos, substr(rep, 2, length(rep) - 2) AS s FROM (
         |    SELECT doc_id, pos, replace(chr(1) || s || chr(1),
         |             chr(1) || (SELECT l FROM m$i) || chr(1) ||
         |               (SELECT r FROM m$i) || chr(1),
         |             chr(1) || (SELECT l FROM m$i) ||
         |               (SELECT r FROM m$i) || chr(1)) AS rep
         |    FROM enc${i - 1}))""".stripMargin
    }.mkString(",\n")
    s"""WITH $bpeTrainCtes,
       |dt AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |enc0 AS MATERIALIZED (
       |  SELECT doc_id, k AS pos,
       |         array_to_string(string_split(toks[CAST(k AS INT)], ''), chr(1)) AS s
       |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS k FROM dt)),
       |$encs
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(len(string_split(s, chr(1)))) AS BIGINT) AS n_subwords,
       |       md5(string_agg(s, ' ' ORDER BY pos)) AS enc_md5
       |FROM enc6 GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB oracle for [[simsearchMmr]]: the greedy MMR trace
    * unrolled — pool (top-64 by rounded rel, id ties), pairwise sims
    * (rounded 6), then one argmax CTE per selection step; 0.7/0.3 are
    * the same literals the engine uses (never `1 − λ`, whose double
    * is NOT the 0.3 literal). MATERIALIZED stops exponential CTE
    * inlining across the 8 steps. */
  private[graft] val simsearchMmrSql: String = {
    val steps = (2 to 8).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT r.id, r.rel, 0.7 * r.rel - 0.3 * m.ms AS score, $i AS rank
         |  FROM rel r
         |  JOIN (SELECT s.ia AS id, max(s.s) AS ms FROM sims s
         |        WHERE s.ib IN (SELECT id FROM sel${i - 1}) GROUP BY s.ia) m
         |    ON m.id = r.id
         |  WHERE r.id NOT IN (SELECT id FROM sel${i - 1})
         |  ORDER BY score DESC, r.id LIMIT 1),
         |sel$i AS MATERIALIZED (
         |  SELECT id, rel, score, rank FROM sel${i - 1}
         |  UNION ALL SELECT id, rel, score, rank FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 5),
       |rel AS MATERIALIZED (
       |  SELECT id, rel FROM (
       |    SELECT c.vec_id AS id,
       |           round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
       |                                        CAST(q.embedding AS DOUBLE[])), 6) AS rel,
       |           row_number() OVER (
       |             ORDER BY round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
       |                                        CAST(q.embedding AS DOUBLE[])), 6) DESC,
       |                      c.vec_id) AS rn
       |    FROM embeddings c CROSS JOIN q WHERE c.vec_id <> 5)
       |  WHERE rn <= 64),
       |sims AS MATERIALIZED (
       |  SELECT a.id AS ia, b.id AS ib,
       |         round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |                                      CAST(eb.embedding AS DOUBLE[])), 6) AS s
       |  FROM rel a JOIN rel b ON a.id <> b.id
       |  JOIN embeddings ea ON ea.vec_id = a.id
       |  JOIN embeddings eb ON eb.vec_id = b.id),
       |s1 AS (SELECT id, rel, 0.7 * rel AS score, 1 AS rank
       |       FROM rel ORDER BY 0.7 * rel DESC, id LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT id, rel, score, rank FROM s1),
       |$steps
       |SELECT CAST(rank AS INT) AS rank, CAST(id AS BIGINT) AS vec_id, rel, score
       |FROM sel8 ORDER BY rank""".stripMargin
  }

  /** DuckDB oracle for [[zorderRoundtrip]]: the Morton interleave as
    * an explicit 32-term shift/mask sum (terms occupy disjoint bits,
    * so + ≡ OR), checksummed with the integrity_checksum contract. */
  private[graft] val zorderRoundtripSql: String = {
    val terms = (0 until 16).flatMap { i =>
      Seq(s"((l_partkey >> $i) & 1) * ${1L << (2 * i)}",
        s"((l_suppkey >> $i) & 1) * ${1L << (2 * i + 1)}")
    }.mkString(" + ")
    s"""SELECT count(*) AS n_rows, bit_xor(h) AS xor_hash,
       |       min(h) AS min_hash, max(h) AS max_hash
       |FROM (SELECT ('0x' || substr(md5(concat_ws('|',
       |        coalesce(CAST(l_orderkey AS VARCHAR), chr(0) || 'null'),
       |        coalesce(CAST(l_linenumber AS VARCHAR), chr(0) || 'null'),
       |        coalesce(CAST(l_partkey AS VARCHAR), chr(0) || 'null'),
       |        coalesce(CAST(l_suppkey AS VARCHAR), chr(0) || 'null'),
       |        coalesce(CAST($terms AS VARCHAR), chr(0) || 'null'))), 1, 15))::BIGINT AS h
       |      FROM lineitem)""".stripMargin
  }

  /** DuckDB oracle for [[tsEwma]], generated from the SAME weight
    * ladder ([[graft.ext.TimeSeries.ewmaWeights]]) spelled as exact
    * double literals (Double.toString round-trips, and both engines
    * parse decimal literals to nearest-double). Rounded to 6 dp on
    * both sides — the 20-term chain drifts 1 ulp cross-engine. */
  private[graft] val tsEwmaSql: String = {
    val wts = graft.ext.TimeSeries.ewmaWeights(0.3, 20)
    def term(l: Int): String = if (l == 0) "value" else s"lag(value, $l) OVER w"
    val num = wts.zipWithIndex.map { case (c, l) =>
      s"coalesce(${term(l)} * $c, 0)"
    }.mkString(" + ")
    val den = wts.zipWithIndex.map { case (c, l) =>
      s"CASE WHEN ${term(l)} IS NOT NULL THEN $c ELSE 0 END"
    }.mkString(" + ")
    s"""SELECT user_id, event_id, value, round(($num) / ($den), 6) AS ewma
       |FROM events WHERE user_id < 100
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |ORDER BY user_id, event_id""".stripMargin
  }

  /** The text_nbayes oracle body (no ORDER BY) — shared with the
    * ml_eval scorecard oracle, which evaluates the same predictions. */
  private[graft] lazy val textNbayesBodySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, unnest($duckToks) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
       |), ct AS (
       |  SELECT lang AS cls, term, count(*) AS cnt FROM toks GROUP BY 1, 2
       |), tot AS (
       |  SELECT lang AS cls, count(*) AS tot FROM toks GROUP BY 1
       |), voc AS (SELECT count(DISTINCT term) AS v FROM toks
       |), pri AS (
       |  SELECT lang AS cls,
       |         ln(CAST(count(*) AS DOUBLE) /
       |            (SELECT CAST(count(*) AS DOUBLE) FROM documents)) AS prior
       |  FROM documents GROUP BY 1
       |), grid AS (
       |  SELECT t.term, c.cls,
       |         ln(CAST(coalesce(ct.cnt, 0) + 1 AS DOUBLE) /
       |            CAST(c.tot + (SELECT v FROM voc) AS DOUBLE)) AS logp
       |  FROM (SELECT DISTINCT term FROM toks) t
       |  CROSS JOIN tot c
       |  LEFT JOIN ct ON ct.term = t.term AND ct.cls = c.cls
       |), scored AS (
       |  SELECT f.doc_id, g.cls, sum(f.tf * g.logp) AS s
       |  FROM tf f JOIN grid g ON g.term = f.term GROUP BY 1, 2
       |), sc2 AS (
       |  SELECT s.doc_id, s.cls, round(s.s + p.prior, 4) AS score
       |  FROM scored s JOIN pri p ON p.cls = s.cls
       |), best AS (
       |  SELECT doc_id, cls, score,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY score DESC, cls) AS rn
       |  FROM sc2)
       |SELECT d.doc_id, d.lang, b.cls AS predicted, b.score
       |FROM documents d JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1""".stripMargin

  private[graft] lazy val textNbayesSql: String =
    textNbayesBodySql + "\nORDER BY d.doc_id"

  /** DuckDB oracle for [[tsHolt]]: both Holt ladders spelled as exact
    * double literals from the SAME [[graft.ext.TimeSeries
    * .holtWeights]] call the engine uses; the forecast replays the
    * engine's round(round(level)+round(trend)) chain exactly. QUALIFY
    * drops partial-history rows (the engine's __full filter). */
  private[graft] val tsHoltSql: String = {
    val (lc, bc) = graft.ext.TimeSeries.holtWeights(0.5, 0.3, 20)
    def term(l: Int): String = if (l == 0) "value" else s"lag(value, $l) OVER w"
    def dot(cs: Seq[Double]): String =
      cs.zipWithIndex.map { case (c, l) => s"${term(l)} * $c" }.mkString(" + ")
    s"""SELECT user_id, event_id, value,
       |       round(${dot(lc)}, 6) AS level,
       |       round(${dot(bc)}, 6) AS trend,
       |       round(round(${dot(lc)}, 6) + round(${dot(bc)}, 6), 6) AS forecast
       |FROM events WHERE user_id < 100
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |QUALIFY lag(value, 19) OVER w IS NOT NULL
       |ORDER BY user_id, event_id""".stripMargin
  }

  /** Holt–Winters-style seasonal forecast via the decompose-then-Holt
    * formulation: per-type daily totals are deseasonalized by epoch-day
    * weekday effects (slot = day mod 7, mean effect vs the grand mean —
    * the [[graft.ext.TimeSeries.decompose]] slot discipline), the
    * deseasonalized series runs through the [[graft.ext.TimeSeries
    * .holt]] ladder (α=0.5, β=0.3, 20-term window), and the one-step
    * forecast re-adds the NEXT day's slot effect. This composes the
    * two exactly-replayable pieces instead of the coupled triple
    * recursion (whose seasonal state has no closed ladder) — the
    * standard production decomposition (FPP3 §3 + Holt). Scale: two
    * keyed aggs (slot effects), one broadcast-back, one keyed window
    * pass. */
  private[graft] def tsHoltwinters(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        (unix_timestamp(date_trunc("day", col("ts"))) / 86400L).cast("long")
          .as("day"))
      .agg(round(sum("value"), 4).as("x"))
      .withColumn("slot", pmod(col("day"), lit(7)))
    val eff0 = daily.groupBy("event_type", "slot")
      .agg(round(avg("x"), 6).as("wavg"))
    val gm = daily.groupBy("event_type").agg(round(avg("x"), 6).as("gavg"))
    val eff = eff0.join(gm, "event_type")
      .select(col("event_type"), col("slot"),
        round(col("wavg") - col("gavg"), 6).as("eff"))
    val des = daily.join(broadcast(eff), Seq("event_type", "slot"))
      .withColumn("xd", round(col("x") - col("eff"), 6))
      .withColumn("tie", col("day"))
    val h = graft.ext.TimeSeries.holt(des, "event_type", "day", "xd", "tie",
      alpha = 0.5, beta = 0.3, window = 20)
    h.withColumn("slot1", pmod(col("day") + 1L, lit(7)))
      .join(broadcast(eff.select(col("event_type"), col("slot").as("slot1"),
        col("eff").as("eff1"))), Seq("event_type", "slot1"))
      .select(col("event_type"), col("day"), col("value").as("seasadj"),
        col("level"), col("trend"),
        round(col("forecast") + col("eff1"), 6).as("forecast_next"))
      .orderBy("event_type", "day")
  }

  /** Holt–Winters oracle CTE chain (daily … hw) — shared with the
    * forecast-backtest oracle, which joins `hw` against next-day
    * actuals (the textNbayesBodySql fragment precedent). */
  private[graft] val tsHoltwintersCtes: String = {
    val (lc, bc) = graft.ext.TimeSeries.holtWeights(0.5, 0.3, 20)
    def term(l: Int): String = if (l == 0) "xd" else s"lag(xd, $l) OVER w"
    def dot(cs: Seq[Double]): String =
      cs.zipWithIndex.map { case (c, l) => s"${term(l)} * $c" }.mkString(" + ")
    s"""daily AS (
       |  SELECT event_type,
       |         CAST(epoch(date_trunc('day', ts)) // 86400 AS BIGINT) AS day,
       |         round(sum(value), 4) AS x
       |  FROM events GROUP BY 1, 2),
       |d2 AS (SELECT event_type, day, x, day % 7 AS slot FROM daily),
       |eff0 AS (SELECT event_type, slot, round(avg(x), 6) AS wavg
       |         FROM d2 GROUP BY 1, 2),
       |gm AS (SELECT event_type, round(avg(x), 6) AS gavg FROM d2 GROUP BY 1),
       |eff AS (SELECT event_type, slot, round(wavg - gavg, 6) AS eff
       |        FROM eff0 JOIN gm USING (event_type)),
       |des AS (SELECT d2.event_type, d2.day, round(x - eff, 6) AS xd
       |        FROM d2 JOIN eff ON eff.event_type = d2.event_type
       |                        AND eff.slot = d2.slot),
       |h AS (
       |  SELECT event_type, day, xd AS seasadj,
       |         round(${dot(lc)}, 6) AS level,
       |         round(${dot(bc)}, 6) AS trend,
       |         round(round(${dot(lc)}, 6) + round(${dot(bc)}, 6), 6) AS fc
       |  FROM des
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day, day)
       |  QUALIFY lag(xd, 19) OVER w IS NOT NULL),
       |hw AS (
       |  SELECT h.event_type, h.day, h.seasadj, h.level, h.trend,
       |         round(h.fc + eff.eff, 6) AS forecast_next
       |  FROM h JOIN eff ON eff.event_type = h.event_type
       |                 AND eff.slot = (h.day + 1) % 7)""".stripMargin
  }

  private[graft] val tsHoltwintersSql: String =
    s"""WITH $tsHoltwintersCtes
       |SELECT event_type, day, seasadj, level, trend, forecast_next
       |FROM hw ORDER BY event_type, day""".stripMargin

  /** Forecast backtest: the [[tsHoltwinters]] one-step forecasts
    * scored against the NEXT day's actual — MAE, RMSE, and MASE
    * (MAE over the naive "tomorrow = today" error, the standard
    * scale-free skill score; < 1 beats naive). One keyed lead join of
    * the forecast frame onto the daily series; error sums round 6
    * before each ratio. */
  private[graft] def tsForecastEval(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        (unix_timestamp(date_trunc("day", col("ts"))) / 86400L).cast("long")
          .as("day"))
      .agg(round(sum("value"), 4).as("x"))
    val nxt = daily.select(col("event_type"), (col("day") - 1L).as("day"),
      col("x").as("x_next"))
    val hw = tsHoltwinters(s, dir)
      .select(col("event_type"), col("day"), col("forecast_next"))
    val j = hw.join(nxt, Seq("event_type", "day"))
      .join(daily.select(col("event_type"), col("day"), col("x")),
        Seq("event_type", "day"))
      .select(col("event_type"),
        (col("x_next") - col("forecast_next")).as("e"),
        (col("x_next") - col("x")).as("e_naive"))
    // sums round at 4 BEFORE the /n ratio (shuffle-order ulp straddles
    // a 6-dp boundary at sf0.01 otherwise — the statsBootstrap staging)
    j.groupBy("event_type").agg(
        count(lit(1)).as("n_eval"),
        round(round(sum(abs(col("e"))), 4) / count(lit(1)), 6).as("mae"),
        round(round(sum(col("e") * col("e")), 4) / count(lit(1)), 6).as("mse"),
        round(round(sum(abs(col("e_naive"))), 4) / count(lit(1)), 6)
          .as("mae_naive"))
      .select(col("event_type"), col("n_eval"), col("mae"),
        round(sqrt(col("mse")), 6).as("rmse"),
        round(col("mae") / col("mae_naive"), 6).as("mase"))
      .orderBy("event_type")
  }

  private[graft] val tsForecastEvalSql: String =
    s"""WITH $tsHoltwintersCtes,
       |nxt AS (SELECT event_type, day - 1 AS day, x AS x_next FROM daily),
       |j AS (
       |  SELECT hw.event_type,
       |         x_next - forecast_next AS e,
       |         x_next - d.x AS e_naive
       |  FROM hw JOIN nxt ON nxt.event_type = hw.event_type
       |                  AND nxt.day = hw.day
       |          JOIN daily d ON d.event_type = hw.event_type
       |                      AND d.day = hw.day),
       |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
       |        round(round(sum(abs(e)), 4) / count(*), 6) AS mae,
       |        round(round(sum(e * e), 4) / count(*), 6) AS mse,
       |        round(round(sum(abs(e_naive)), 4) / count(*), 6) AS mae_naive
       |      FROM j GROUP BY 1)
       |SELECT event_type, n_eval, mae, round(sqrt(mse), 6) AS rmse,
       |       round(mae / mae_naive, 6) AS mase
       |FROM m ORDER BY event_type""".stripMargin

  /** Functional-dependency violation audit of the candidate FD
    * `c_mktsegment → c_nationkey` — the data-quality profiling step
    * that quantifies how far a column pair is from a clean dependency
    * (entity-resolution precursors, schema-inference hints). Per
    * determinant value: support, distinct dependents, the majority
    * dependent (argmax, smallest-key ties), and the violation rate
    * (rows outside the majority). Two keyed aggs over the
    * (X, Y)-domain-bounded grid; all exact ints + one division. */
  private[graft] def dqFd(s: SparkSession, dir: String): DataFrame = {
    val g = t(s, dir, "customer")
      .groupBy(col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("long").as("nk"))
      .agg(count(lit(1)).as("cnt"))
    g.groupBy("seg").agg(
        sum("cnt").as("n"), count(lit(1)).as("n_distinct_nk"),
        min(struct((-col("cnt")).as("nc"), col("nk"))).as("b"))
      .select(col("seg"), col("n"), col("n_distinct_nk"),
        col("b.nk").as("majority_nk"), (-col("b.nc")).as("majority_cnt"),
        round((col("n") + col("b.nc")).cast("double") / col("n").cast("double"),
          6).as("violation_rate"))
      .orderBy("seg")
  }

  private[graft] val dqFdSql: String =
    """WITH g AS (SELECT c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nk,
      |             CAST(count(*) AS BIGINT) AS cnt
      |           FROM customer GROUP BY 1, 2),
      |rk AS (SELECT seg, nk, cnt,
      |         row_number() OVER (PARTITION BY seg
      |           ORDER BY cnt DESC, nk) AS rn
      |       FROM g),
      |a AS (SELECT seg, CAST(sum(cnt) AS BIGINT) AS n,
      |        CAST(count(*) AS BIGINT) AS n_distinct_nk
      |      FROM g GROUP BY seg)
      |SELECT a.seg, a.n, a.n_distinct_nk, rk.nk AS majority_nk,
      |       rk.cnt AS majority_cnt,
      |       round(CAST(a.n - rk.cnt AS DOUBLE) / CAST(a.n AS DOUBLE), 6)
      |         AS violation_rate
      |FROM a JOIN rk ON rk.seg = a.seg AND rk.rn = 1
      |ORDER BY a.seg""".stripMargin

  /** Effect size of the click-vs-purchase value gap: Cohen's d from
    * the pooled standard deviation plus the small-sample Hedges' g
    * correction — the "is it LARGE, not just significant" companion to
    * [[statsTtest]] (same rounded-moment staging). One aggregation;
    * the rest is a per-row scalar chain. */
  private[graft] def statsEffect(s: SparkSession, dir: String): DataFrame = {
    val clickV = when(col("event_type") === "click", col("value"))
    val purchV = when(col("event_type") === "purchase", col("value"))
    val a = t(s, dir, "events").agg(
      count(clickV).as("n1"), round(avg(clickV), 6).as("m1"),
      round(var_samp(clickV), 6).as("v1"),
      count(purchV).as("n2"), round(avg(purchV), 6).as("m2"),
      round(var_samp(purchV), 6).as("v2"))
    val sp = sqrt(((col("n1") - 1L) * col("v1") + (col("n2") - 1L) * col("v2")) /
      (col("n1") + col("n2") - 2L).cast("double"))
    val d = (col("m1") - col("m2")) / sp
    a.select(col("n1"), col("n2"),
      round(col("m1") - col("m2"), 6).as("mean_diff"),
      round(sp, 6).as("pooled_sd"),
      round(d, 6).as("cohens_d"),
      round(d * (lit(1.0) - lit(3.0) /
        (lit(4.0) * (col("n1") + col("n2")).cast("double") - 9.0)), 6)
        .as("hedges_g"))
  }

  private[graft] val statsEffectSql: String =
    """WITH a AS (SELECT
      |    CAST(count(CASE WHEN event_type='click' THEN value END) AS BIGINT) AS n1,
      |    round(avg(CASE WHEN event_type='click' THEN value END), 6) AS m1,
      |    round(var_samp(CASE WHEN event_type='click' THEN value END), 6) AS v1,
      |    CAST(count(CASE WHEN event_type='purchase' THEN value END) AS BIGINT) AS n2,
      |    round(avg(CASE WHEN event_type='purchase' THEN value END), 6) AS m2,
      |    round(var_samp(CASE WHEN event_type='purchase' THEN value END), 6) AS v2
      |  FROM events)
      |SELECT n1, n2, round(m1 - m2, 6) AS mean_diff,
      |       round(sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) /
      |             CAST(n1 + n2 - 2 AS DOUBLE)), 6) AS pooled_sd,
      |       round((m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) /
      |             CAST(n1 + n2 - 2 AS DOUBLE)), 6) AS cohens_d,
      |       round(((m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) /
      |             CAST(n1 + n2 - 2 AS DOUBLE))) *
      |             (1.0 - 3.0 / (4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0)), 6)
      |         AS hedges_g
      |FROM a""".stripMargin

  /** Per-dimension embedding whitening stats: mean and std of every
    * coordinate plus the standardized min/max — the preprocessing step
    * (and drift check) before cosine/PQ work when dimensions carry
    * different scales. One posexplode (map-side, 64× fan-out) + one
    * keyed agg to a dimension-bounded relation. z-scores use ROUNDED
    * mean/std (ratio amplifies ulp) and min/max are order-independent,
    * so no further rounding is needed. */
  private[graft] def embWhiten(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"), col("v").cast("double").as("v"))
    val st = e.groupBy("dim").agg(count(lit(1)).as("n"),
      round(avg("v"), 6).as("mu"), round(stddev_samp("v"), 6).as("sigma"))
    e.join(broadcast(st), "dim")
      .withColumn("z", round((col("v") - col("mu")) / col("sigma"), 4))
      .groupBy("dim").agg(first("n").as("n"), first("mu").as("mu"),
        first("sigma").as("sigma"),
        min("z").as("z_min"), max("z").as("z_max"))
      .orderBy("dim")
  }

  private[graft] val embWhitenSql: String =
    """WITH ve AS (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |e AS (
      |  SELECT CAST(k - 1 AS BIGINT) AS dim, emb[CAST(k AS INT)] AS v
      |  FROM (SELECT emb, unnest(generate_series(1, len(emb))) AS k FROM ve)),
      |st AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
      |         round(avg(v), 6) AS mu, round(stddev_samp(v), 6) AS sigma
      |       FROM e GROUP BY dim)
      |SELECT dim, n, mu, sigma,
      |       min(round((v - mu) / sigma, 4)) AS z_min,
      |       max(round((v - mu) / sigma, 4)) AS z_max
      |FROM e JOIN st USING (dim)
      |GROUP BY dim, n, mu, sigma ORDER BY dim""".stripMargin

  /** Brown–Forsythe test (the robust ANOVA-on-|deviations-from-
    * median| variance-homogeneity check) of l_quantity across return
    * flags. The group medians come from exact POSITIONAL selection on
    * the 50-value × 3-flag cumulative-count relation (no percentile
    * interpolation rule to synchronize), and because quantity is
    * integer-valued the |x − med| deviations are dyadic multiples of
    * 0.5 — every partial sum is exactly representable, so the z-sums
    * are order-INDEPENDENT and the F chain needs rounding only at the
    * end. Same pivot-to-columns trick as stats_anova. */
  private[graft] def statsBf(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_quantity").as("q"))
    val vc = li.groupBy("flag", "q").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("flag").orderBy("q")
    val cum = vc
      .withColumn("cumEnd", sum("cnt").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cumStart", col("cumEnd") - col("cnt"))
    val tot = li.groupBy("flag").agg(count(lit(1)).as("ng"))
    val med = cum.join(broadcast(tot), "flag")
      // Spark's / on longs is DOUBLE division — floor to the exact
      // integer position (a fractional position lands in the right
      // bucket only when both middles share a value)
      .withColumn("p1", floor((col("ng") + 1L) / 2.0).cast("long"))
      .withColumn("p2", floor((col("ng") + 2L) / 2.0).cast("long"))
      .groupBy("flag")
      .agg(((min(when(col("cumStart") < col("p1") && col("p1") <= col("cumEnd"),
          col("q"))) +
        min(when(col("cumStart") < col("p2") && col("p2") <= col("cumEnd"),
          col("q")))) / 2.0).as("med"))
    val z = li.join(broadcast(med), "flag")
      .select(col("flag"), abs(col("q") - col("med")).as("z"))
    def g(flag: String, e: Column): Column =
      sum(when(col("flag") === flag, e).otherwise(lit(0.0)))
    val a = z.agg(
      g("A", lit(1.0)).as("na"), g("N", lit(1.0)).as("nn"),
      g("R", lit(1.0)).as("nr"),
      g("A", col("z")).as("sa"), g("N", col("z")).as("sn"),
      g("R", col("z")).as("sr"),
      g("A", col("z") * col("z")).as("qa"),
      g("N", col("z") * col("z")).as("qn"),
      g("R", col("z") * col("z")).as("qr"))
    val tA = col("sa") * col("sa") / col("na")
    val tN = col("sn") * col("sn") / col("nn")
    val tR = col("sr") * col("sr") / col("nr")
    val n = col("na") + col("nn") + col("nr")
    val sTot = col("sa") + col("sn") + col("sr")
    val qTot = col("qa") + col("qn") + col("qr")
    val between = tA + tN + tR - sTot * sTot / n
    val within = qTot - (tA + tN + tR)
    val medW = med.groupBy().pivot("flag", Seq("A", "N", "R")).agg(first("med"))
    a.crossJoin(broadcast(medW))
      .select(col("A").as("med_a"), col("N").as("med_n"), col("R").as("med_r"),
        n.cast("long").as("n"),
        round(between, 6).as("ss_between"), round(within, 6).as("ss_within"),
        round((between / 2.0) / (within / (n - 3.0)), 6).as("f_stat"))
  }

  /** Shared DuckDB fragment: whitespace tokens of lowercased text. */
  private[graft] val duckToks =
    "list_filter(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+'), t -> len(t) > 0)"

  private[graft] val knnJoinSql: String =
    """WITH dims AS (
        |  SELECT vec_id, g.i AS i, CAST(embedding[g.i + 1] AS DOUBLE) AS v
        |  FROM embeddings, generate_series(0, 63) g(i)
        |), signs AS (
        |  SELECT t1.i, t2.b,
        |         CASE WHEN substr(md5(CAST(t1.i AS VARCHAR) || ':' || CAST(t2.b AS VARCHAR)), 1, 1) < '8'
        |              THEN 1.0 ELSE -1.0 END AS s
        |  FROM generate_series(0, 63) t1(i) CROSS JOIN generate_series(0, 383) t2(b)
        |), proj AS (
        |  SELECT d.vec_id, s.b, sum(d.v * s.s) AS p
        |  FROM dims d JOIN signs s ON s.i = d.i GROUP BY 1, 2
        |), bb AS (
        |  SELECT vec_id, b // 8 AS band,
        |         sum(CASE WHEN p > 0 THEN 1 << (b % 8) ELSE 0 END) AS chunk
        |  FROM proj GROUP BY 1, 2
        |), okb AS (
        |  SELECT band, chunk FROM bb GROUP BY band, chunk HAVING count(*) <= 64
        |), kept AS (
        |  SELECT bb.vec_id, bb.band, bb.chunk FROM bb JOIN okb USING (band, chunk)
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM kept a JOIN kept b USING (band, chunk) WHERE a.vec_id < b.vec_id
        |), sym AS (
        |  SELECT id_a AS query_id, id_b AS nbr_id FROM cand
        |  UNION ALL
        |  SELECT id_b, id_a FROM cand
        |), scored AS (
        |  SELECT s.query_id, s.nbr_id,
        |         round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
        |                                      CAST(eb.embedding AS DOUBLE[])), 6) AS cosine
        |  FROM sym s JOIN embeddings ea ON ea.vec_id = s.query_id
        |  JOIN embeddings eb ON eb.vec_id = s.nbr_id
        |), ranked AS (
        |  SELECT query_id, nbr_id, cosine,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY cosine DESC, nbr_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank, nbr_id, cosine
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Shared CTE prefix replaying [[graft.ext.Similarity
    * .pqTrainCodebooks]]'s 2-round per-subspace Lloyd training in
    * DuckDB (m=8, k=16, dsub=8): seed = the first 16 vectors' subspace
    * slices (exact float→double casts), then per round [argmin
    * assignment with the SAME left-assoc squared-L2 chain and (dist,
    * cid) tie order the Spark kernel uses] → [per-(s, cid, j)
    * round(avg(·), 6) means — rounding collapses the engines'
    * avg-sum-order ulp differences, the emb_centroids-pinned
    * discipline] → [entries with no members keep their previous
    * coordinates (the coalesce)]. Yields `cb2(cid, s, sub)` — the
    * trained codebook both PQ oracles assign against — and `aF`, the
    * final code assignment under it. */
  private[graft] def pqTrainedCteSql: String = {
    val dsub = 8
    def dist(cbAlias: String) = (1 to dsub).map { j =>
      val t = s"(CAST(e.embedding[$cbAlias.s*$dsub+$j] AS DOUBLE) - $cbAlias.sub[$j])"
      s"$t * $t"
    }.mkString(" + ")
    def assign(out: String, cb: String) =
      s"""$out AS (SELECT e.vec_id, c.s, c.cid,
         |       row_number() OVER (PARTITION BY e.vec_id, c.s
         |         ORDER BY ${dist("c")}, c.cid) AS rn
         |     FROM embeddings e CROSS JOIN $cb c)""".stripMargin
    def update(means: String, prev: String, next: String) =
      s"""$means AS (SELECT a.s, a.cid, j.j,
         |       round(avg(CAST(e.embedding[a.s*$dsub + j.j + 1] AS DOUBLE)), 6) AS mean
         |     FROM $prev a JOIN embeddings e ON a.vec_id = e.vec_id
         |     CROSS JOIN dims j WHERE a.rn = 1 GROUP BY a.s, a.cid, j.j),
         |$next AS (SELECT c.cid, c.s,
         |       list(coalesce(m.mean, c.sub[j.j+1]) ORDER BY j.j) AS sub
         |     FROM ${prev}cb c CROSS JOIN dims j
         |     LEFT JOIN $means m ON m.s = c.s AND m.cid = c.cid AND m.j = j.j
         |     GROUP BY c.cid, c.s)""".stripMargin
    s"""dims AS (SELECT j FROM generate_series(0, $dsub - 1) AS t(j)),
       |subs AS (SELECT s FROM generate_series(0, 7) AS t(s)),
       |a0cb AS (SELECT vec_id AS cid, s.s,
       |       list(CAST(embedding[s.s*$dsub + j.j + 1] AS DOUBLE) ORDER BY j.j) AS sub
       |     FROM embeddings CROSS JOIN subs s CROSS JOIN dims j
       |     WHERE vec_id < 16 GROUP BY vec_id, s.s),
       |${assign("a0", "a0cb")},
       |${update("m0", "a0", "a1cb")},
       |${assign("a1", "a1cb")},
       |${update("m1", "a1", "cb2")},
       |${assign("aF", "cb2")}""".stripMargin
  }

  /** emb_pq oracle: replay the 2-round Lloyd training
    * ([[pqTrainedCteSql]]) and recompute every (vector, subspace) code
    * by brute argmin over the TRAINED 16-entry codebook. Distances are
    * fixed-order IEEE chains over bit-identical codebooks, so codes —
    * ties included — match with no rounding. */
  private[graft] val embPqSql: String =
    s"""WITH $pqTrainedCteSql
       |SELECT vec_id, md5(string_agg(CAST(cid AS VARCHAR), ',' ORDER BY s)) AS codes_md5,
       |       CAST(sum(cid) AS BIGINT) AS codes_sum
       |FROM aF WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin

  private[graft] def langidSql: String = {
    val langs = Text.stopwords.toSeq.sortBy(_._1)
    val hitCols = langs.map { case (l, ws) =>
      val set = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter($duckToks, t -> t IN ($set))) AS hits_$l"
    }.mkString(",\n    ")
    val m = langs.map(l => s"hits_${l._1}").mkString("greatest(", ", ", ")")
    val cases = langs.map { case (l, _) => s"WHEN hits_$l = m THEN '$l'" }.mkString(" ")
    s"""WITH h AS (SELECT doc_id, $hitCols FROM documents),
       |hm AS (SELECT doc_id, *, $m AS m FROM h)
       |SELECT doc_id, CASE WHEN m = 0 THEN 'und' $cases END AS lang_pred
       |FROM hm ORDER BY doc_id""".stripMargin
  }
}
