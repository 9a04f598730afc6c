package graft

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.GraftExtensions

/** Physical-plan shape assertions: the plans the engine must produce
  * for 100 TB viability — broadcasts on dim joins, pushed filters and
  * pruned columns at the parquet scan, no cartesian products where an
  * equi-join belongs. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private def explained(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** Count hash-partition exchanges. Uses SIMPLE mode, which prints
    * `Exchange hashpartitioning(...)` inline — formatted mode moves the
    * partitioning into a detail section, so counting there silently
    * matches nothing (and asserts pass vacuously). */
  private def hashExchanges(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      .linesIterator.count(_.contains("Exchange hashpartitioning"))

  /** Every node of a physical plan: subqueries included, AQE unwrapped
    * to its initial plan, cached relations to the plan they cache. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => a +: planNodes(a.initialPlan)
      case m: InMemoryTableScanExec => m +: planNodes(m.relation.cachedPlan)
      case n => Seq(n)
    }.flatten

  private def windows(df: org.apache.spark.sql.DataFrame): Seq[WindowExec] =
    planNodes(df.queryExecution.executedPlan).collect { case w: WindowExec => w }

  private def attrNames(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
    es.collect { case a: Attribute => a.name }

  test("q03 multi-join broadcasts the dimension tables") {
    val plan = explained(SparkEntry.queries("q03_join_agg")(spark, TestSession.sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q01 filter is pushed to the parquet scan and columns are pruned") {
    val df = SparkEntry.queries("q01_project_filter")(spark, TestSession.sf)
    val plan = explained(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), plan.take(2000))
    // projection pruning: the scan must not read all 11 lineitem columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_tax"), readSchema)
  }

  test("q05 top-k compiles to TakeOrderedAndProject (no full sort)") {
    val plan = explained(SparkEntry.queries("q05_topk")(spark, TestSession.sf))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q02 aggregation has a map-side partial aggregate") {
    val plan = explained(SparkEntry.queries("q02_agg")(spark, TestSession.sf))
    assert(plan.contains("HashAggregate"), plan.take(2000))
    assert(plan.contains("hashpartitioning"), plan.take(2000))
  }

  test("custom expressions participate in whole-stage codegen") {
    // build arrays from a non-literal source so constant folding can't
    // collapse the whole expression at plan time
    val df = spark.range(1)
      .select(
        array(col("id") + 1, col("id") + 2, col("id") + 3).as("a"),
        array(col("id") + 2, col("id") + 3, col("id") + 4).as("b"))
      .select(graft.functions.fx.sortedIntersectCount(col("a"), col("b")).as("c"))
    assert(df.head().getInt(0) == 2)
    // formatted mode marks codegen stages with `[codegen id : N]` on the
    // operator hosting the expression
    val plan = explained(df)
    assert(plan.contains("[codegen id :"), plan.take(2000))
  }

  test("jaccard verify joins shuffle on id — the corpus shingle table is never broadcast") {
    for (q <- Seq("dedup_ngram", "dedup_minhash", "dedup_wordngram")) {
      val plan = explained(SparkEntry.queries(q)(spark, TestSession.sf))
      assert(plan.contains("SortMergeJoin"), s"$q: verify stage must be a shuffle merge join")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: no nested-loop joins")
      // size-estimate-driven broadcasts of genuinely small relations
      // (e.g. the token document-frequency agg at test scale) are fine;
      // the corpus-sized hashed-shingle arrays (hs_a/hs_b) must never
      // ride a broadcast exchange
      val broadcastBlocks = plan.split("\n\n").filter(_.contains("BroadcastExchange"))
      assert(!broadcastBlocks.exists(b => b.contains("hs_a") || b.contains("hs_b")),
        s"$q: hashed-shingle corpus table must arrive via shuffle, not broadcast")
    }
  }

  test("exact embedding near-dup join is replicate-partitioned, not broadcast") {
    val plan = explained(SparkEntry.queries("dedup_embcos")(spark, TestSession.sf))
    assert(plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "exact n^2 scan must not hold the corpus in executor memory")
  }

  test("lsh embedding near-dup scale path has no cartesian and no corpus broadcast") {
    val plan = explained(SparkEntry.queries("dedup_emblsh")(spark, TestSession.sf))
    assert(!plan.contains("CartesianProduct"),
      "scale path must generate candidates by banded equi-join, not an n^2 product")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "no nested-loop joins")
    assert(plan.contains("SortMergeJoin"), "vector verify fetch must be a shuffle merge join")
    // the normalized corpus vectors (va/vb) must never ride a broadcast
    val broadcastBlocks = plan.split("\n\n").filter(_.contains("BroadcastExchange"))
    assert(!broadcastBlocks.exists(b => b.contains("va") || b.contains("vb")),
      "corpus vectors must arrive via shuffle, not broadcast")
  }

  test("cc round plans as keyed shuffle-merge joins — no broadcast, no cartesian, bounded shuffles") {
    // labels/edges are corpus-sized in the cluster-dedup loop; each
    // half-round must be pinned shuffle joins with a bounded exchange
    // count (the loop checkpoints between halves, so each is its own
    // physical plan)
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (1L, 1L), (2L, 2L), (3L, 3L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "lbl")
    val prop = graft.ext.Dedup.ccPropagate(edges, labels)
    val propPlan = explained(prop)
    assert(!propPlan.contains("BroadcastHashJoin"), "labels/edges must arrive via shuffle")
    assert(!propPlan.contains("BroadcastNestedLoopJoin") && !propPlan.contains("CartesianProduct"))
    assert(propPlan.contains("SortMergeJoin"))
    val propShuffles = hashExchanges(prop)
    assert(propShuffles <= 3,
      s"propagate = one keyed join + one agg exchange, found $propShuffles")
    val jump = graft.ext.Dedup.ccJump(prop.localCheckpoint())
    val jumpPlan = explained(jump)
    assert(!jumpPlan.contains("BroadcastHashJoin") && !jumpPlan.contains("CartesianProduct"))
    val jumpShuffles = hashExchanges(jump)
    assert(jumpShuffles <= 2, s"jump = one keyed self-join, found $jumpShuffles")
  }

  test("langid counts stopword hits via a broadcast join + hash aggregate") {
    val plan = explained(SparkEntry.queries("text_langid")(spark, TestSession.sf))
    assert(plan.contains("BroadcastHashJoin"),
      "the 50-row stopword table must broadcast into the token stream")
    assert(plan.contains("HashAggregate"),
      "per-(doc, lang) hit counting must be a map-side-combinable aggregate")
  }

  test("top-k searches rank via the bounded-heap aggregate, not a q*n window shuffle") {
    for (q <- Seq("simsearch_topk", "simsearch_ivf", "simsearch_ivf_full")) {
      val plan = explained(SparkEntry.queries(q)(spark, TestSession.sf))
      assert(plan.contains("ObjectHashAggregate"), s"$q: expected partial top-k aggregate")
      assert(!plan.contains("Window"), s"$q: scored relation must not shuffle into a window rank")
    }
  }

  test("ivf corpus relation has no Exchange before the probe join") {
    // the nearest-centroid assignment must be a pure projection over the
    // scan: the only shuffles in the whole plan are the final top-k
    // aggregation exchange (plus the broadcast of the probe side)
    for (q <- Seq("simsearch_ivf", "simsearch_ivf_full")) {
      val df = SparkEntry.queries(q)(spark, TestSession.sf)
      val shuffles = hashExchanges(df)
      assert(shuffles >= 1, s"$q: simple-mode plan should show the top-k aggregation exchange")
      assert(shuffles <= 1, s"$q: expected at most the top-k exchange, found $shuffles")
    }
  }

  test("as-of join plans as one keyed shuffle + window, never a join node") {
    val df = SparkEntry.queries("asof_join")(spark, TestSession.sf)
    val plan = explained(df)
    assert(!plan.contains("Join"),
      "as-of must compose via union + running-last window, not an inequality join")
    val shuffles = hashExchanges(df)
    assert(shuffles == 1, s"expected exactly the window exchange, found $shuffles")
  }

  test("range join plans as a binned equi join, never nested-loop/cartesian") {
    val df = SparkEntry.queries("range_join")(spark, TestSession.sf)
    val plan = explained(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "bin bucketing must turn the interval containment into an equi join:\n" + plan.take(2000))
    assert(plan.contains("Join"), "the binned equi join node must exist")
  }

  test("sorted export plans a rangepartitioning exchange + in-partition sort") {
    val orders = spark.read.parquet(s"${TestSession.sf}/orders.parquet")
    val plan = orders.repartitionByRange(8, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(plan.contains("Exchange rangepartitioning"), plan.take(1500))
    assert(plan.contains("Sort [o_orderdate"), plan.take(1500))
    assert(!plan.contains("Exchange hashpartitioning"),
      "range clustering must not add a hash shuffle")
  }

  test("salted join carries the salt into the join keys") {
    val plan = explained(SparkEntry.queries("salted_join")(spark, TestSession.sf))
    assert(plan.contains("__salt"),
      "the physical join must key on (key, salt) to split hot keys across reducers")
  }

  test("semantic dedup: cell assignment is a projection, pairs a keyed join") {
    val df = SparkEntry.queries("dedup_semantic")(spark, TestSession.sf)
    val plan = explained(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "within-cell pairing must be a cell-keyed equi join, never all-pairs:\n" + plan.take(2000))
    assert(!plan.contains("Window"), "no corpus-wide window belongs here")
  }

  test("phash dedup: band buckets are a keyed join, never cartesian") {
    val df = SparkEntry.queries("multimodal_phash")(spark, TestSession.sf)
    val plan = explained(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation must join on (band, bits):\n" + plan.take(2000))
  }

  test("naive bayes scores via keyed joins + aggregations, no windows") {
    val df = SparkEntry.queries("text_nbayes")(spark, TestSession.sf)
    val plan = explained(df)
    assert(!plan.contains("CartesianProduct"),
      "the vocab grid must join on the term key:\n" + plan.take(2000))
    assert(!plan.contains("Window"), "argmax must be the min-struct aggregate, not a rank window")
  }

  test("holt is one keyed window: a single hash exchange, no joins") {
    val df = SparkEntry.queries("ts_holt")(spark, TestSession.sf)
    val plan = explained(df)
    assert(!plan.contains("Join"), "the lag ladder needs no self-join")
    val shuffles = hashExchanges(df)
    assert(shuffles == 1, s"expected exactly the window exchange, found $shuffles")
  }

  test("triangle counting plans as keyed equi-joins, never cartesian") {
    val plan = explained(SparkEntry.queries("graph_triangles")(spark, TestSession.sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "wedge enumeration and closing-edge check must be keyed joins:\n" + plan.take(2000))
  }

  test("ewma is one keyed window: a single hash exchange, no joins") {
    val df = SparkEntry.queries("ts_ewma")(spark, TestSession.sf)
    val plan = explained(df)
    assert(!plan.contains("Join"), "the lag chain must not expand into self-joins")
    // one exchange for the keyed window (the orderBy is a range split,
    // not a hash shuffle)
    assert(hashExchanges(df) == 1, s"expected 1 keyed-window exchange, got ${hashExchanges(df)}")
  }

  test("heavy hitters rank via the bounded-heap aggregate, not a window or global sort") {
    val plan = explained(SparkEntry.queries("q54_heavy_hitters")(spark, TestSession.sf))
    assert(plan.contains("ObjectHashAggregate"), "top-k must be the bounded-heap aggregate")
    assert(!plan.contains("Window"), "no row_number window over all keys")
  }

  test("knn self-join and incremental dedup plan without corpus broadcasts or cartesians") {
    val emb = spark.read.parquet(s"${TestSession.sf}/embeddings.parquet")
    val knn = graft.ext.Similarity.knnJoinLsh(emb, 5)
    val knnPlan = explained(knn)
    assert(!knnPlan.contains("CartesianProduct") && !knnPlan.contains("BroadcastNestedLoopJoin"),
      "knn candidates must come from the banded equi-join")
    val knnBroadcasts = knnPlan.split("\n\n").filter(_.contains("BroadcastExchange"))
    assert(!knnBroadcasts.exists(b => b.contains("va") || b.contains("vb")),
      "corpus vectors must arrive via shuffle, not broadcast")
    assert(knnPlan.contains("ObjectHashAggregate"), "ranking must be the bounded-heap aggregate")
    assert(!knnPlan.contains("Window"), "no q*n window rank shuffle")

    val docs = spark.read.parquet(s"${TestSession.sf}/documents.parquet")
    val inc = graft.ext.Dedup.exactIncrement(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
    val incPlan = explained(inc)
    assert(incPlan.contains("SortMergeJoin"),
      "fingerprint anti join + survivor semi join must be pinned shuffle joins")
    assert(!incPlan.contains("BroadcastNestedLoopJoin") && !incPlan.contains("CartesianProduct"))
  }

  test("join on the bucketed distkey plans with ZERO exchanges (repeated-join posture)") {
    // DISTKEY parity: a table bucketed+sorted on the join key carries
    // HashPartitioning on disk — a join between two reads of it must
    // not shuffle either side even with broadcast disabled
    graft.io.Load.dropManaged(spark, "t_bucket_join")
    val df = spark.read.parquet(s"${TestSession.sf}/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    graft.io.Insert.insertDataFrame(spark, df, "t_bucket_join",
      create = true, metadata = Some(df.schema),
      distKey = Some("o_custkey"), buckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val t = spark.table("t_bucket_join")
      val joined = t.as("a").join(spark.table("t_bucket_join").as("b"),
        col("a.o_custkey") === col("b.o_custkey"))
      assert(explained(joined).contains("SortMergeJoin"))
      val shuffles = hashExchanges(joined)
      assert(shuffles == 0, s"bucketed join must not re-shuffle, found $shuffles")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      graft.io.Load.dropManaged(spark, "t_bucket_join")
    }
  }

  test("pack_shards: the corpus window is bucket-partitioned, offsets broadcast") {
    val df = SparkEntry.queries("pack_shards")(spark, TestSession.sf)
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    // the within-bucket running sum must be a PARTITIONED window — the
    // only global (unpartitioned) window may run over the tiny
    // per-bucket totals, never the corpus
    // simple-mode lines carry tree-prefix glyphs (`+- `, `:  +- `), so
    // match on the node name anywhere in the line
    val windowLines = simple.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.size == 2, s"expected 2 Window nodes, got:\n${windowLines.mkString("\n")}")
    assert(windowLines.exists(_.contains("[bkt#")),
      s"corpus running sum must partition by bkt:\n${windowLines.mkString("\n")}")
    // bucket offsets join back by broadcast — the corpus must not
    // shuffle for the join
    assert(simple.contains("BroadcastHashJoin"), simple.take(2000))
  }

  /** The GlobalOrder plan shape: the running sum is a window partitioned
    * by bkt, the bucket offsets join back by broadcast, and nothing goes
    * cartesian. Returns the plan's nodes for extra per-query checks. */
  private def assertGlobalOrderPlan(q: String): Seq[SparkPlan] = {
    val df = SparkEntry.queries(q)(spark, TestSession.sf)
    val ws = windows(df)
    assert(ws.exists(w => attrNames(w.partitionSpec) == Seq("bkt")),
      s"$q: the running sum must be a window partitioned by bkt:\n${ws.mkString("\n")}")
    val nodes = planNodes(df.queryExecution.executedPlan)
    assert(nodes.exists {
        case j: BroadcastHashJoinExec => j.references.exists(_.name == "__obkt")
        case _ => false
      }, s"$q: bucket offsets must broadcast back, not shuffle the values:\n" +
      df.queryExecution.executedPlan.toString.take(3000))
    assert(!nodes.exists(_.nodeName == "CartesianProduct"), q)
    nodes
  }

  test("GlobalOrder callers: bkt-partitioned running sum, broadcast offsets, no cartesian") {
    for (q <- Seq("stats_gini", "quantile_hist", "pack_shards", "text_packseq"))
      assertGlobalOrderPlan(q)
  }

  test("rank-based stats: the value-relation window is bucket-partitioned") {
    for (q <- Seq("stats_mannwhitney", "stats_ks")) assertGlobalOrderPlan(q)
  }

  test("q22 global row_number: the orders-side window is bucket-partitioned") {
    assertGlobalOrderPlan("q22_date_arith")
  }

  test("spearman: price ranking is bucket-partitioned, quantity rank map broadcasts") {
    val nodes = assertGlobalOrderPlan("stats_spearman")
    assert(nodes.exists {
        case j: BroadcastHashJoinExec => j.leftKeys.exists(_.references.exists(_.name == "x"))
        case _ => false
      }, "the 50-value quantity rank map must broadcast")
  }

  test("curriculum and pipeline packing stay on the bucket-partitioned prefix plan") {
    for (q <- Seq("pack_curriculum", "pipeline_pretrain")) assertGlobalOrderPlan(q)
  }

  test("scale lint: no query windows a data-sized relation without a partition key") {
    // a window with an empty PARTITION BY plans as Exchange SinglePartition:
    // one task sorts its whole input. Allowed only over a relation whose
    // size is bounded by a named attribute domain, and for GlobalOrder's
    // own offset window (ordered by its reserved bkt column, summing
    // only its __btot bucket totals). Windows computed before a
    // localCheckpoint are not in the plan and are not linted.
    val allowed = Map(
      "ml_stump" -> "floor(events.value) threshold domain, ~400 rows",
      "stats_runs" -> "day domain, ~2.4k rows",
      "stats_spearman" -> "l_quantity 1..50",
      "stats_theilsen" -> "day domain, ~2.4k rows (residual per day)",
      "text_packseq" -> "vocabulary cut to its top v=20 tokens before the rank",
      "text_vocab_ids" -> "vocabulary cut to its top v=20 tokens before the rank",
      "ts_rolling_median" -> "day domain, ~2.4k rows",
      "user_growth" -> "day domain of events.ts, ~30 rows")
    def globalOrderOffsets(w: WindowExec) =
      attrNames(w.orderSpec.map(_.child)) == Seq("bkt") &&
        w.windowExpression.flatMap(_.references).forall(a =>
          a.name == "bkt" || a.name.startsWith("__btot"))
    val t0 = System.nanoTime()
    val found = SparkEntry.queries.toSeq.sortBy(_._1).map { case (q, build) =>
      val t = System.nanoTime()
      val open = windows(build(spark, TestSession.sf))
        .filter(w => w.partitionSpec.isEmpty && !globalOrderOffsets(w))
      (q, open, (System.nanoTime() - t) / 1e9)
    }
    val slowest = found.sortBy(-_._3).take(5).map { case (q, _, s) => f"$q $s%.1f s" }
    info(f"linted ${found.size} queries in ${(System.nanoTime() - t0) / 1e9}%.1f s; " +
      s"slowest builds: ${slowest.mkString(", ")}")
    val offenders = found.collect { case (q, ws, _) if ws.nonEmpty && !allowed.contains(q) =>
      s"$q: ${ws.map(_.simpleString(200)).mkString("; ")}" }
    assert(offenders.isEmpty, s"unpartitioned windows:\n${offenders.mkString("\n")}")
    val unused = allowed.keySet -- found.collect { case (q, ws, _) if ws.nonEmpty => q }
    assert(unused.isEmpty, s"allowlist entries with no unpartitioned window: $unused")
  }

  test("text_zipf ranks the vocabulary with the heap aggregate, no window at all") {
    val df = SparkEntry.queries("text_zipf")(spark, TestSession.sf)
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(!simple.contains("Window ["),
      s"text_zipf must not contain any Window node:\n" + simple.take(1500))
    assert(simple.contains("topk_by_score"),
      s"expected the TopKByScore aggregate in the plan:\n" + simple.take(1500))
  }

  test("bloom_join prunes the fact side with might_contain before the join") {
    val df = SparkEntry.queries("bloom_join")(spark, TestSession.sf)
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    val filterLine = simple.linesIterator.find(l =>
      l.contains("Filter") && l.contains("might_contain")).getOrElse("")
    assert(filterLine.nonEmpty, s"no might_contain filter in plan:\n${simple.take(2000)}")
    // the Bloom stage must sit on the orders (fact) side, i.e. filter
    // on the hashed o_custkey, not the dim key
    assert(filterLine.contains("o_custkey"), filterLine)
  }

  test("decontaminate broadcasts the eval grams and never goes cartesian") {
    val df = SparkEntry.queries("text_decontam")(spark, TestSession.sf)
    val plan = explained(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
  }

  test("stratified sampling is a pure filter — zero hash exchanges") {
    // (the query's final orderBy adds a range exchange; hash shuffles
    // would mean the sampler aggregates or joins, which it must not)
    val df = SparkEntry.queries("sample_stratified")(spark, TestSession.sf)
    assert(hashExchanges(df) == 0)
  }

  test("quality filter and chunking are per-row pipelines — zero hash exchanges") {
    assert(hashExchanges(SparkEntry.queries("text_filter")(spark, TestSession.sf)) == 0)
    assert(hashExchanges(SparkEntry.queries("text_chunk")(spark, TestSession.sf)) == 0)
  }

  test("substringPairs: ONE shuffle of the window set, no joins at all, pairs expand map-side") {
    val pairs = graft.ext.Dedup.substringPairs(
      spark.read.parquet(s"${TestSession.sf}/documents.parquet"))
    val plan = explained(pairs)
    // r17 shape: the whole hot-key guard lives in the capped aggregate
    // buffer — no df-count pass, no join-back, no self-join; the only
    // exchanges are the grouped collect and the final pair distinct
    assert(!plan.contains("Join"), "single-aggregation plan must not join:\n" +
      plan.take(2000))
    assert(!plan.contains("BroadcastExchange"),
      "corpus-derived window relations must never broadcast")
    assert(plan.contains("capped_long_list"),
      "pinned bounded-buffer collect aggregate")
    assert(hashExchanges(pairs) == 2,
      "expected exactly 2 exchanges (grouped collect + pair distinct)")
  }

  test("containmentPairs: shuffle-merge shape, no corpus broadcast, no cartesian") {
    val pairs = graft.ext.Dedup.containmentPairs(
      spark.read.parquet(s"${TestSession.sf}/documents.parquet"), 0.6)
    val plan = explained(pairs)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
    assert(!plan.contains("BroadcastExchange"),
      "corpus-derived shingle/doc relations must never broadcast")
    assert(plan.contains("SortMergeJoin"), "pinned shuffle-merge joins")
  }

  test("packSequences: the corpus window is bucket-partitioned, offsets broadcast") {
    import spark.implicits._
    val ids = (0L until 2000L).map(i => (i, Seq(1, 2, 3))).toDF("doc_id", "token_ids")
    val df = graft.ext.Pack.packSequences(ids, seqLen = 8)
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    val windowLines = simple.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.size == 2, s"expected 2 Window nodes, got:\n${windowLines.mkString("\n")}")
    assert(windowLines.exists(_.contains("[bkt#")),
      s"corpus running sum must partition by bkt:\n${windowLines.mkString("\n")}")
    assert(simple.contains("BroadcastHashJoin"), simple.take(2000))
  }

  test("weightedSample plans TakeOrderedAndProject — never a global sort") {
    val df = graft.ext.Sample.weightedSample(
      spark.read.parquet(s"${TestSession.sf}/documents.parquet"), 50, "n_chars", "doc_id")
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(simple.contains("TakeOrderedAndProject"), simple.take(1500))
    assert(!simple.contains("Exchange rangepartitioning"),
      "top-k must not global-sort the corpus")
  }

  test("basket rules: bounded pair self-join, top-50 never global-sorts") {
    val df = SparkEntry.queries("basket_rules")(spark, TestSession.sf)
    val plan = explained(df)
    // the only non-equi join allowed is the single-row n_orders cross
    // (IdentityBroadcastMode) — the pair expansion itself must be the
    // keyed o=o self-join
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      "pair expansion must be the keyed o=o self-join")
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(simple.contains("TakeOrderedAndProject"),
      "top-50 must not global-sort the rule set")
  }

  test("poisson bootstrap: one explode + keyed aggs, no window, no corpus broadcast") {
    val df = SparkEntry.queries("stats_bootstrap")(spark, TestSession.sf)
    val plan = explained(df)
    assert(!plan.contains("Window"),
      "replicate means must be keyed aggregations, not windows")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("er_fuzzy: hot-block guard in the plan, keyed self-join, no cartesian") {
    val df = SparkEntry.queries("er_fuzzy")(spark, TestSession.sf)
    val plan = explained(df)
    // oversized blocks must be semi-join-dropped BEFORE the k² self-join
    assert(plan.contains("LeftSemi"), "maxBlock semi-join guard missing")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("pareto skyline: windows are slice-partitioned — no single-partition exchange") {
    val df = SparkEntry.queries("pareto_front")(spark, TestSession.sf)
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    // the naive formulation's Window.orderBy plans Exchange
    // SinglePartition and serializes the whole frontier input through
    // one task; the partition-wise skyline must never do that
    assert(!simple.contains("Exchange SinglePartition"), simple.take(2000))
    assert(simple.contains("Window"), "local skyline window expected")
  }

  test("sketch builds: keyed aggregation to parameter-sized state, no corpus broadcast, no cartesian") {
    for (q <- Seq("sketch_cms", "sketch_bloom")) {
      val df = SparkEntry.queries(q)(spark, TestSession.sf)
      val plan = explained(df)
      // the corpus side must flow scan → explode → hash aggregate;
      // only the parameter-sized sketch may broadcast (probe join)
      assert(plan.contains("HashAggregate"), s"$q: expected keyed aggregate")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$q: " + plan.take(1500))
    }
  }

  test("interval merge: windows are supplier-keyed — no single-partition exchange") {
    val df = SparkEntry.queries("interval_merge")(spark, TestSession.sf)
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(!simple.contains("Exchange SinglePartition"), simple.take(2000))
    assert(simple.contains("Window"), "prefix max/sum windows expected")
  }

  test("histogram quantiles: corpus aggregates map-side; only the stats row broadcasts") {
    val df = SparkEntry.queries("quantile_hist")(spark, TestSession.sf)
    val plan = explained(df)
    assert(plan.contains("HashAggregate"), "bin histogram must hash-aggregate")
    // the non-equi quantile walk joins two BOUNDED tables (3 q-rows ×
    // ≤1000 bins) — a nested-loop there is fine; what must never
    // appear is a corpus-sized shuffle join
    assert(!plan.contains("SortMergeJoin"), "no corpus-sized join expected")
    assert(plan.contains("BroadcastExchange"), "stats row should broadcast")
  }

  test("anova: one map-side-combinable aggregation, no join, no window") {
    val df = SparkEntry.queries("stats_anova")(spark, TestSession.sf)
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(!simple.contains("Window ["), "pivoted chain needs no window")
    assert(!simple.contains("Join"), "single-table sufficient stats need no join")
    assert(simple.contains("HashAggregate"), simple.take(1500))
  }

  test("kmv: sketches come from bounded heaps — no corpus-wide sort") {
    val df = SparkEntry.queries("sketch_kmv")(spark, TestSession.sf)
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    // the K smallest hashes per set come from the topk_by_score heap
    // aggregate (ObjectHashAggregate), never Sort + Limit over the keys
    assert(simple.contains("ObjectHashAggregate"), simple.take(2000))
    assert(!simple.linesIterator.exists(l =>
        l.contains("Sort ") && !l.contains("SortAggregate")),
      "no sort nodes expected in the sketch build:\n" + simple.take(2000))
    assert(!simple.contains("CartesianProduct"), simple.take(1500))
  }

  test("range search: queries broadcast, corpus never hash-shuffles") {
    val df = SparkEntry.queries("simsearch_range")(spark, TestSession.sf)
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(simple.contains("BroadcastNestedLoopJoin") ||
      simple.contains("BroadcastHashJoin"), simple.take(1500))
    // the only exchange allowed is the final orderBy's range partition
    assert(hashExchanges(df) == 0,
      "corpus must not hash-shuffle for a broadcast-query scan")
    assert(!simple.contains("CartesianProduct"), simple.take(1500))
  }

  test("target encoding: grid joins broadcast — no corpus-sized shuffle join") {
    val df = SparkEntry.queries("feat_target_encode")(spark, TestSession.sf)
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(simple.contains("BroadcastHashJoin"), simple.take(1500))
    assert(!simple.contains("SortMergeJoin"), simple.take(1500))
    assert(!simple.contains("CartesianProduct"), simple.take(1500))
  }

  test("stump/keyphrase/hampel: corpus windows stay keyed or domain-bounded") {
    // ml_stump: the only window runs over the ~500-row threshold-bucket
    // relation (attribute-domain-bounded); no corpus-sized sort join
    val stump = SparkEntry.queries("ml_stump")(spark, TestSession.sf)
    val sSimple = stump.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(!sSimple.contains("SortMergeJoin") && !sSimple.contains("CartesianProduct"),
      sSimple.take(1500))
    // text_keyphrase: the rank window must partition by doc_id
    val kp = SparkEntry.queries("text_keyphrase")(spark, TestSession.sf)
    val kSimple = kp.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    val kWindows = kSimple.linesIterator.filter(_.contains("Window [")).toSeq
    assert(kWindows.nonEmpty && kWindows.forall(_.contains("[doc_id#")),
      s"keyphrase windows must be doc-keyed:\n${kWindows.mkString("\n")}")
    // ts_hampel: every window partitions by event_type
    val hp = SparkEntry.queries("ts_hampel")(spark, TestSession.sf)
    val hSimple = hp.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    val hWindows = hSimple.linesIterator.filter(_.contains("Window [")).toSeq
    assert(hWindows.nonEmpty && hWindows.forall(_.contains("[event_type#")),
      s"hampel windows must be series-keyed:\n${hWindows.mkString("\n")}")
  }

  test("sssp/closeness: per-round relaxation is keyed joins, never cartesian") {
    for (q <- Seq("graph_sssp", "graph_closeness")) {
      val df = SparkEntry.queries(q)(spark, TestSession.sf)
      val simple = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      assert(!simple.contains("CartesianProduct"), s"$q:\n${simple.take(1500)}")
      assert(!simple.contains("BroadcastNestedLoopJoin"),
        s"$q: frontier joins must be equi-joins:\n${simple.take(1500)}")
    }
  }

  test("ManifestTable.readRange pushes the residual predicate into the parquet scan (row-group skipping under the segment zone maps)") {
    import spark.implicits._
    import graft.io.ManifestTable
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_zm_pushdown_spec").toString
    ManifestTable.destroy(spark, root)
    ManifestTable.append(spark, root, (1L to 1000L).toDF("v"), statsCols = Seq("v"))
    ManifestTable.append(spark, root, (1001L to 2000L).toDF("v"), statsCols = Seq("v"))
    val df = ManifestTable.readRange(spark, root, "v", Some(1200L), Some(1300L))
    val plan = explained(df)
    // layer 1 (manifest): only the intersecting segment is in the plan
    assert(ManifestTable.prunedDataSegments(spark, root, "v",
      Some(1200L), Some(1300L)).size == 1)
    // layer 2 (parquet): the residual range reaches the scan as pushed
    // filters, so row groups inside the kept segment skip too
    assert(plan.contains("GreaterThanOrEqual(v,1200)") &&
      plan.contains("LessThanOrEqual(v,1300)"),
      plan.take(2000))
    ManifestTable.destroy(spark, root)
  }

  test("graft.manifest SQL relation: zone-map segment pruning survives the registered-source path; parquet pushdown intact") {
    import graft.io.ManifestTable
    import org.apache.spark.sql.functions.col
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_sqlsrc_plan").toString
    ManifestTable.destroy(spark, root)
    import spark.implicits._
    // four segments with disjoint v-ranges + zone maps, committed
    // through the format's WRITE path (one atomic manifest commit per
    // mode("append").save)
    (0 to 3).foreach { k =>
      ((k * 1000L) until (k * 1000L + 1000L)).toDF("v")
        .write.format("graft.manifest").option("statsCols", "v")
        .mode("append").save(root)
    }
    // SaveMode contracts against manifest existence
    intercept[IllegalStateException] {
      Seq(9L).toDF("v").write.format("graft.manifest")
        .mode("errorifexists").save(root)
    }
    Seq(9L).toDF("v").write.format("graft.manifest")
      .mode("ignore").save(root) // existing table: no-op
    assert(ManifestTable.read(spark, root).count() == 4000L)
    val df = spark.read.format("graft.manifest").load(root)
      .filter(col("v") >= 1200L && col("v") <= 1300L)
    val rows = df.collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == (1200L to 1300L), "SQL-path read must be exact")
    // the file index saw the pushed range and kept exactly one segment
    assert(graft.sources.ManifestSource.lastListedSegments.size == 1,
      s"zone maps must prune 3 of 4 segments on the SQL path: " +
        graft.sources.ManifestSource.lastListedSegments)
    // the residual predicate still reaches parquet as pushed filters
    val plan = explained(df)
    assert(plan.contains("GreaterThanOrEqual(v,1200)") &&
      plan.contains("LessThanOrEqual(v,1300)"), plan.take(2000))
    // pure-SQL route over the same source resolves and prunes too
    spark.read.format("graft.manifest").load(root)
      .createOrReplaceTempView("manifest_sqlsrc_plan_v")
    val viaSql = spark.sql(
      "SELECT count(*) AS c FROM manifest_sqlsrc_plan_v WHERE v >= 3500")
    assert(viaSql.head().getLong(0) == 500L)
    assert(graft.sources.ManifestSource.lastListedSegments.size == 1)
    // time travel through the option surface
    assert(spark.read.format("graft.manifest").option("version", "2")
      .load(root).count() == 2000L)
    // loud contract edges: tombstones refuse (unless opted in)…
    ManifestTable.delete(spark, root, Seq(1L, 2L).toDF("v"))
    val e = intercept[IllegalStateException] {
      spark.read.format("graft.manifest").load(root).collect()
    }
    assert(e.getMessage.contains("tombstone"))
    assert(spark.read.format("graft.manifest")
      .option("allowTombstones", "true").load(root).count() == 4000L)
    // …and hive-partitioned segments are first-class: the partition
    // column surfaces in the schema and pushed partition predicates
    // prune col=value dirs inside every segment (the ANN-index layout)
    val root2 = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_sqlsrc_part").toString
    ManifestTable.destroy(spark, root2)
    ManifestTable.append(spark, root2,
      Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("v", "p"), partitionBy = Seq("p"))
    ManifestTable.append(spark, root2,
      Seq((4L, "b")).toDF("v", "p"), partitionBy = Seq("p"))
    val pdf = spark.read.format("graft.manifest").load(root2)
    assert(pdf.columns.toSeq == Seq("v", "p"))
    val aRows = pdf.filter(col("p") === "a")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(aRows == Seq((1L, "a"), (3L, "a")))
    assert(graft.sources.ManifestSource.lastListedPartitions == 1,
      "p='a' must open exactly one partition dir (segment 2 has none)")
    assert(pdf.collect().length == 4)
    assert(graft.sources.ManifestSource.lastListedPartitions == 3,
      "unfiltered read opens all three col=value dirs")
    ManifestTable.destroy(spark, root)
    ManifestTable.destroy(spark, root2)
  }

  test("graft.manifest resolves from pure SQL table syntax (datasource.`path`)") {
    import graft.io.ManifestTable
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_sqlfrom").toString
    ManifestTable.destroy(spark, root)
    (1L to 100L).toDF("v").write.format("graft.manifest").mode("append").save(root)
    (101L to 130L).toDF("v").write.format("graft.manifest").mode("append").save(root)
    val n = spark.sql(s"SELECT count(*) AS c FROM `graft.manifest`.`$root`")
      .head().getLong(0)
    assert(n == 130L)
    // time travel rides an @v suffix on the path
    assert(spark.sql(s"SELECT count(*) AS c FROM `graft.manifest`.`$root@v1`")
      .head().getLong(0) == 100L)
    ManifestTable.destroy(spark, root)
  }

  test("custom expressions are SQL-reachable via extensions registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT sorted_intersect_count(array(1L, 2L, 5L), array(2L, 5L, 9L)) AS c,
        |       vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d""".stripMargin).head()
    assert(r.getInt(0) == 2)
    assert(r.getDouble(1) == 11.0)
    // the bounded-heap aggregate is SQL-reachable too (k as a literal)
    val top = spark.sql(
      """SELECT topk_by_score(s, i, 2) AS t
        |FROM VALUES (1.0d, 1L), (3.0d, 2L), (2.0d, 3L) AS v(s, i)""".stripMargin)
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(top.map(_.getLong(1)) == Seq(2L, 3L))
  }

  test("graft.manifest relation build: O(1) filesystem work in segment count from manifest-embedded metadata; snapshot cache hits; legacy tables fall back per segment") {
    import graft.io.ManifestTable
    import graft.sources.ManifestSource
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_meta_cost").toString
    ManifestTable.destroy(spark, root)
    val n = 12
    (1 to n).foreach { k =>
      ManifestTable.append(spark, root,
        ((k * 100L) until (k * 100L + 100L)).toDF("v"),
        statsCols = Seq("v"), bloomCols = Seq("v"))
    }
    // first build: everything (file lists, stats, schema) comes from
    // ONE manifest read — zero per-segment listings, zero sidecar
    // opens, zero footer-merge jobs
    val df = spark.read.format("graft.manifest").load(root)
    assert(ManifestSource.lastBuildListOps == 0,
      s"embedded metadata must eliminate per-segment listings, saw ${ManifestSource.lastBuildListOps}")
    assert(ManifestSource.lastBuildSidecarReads == 0,
      s"embedded stats must eliminate sidecar opens, saw ${ManifestSource.lastBuildSidecarReads}")
    assert(ManifestSource.lastBuildFooterJobs == 0,
      s"embedded schemas must eliminate the footer-merge job, saw ${ManifestSource.lastBuildFooterJobs}")
    assert(!ManifestSource.lastBuildCacheHit)
    assert(df.count() == n * 100L, "meta-listed files must scan exactly")
    // same snapshot again: served from the relation cache
    spark.read.format("graft.manifest").load(root)
    assert(ManifestSource.lastBuildCacheHit,
      "an unchanged snapshot must hit the relation cache")
    // zone maps embedded in the manifest still prune on the SQL path
    val pruned = spark.read.format("graft.manifest").load(root)
      .filter(org.apache.spark.sql.functions.col("v") >= (n * 100L))
    assert(pruned.count() == 100L)
    assert(ManifestSource.lastListedSegments.size == 1,
      s"embedded zone maps must prune ${n - 1} of $n segments")
    // a new commit = new snapshot: rebuilt (still O(1)), not stale
    ManifestTable.append(spark, root, Seq(99999L).toDF("v"),
      statsCols = Seq("v"))
    assert(spark.read.format("graft.manifest").load(root).count() == n * 100L + 1)
    assert(!ManifestSource.lastBuildCacheHit)
    assert(ManifestSource.lastBuildListOps == 0)
    // the typed reads plan from the same metadata: building their frames
    // runs no Spark job (no per-segment schema-inference footer job)
    val versions = ManifestTable.versions(spark, root)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftBenchInternals.drainListenerBus(sc)
    sc.addSparkListener(listener)
    val (all, point, range, changes) =
      try {
        val built = (ManifestTable.read(spark, root),
          ManifestTable.readPoint(spark, root, "v", 150L),
          ManifestTable.readRange(spark, root, "v", Some(100L), Some(299L)),
          ManifestTable.readChanges(spark, root, versions.head, versions.last))
        org.apache.spark.GraftBenchInternals.drainListenerBus(sc)
        built
      } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, s"building typed reads must run no Spark job, saw ${jobs.get}")
    assert(all.count() == n * 100L + 1)
    assert(point.count() == 1L)
    assert(range.count() == 200L)
    assert(changes.count() == (n - 1) * 100L + 1)
    // the metadata-only answers come from the embedded copies: no
    // sidecar open, no segment listing
    ManifestSource.lastBuildListOps = 0
    ManifestSource.lastBuildSidecarReads = 0
    // the last segment carries no Bloom column, so it always admits
    assert(ManifestTable.pointSegments(spark, root, "v", 150L).size == 2)
    assert(ManifestTable.prunedDataSegments(spark, root, "v",
      Some(n * 100L), None).size == 2)
    assert(ManifestTable.fastRowCount(spark, root).contains(n * 100L + 1))
    assert(ManifestSource.lastBuildSidecarReads == 0,
      s"embedded stats must answer without sidecars, saw ${ManifestSource.lastBuildSidecarReads}")
    assert(ManifestSource.lastBuildListOps == 0)
    // legacy table (manifest without #meta lines, the pre-metadata
    // format): the build falls back to one listing + one sidecar read
    // per segment and one footer-merge job — and still answers right
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
    assert(spark.read.format("graft.manifest").load(root).count() == n * 100L + 1)
    assert(ManifestSource.lastBuildListOps == n + 1,
      s"legacy fallback lists each flat segment once, saw ${ManifestSource.lastBuildListOps}")
    assert(ManifestSource.lastBuildSidecarReads == n + 1)
    assert(ManifestSource.lastBuildFooterJobs == 1)
    ManifestTable.destroy(spark, root)
  }

  test("graft.manifest IN-list and OR-of-equality probes prune to the union of per-key admitting segments (Bloom) where zone maps prune nothing") {
    import graft.io.ManifestTable
    import graft.sources.ManifestSource
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_inlist").toString
    ManifestTable.destroy(spark, root)
    // arrival-ordered layout: segment k holds v = k mod 6 over the full
    // range, so every segment's [min,max] spans ~everything — zone maps
    // are useless and only the Bloom sidecars can isolate keys
    (0 until 6).foreach { k =>
      (0L until 600L).filter(_ % 6 == k).toDF("v")
        .write.format("graft.manifest")
        .option("statsCols", "v").option("bloomCols", "v")
        .mode("append").save(root)
    }
    spark.read.format("graft.manifest").load(root)
      .createOrReplaceTempView("manifest_inlist_v")
    // IN-list: keys 7 (seg 1) and 14 (seg 2) -> exactly two segments
    val r1 = spark.sql(
      "SELECT sum(v) AS s FROM manifest_inlist_v WHERE v IN (7, 14)")
    assert(r1.head().getLong(0) == 21L)
    assert(ManifestSource.lastListedSegments.size <= 2,
      s"IN-list must open at most the union of per-key holders: " +
        ManifestSource.lastListedSegments)
    // OR-of-equality over one column: same pruning
    val r2 = spark.sql(
      "SELECT count(*) AS c FROM manifest_inlist_v WHERE v = 8 OR v = 20")
    assert(r2.head().getLong(0) == 2L)
    assert(ManifestSource.lastListedSegments.size <= 2,
      s"OR-of-equality must prune like an IN-list: " +
        ManifestSource.lastListedSegments)
    // a long IN-list (optimizer may rewrite In -> InSet) still prunes
    val keys = (0 until 15).map(i => 6 * i + 3) // all in segment 3
    val r3 = spark.sql(
      s"SELECT count(*) AS c FROM manifest_inlist_v WHERE v IN (${keys.mkString(",")})")
    assert(r3.head().getLong(0) == 15L)
    assert(ManifestSource.lastListedSegments.size == 1,
      s"single-segment IN-list must open one segment: " +
        ManifestSource.lastListedSegments)
    // mixed-attribute OR must NOT prune (conservative): v = 7 OR v+1 = 0
    val r4 = spark.sql(
      "SELECT count(*) AS c FROM manifest_inlist_v WHERE v = 7 OR v + 1 = 0")
    assert(r4.head().getLong(0) == 1L)
    assert(ManifestSource.lastListedSegments.size == 6,
      "an OR the probe cannot decide must read everything")
    ManifestTable.destroy(spark, root)
  }

  test("graft.manifest multi-level hive layout: nested a=/b= partition dirs surface in the schema and prune as a pair") {
    import graft.io.ManifestTable
    import graft.sources.ManifestSource
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_manifest_nested").toString
    ManifestTable.destroy(spark, root)
    val rows = for (a <- 0 to 1; b <- 0 to 2; i <- 0 to 9)
      yield (a * 1000L + b * 100L + i, a, b)
    ManifestTable.append(spark, root, rows.toDF("v", "a", "b"),
      partitionBy = Seq("a", "b"))
    ManifestTable.append(spark, root,
      Seq((9999L, 1, 2)).toDF("v", "a", "b"), partitionBy = Seq("a", "b"))
    val df = spark.read.format("graft.manifest").load(root)
    assert(df.columns.toSeq == Seq("v", "a", "b"))
    assert(df.count() == 61L)
    // both partition levels prune: (a=1, b=2) appears in two segments
    assert(df.filter(col("a") === 1 && col("b") === 2).count() == 11L)
    assert(ManifestSource.lastListedPartitions == 2,
      s"a=1/b=2 must open exactly its two dirs, saw ${ManifestSource.lastListedPartitions}")
    // one level alone prunes too
    assert(df.filter(col("a") === 0).count() == 30L)
    assert(ManifestSource.lastListedPartitions == 3)
    // the group-by answer through SQL matches a plain computation
    df.createOrReplaceTempView("manifest_nested_v")
    val viaSql = spark.sql(
      "SELECT a, b, count(*) AS c FROM manifest_nested_v GROUP BY a, b ORDER BY a, b")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(viaSql == Seq((0,0,10L),(0,1,10L),(0,2,10L),(1,0,10L),(1,1,10L),(1,2,11L)))
    ManifestTable.destroy(spark, root)
  }

  test("DROP COLUMN is scan-invisible: the post-drop FileScan never requests the dropped column") {
    import graft.io.ManifestTable
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir"), "plan_dropcol__log").toString
    ManifestTable.destroy(spark, root)
    ManifestTable.append(spark, root,
      spark.range(100).selectExpr("id", "id * 2 AS v", "concat('n', id) AS note"))
    ManifestTable.dropColumns(spark, root, Seq("note"))
    // SQL relation: the scan's output column set excludes the dropped
    // column — the projection is enforced at the parquet reader, not
    // by a post-scan Project (zero IO for dropped bytes)
    val plan = spark.read.format("graft.manifest").load(root)
      .queryExecution.executedPlan.toString
    val scanLine = plan.split("\n").find(_.contains("FileScan"))
      .getOrElse(fail(s"no FileScan in:\n$plan"))
    assert(!scanLine.contains("note"), s"scan still reads the dropped column: $scanLine")
    // typed read path agrees
    assert(!ManifestTable.read(spark, root).queryExecution.executedPlan
      .toString.split("\n").find(_.contains("FileScan")).exists(_.contains("note")))
    ManifestTable.destroy(spark, root)
  }
}
