package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Invariant gates for the two registry queries whose DuckDB oracle
  * replay is intractable at sf1 (the round-10 gap: the oracle engine
  * spilled >79 GB replaying them, an oracle-side resource limit, not
  * an engine mismatch):
  *
  *  - `graph_pagerank_dangling` — the dangling-redistribution
  *    recurrence conserves total rank mass by DEFINITION, so at any
  *    scale Σ pr must equal the node count within per-node 6-dp
  *    rounding drift (the ExtSpec invariant, run at scale), with
  *    every rank strictly positive.
  *  - `rank_ndcg` — (a) per-query bounds (ndcg/recall ∈ [0,1],
  *    n_hit ≤ 10, idcg = the closed-form constant Σ (11−r)/log2(r+1),
  *    since the exact ranking always yields 10 graded neighbors) and
  *    (b) an EXACT replay of the metric pipeline for every query
  *    vector: the exact ranking recomputed through an independent
  *    formulation (higher-order-function dot products + a window
  *    ranking, instead of the codegen'd `vecDot` kernel + the
  *    `TopKByScore` heap; same 6-dp rounding and id tie-break), and
  *    the rel/DCG/NDCG arithmetic recomputed driver-side from the
  *    collected rankings (≤ 80 rows). The LSH ANN side is the system
  *    under test; everything downstream of it is re-derived.
  *
  * Run as a main against any sf dir (the sf1 gate:
  * `runMain graft.ScaleGate /root/repo/testdata-sf1`); ExtSpec runs
  * [[check]] at sf0.01 every CI pass, where the hash oracle ALSO
  * covers both queries — so the replay logic itself is
  * cross-validated against DuckDB at small scale before it stands
  * in for DuckDB at large scale. Emits one JSON line; throws on any
  * violated invariant. */
object ScaleGate {

  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def log2d(x: Double): Double = math.log(x) / math.log(2.0)

  /** Σ_{r=1..10} (11−r)/log2(r+1), rounded like the query — the ideal
    * DCG of a full graded top-10, constant across queries. */
  private def idealDcg: Double =
    round6((1 to 10).map(r => (11.0 - r) / log2d(r + 1.0)).sum)

  /** Run both gates; returns the JSON report line. Throws (with the
    * violated invariant in the message) on failure. */
  def check(spark: SparkSession, sfDir: String): String = {
    // ---- gate 1: dangling pagerank conserves rank mass at scale
    val pr = SparkEntry.queries("graph_pagerank_dangling")(spark, sfDir)
    val a = pr.agg(count(lit(1)).cast("long"), sum("pr"), min("pr")).head()
    val n = a.getLong(0); val mass = a.getDouble(1); val minPr = a.getDouble(2)
    require(math.abs(mass - n) <= n * 1e-6 + 1e-6,
      f"rank mass $mass%.6f must equal node count $n (drift bound ${n * 1e-6}%.6f)")
    require(minPr > 0.0, s"pagerank emitted a non-positive rank: $minPr")

    // ---- gate 2: rank_ndcg bounds + independent metric replay
    val out = SparkEntry.queries("rank_ndcg")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    require(out.nonEmpty, "rank_ndcg returned no rows")
    val idcg = idealDcg
    out.foreach { case (q, nHit, recall, ndcg) =>
      require(nHit >= 0 && nHit <= 10, s"q$q: n_hit $nHit out of [0,10]")
      require(math.abs(recall - nHit / 10.0) < 1e-9, s"q$q: recall != n_hit/10")
      require(ndcg >= 0.0 && ndcg <= 1.0 + 1e-9, s"q$q: ndcg $ndcg out of [0,1]")
    }
    // the ANN ranking under test (same call as the registry query)
    val emb = SparkEntry.t(spark, sfDir, "embeddings")
    val ann = graft.ext.Similarity
      .knnJoinLsh(emb, 10, nbits = 384, bandBits = 8, maxBucket = 64)
      .filter(col("query_id") < 8)
      .select("query_id", "nbr_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // independent exact ranking: HOF dot (same sequential component
    // order as vecDot, same shared normalize primitive, same 6-dp
    // pre-rank rounding) + row_number window (score desc, id asc —
    // the documented TopKByScore tie-break)
    val nv = emb.select(col("vec_id").cast("long").as("id"),
      graft.functions.normalize(col("embedding")).as("v"))
    val qs = nv.filter(col("id") < 8)
      .select(col("id").as("query_id"), col("v").as("qv"))
    val pairs = nv.join(broadcast(qs), col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("nbr_id"),
        round(aggregate(zip_with(col("qv"), col("v"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x), 6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("nbr_id").asc)
    val exact = pairs.withColumn("erank", row_number().over(w))
      .filter(col("erank") <= 10)
      .select("query_id", "nbr_id", "erank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // driver-side rel/DCG/NDCG replay from the two rankings
    val erankOf = exact.map(t => (t._1, t._2) -> t._3).toMap
    var maxDiff = 0.0
    out.foreach { case (q, nHit, _, ndcg) =>
      val rows = ann.filter(_._1 == q).sortBy(_._3)
      val rels = rows.map { case (_, nbr, rank) =>
        (erankOf.get((q, nbr)).map(11 - _).getOrElse(0), rank) }
      val dcg = round6(rels.map { case (rel, rank) =>
        rel / log2d(rank + 1.0) }.sum)
      val ndcgReplay = round6(dcg / idcg)
      val nHitReplay = rels.count(_._1 > 0)
      require(nHitReplay == nHit,
        s"q$q: n_hit replay $nHitReplay != query output $nHit")
      val diff = math.abs(ndcgReplay - ndcg)
      maxDiff = math.max(maxDiff, diff)
      require(diff <= 1.5e-6,
        f"q$q: ndcg replay $ndcgReplay%.6f != query output $ndcg%.6f")
    }
    // ---- gate 3 (round 12): the streaming merge family
    val mergeRows = checkMerges(spark, sfDir)

    // ---- gate 4 (round 16): the SQL lakehouse face — change-feed TVF
    // and the catalog-named lifecycle (CTAS/ALTER/INSERT/DML by name)
    val lakehouseRows = checkLakehouseSql(spark, sfDir)

    // ---- gate 5 (round 17): the row-identity change feed at scale
    val rowIdRows = checkRowIdentityFeed(spark, sfDir)

    s"""{"gate":"sf_invariants","sf":"$sfDir","pagerank_nodes":$n,""" +
      f""""pagerank_mass":$mass%.6f,"ndcg_queries":${out.length},""" +
      f""""ndcg_max_replay_diff":$maxDiff%.1e,""" +
      s""""merge_rows":$mergeRows,"lakehouse_sql_rows":$lakehouseRows,""" +
      s""""rowid_rows":$rowIdRows,"pass":true}"""
  }

  /** The r16 row-identity change feed (`_row_id`: zero stored bytes,
    * derived from parquet scan metadata) measured at scale: a consumer
    * bootstraps from [[graft.io.ManifestTable.readWithRowId]], the
    * table takes an UPDATE and a DELETE (copy-on-write DML windows),
    * and the consumer applies the windows BY ROW IDENTITY alone —
    * anti-join the pre-image deletes' `_row_id`s, union the inserts.
    * The table is built as TWO full copies of the events rollup, so
    * every row is a cross-segment full-row duplicate: value-identity
    * delete application would provably corrupt this state (each
    * pre-image would kill both copies), making the exact round-trip a
    * sharp test of the row-identity contract, not a soft echo of the
    * value path. The applied state must equal [[graft.io.ManifestTable
    * .readMerged]] exactly (two-way distributed exceptAll — runs at
    * any sf). Returns rows audited. */
  private def checkRowIdentityFeed(spark: SparkSession, sfDir: String): Long = {
    import graft.io.{ManifestDml, ManifestTable}
    val root = ManifestTable.warehouseRoot(spark, "gate_rowid__log")
    ManifestTable.destroy(spark, root)
    val ev = SparkEntry.t(spark, sfDir, "events")
      .select(col("event_id").cast("long").as("event_id"),
        col("event_type"), col("value").cast("double").as("value"))
    ManifestTable.append(spark, root, ev, tag = Some("copya"))
    ManifestTable.append(spark, root, ev, tag = Some("copyb"))
    // pre-image reads need the DML-dropped dirs still on disk — the
    // standard retention-covers-the-window feed contract
    ManifestTable.setRetainVersions(spark, root, 10)
    val v0 = ManifestTable.versions(spark, root).max
    val boot = ManifestTable.readWithRowId(spark, root).localCheckpoint()
    try {
      ManifestDml.updateWhere(spark, root,
        Seq("value" -> (col("value") * 2)), col("event_id") % 7 === 3)
      ManifestDml.deleteWhere(spark, root, col("event_id") % 11 === 5)
      val head = ManifestTable.versions(spark, root).max
      val feed = ManifestTable.readChanges(spark, root, v0, head, rowId = true)
      val dels = feed.filter(col("_change_type") === "delete")
        .select(ManifestTable.RowIdCol)
      val ins = feed.filter(col("_change_type") === "insert")
        .drop("_change_type")
      val applied = boot
        .join(dels, Seq(ManifestTable.RowIdCol), "left_anti")
        .unionByName(ins)
        .drop(ManifestTable.RowIdCol)
      val want = ManifestTable.readMerged(spark, root)
      val d = applied.exceptAll(want).count() + want.exceptAll(applied).count()
      require(d == 0,
        s"row-identity feed replay differs from the head state by $d rows")
      val rows = want.count()
      val expected = 2L * ev.filter(col("event_id") % 11 =!= 5).count()
      require(rows == expected,
        s"head state holds $rows rows, expected $expected " +
          "(two copies of the undeleted events)")
      ManifestTable.destroy(spark, root)
      rows
    } finally graft.core.Lineage.release(boot)
  }

  /** The r15/r16 SQL lakehouse face at scale: the change-feed TVF
    * (`manifest_changes_sql`) and the catalog-named lifecycle
    * (`manifest_named_sql` CTAS/INSERT/DML by name,
    * `manifest_alter_sql` ALTER ADD COLUMNS + evolved INSERT,
    * `manifest_drop_sql` DROP COLUMN projection + narrowed INSERT),
    * each replayed as the ONE-PASS relational formulation of its
    * DuckDB oracle, expressed in Spark — distributed exceptAll, so the
    * gate runs at any sf. The oracle shapes are cross-validated
    * against DuckDB at sf0.01 every round (CORRECTNESS); here they
    * stand in for DuckDB where the replay would spill. Returns rows
    * audited. */
  private def checkLakehouseSql(spark: SparkSession, sfDir: String): Long = {
    def mustMatch(name: String, got: DataFrame, replay: DataFrame): Unit = {
      val d = got.exceptAll(replay).count() + replay.exceptAll(got).count()
      require(d == 0, s"$name: $d rows differ from the relational replay")
    }
    val ev = SparkEntry.t(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    def decSum4(c: org.apache.spark.sql.Column) =
      round(sum(c.cast("decimal(18,6)")), 4).cast("double")

    // change-feed TVF: pre-image deletes + (updated ∪ appended) inserts
    val chg = SparkEntry.queries("manifest_changes_sql")(spark, sfDir)
    val pre = ev.filter(col("event_id") % 4 === 0)
    val post = pre.withColumn("value",
      when(col("event_id") % 8 === 0, col("value") * 2).otherwise(col("value")))
    val feed = pre.withColumn("change_type", lit("delete"))
      .unionByName(post.withColumn("change_type", lit("insert")))
      .unionByName(ev.filter(col("event_id") % 4 === 2)
        .withColumn("change_type", lit("insert")))
    val chgReplay = feed
      .groupBy(col("change_type"), col("event_type").as("etype"))
      .agg(count(lit(1)).as("cnt"), decSum4(col("value")).as("sum_value"))
      .select("change_type", "etype", "cnt", "sum_value")
    mustMatch("manifest_changes_sql", chg, chgReplay)

    // ALTER lifecycle: old rows NULL-fill the added columns, the
    // post-ALTER INSERT carries them
    val alter = SparkEntry.queries("manifest_alter_sql")(spark, sfDir)
    val odd = col("event_id") % 2 === 1
    val alterReplay = ev.groupBy("event_type").agg(
        count(lit(1)).as("cnt"),
        count(when(odd, col("value"))).as("with_value"),
        decSum4(when(odd, col("value"))).as("sum_value"),
        count(when(odd, lit(1))).as("with_note"),
        count(when(odd && col("event_id") % 4 === 1, lit(1))).as("n_flagged"))
      .select("event_type", "cnt", "with_value", "sum_value",
        "with_note", "n_flagged")
    mustMatch("manifest_alter_sql", alter, alterReplay)

    // DROP lifecycle: the surviving columns replay as the straight
    // rollup (the dropped column never surfaces)
    val drop = SparkEntry.queries("manifest_drop_sql")(spark, sfDir)
    val dropReplay = ev.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), decSum4(col("value")).as("sum_value"))
      .select("event_type", "cnt", "sum_value")
    mustMatch("manifest_drop_sql", drop, dropReplay)

    // named lifecycle: CTAS + INSERT + DELETE + UPDATE + MERGE by name
    val named = SparkEntry.queries("manifest_named_sql")(spark, sfDir)
    val namedReplay = ev
      .filter(col("event_id") % 5 =!= 2 || col("event_id") % 3 === 0)
      .withColumn("value",
        when(col("event_id") % 5 =!= 2 && col("event_id") % 3 === 0,
          col("value") * 3)
          .when(col("event_id") % 5 =!= 2 && col("event_type") === "click",
            col("value") * 2)
          .otherwise(col("value")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), decSum4(col("value")).as("sum_value"))
      .select("event_type", "cnt", "sum_value")
    mustMatch("manifest_named_sql", named, namedReplay)

    chg.count() + alter.count() + drop.count() + named.count()
  }

  /** The streaming merge family at scale: each streaming merge is
    * split-invariant by contract (N micro-batches ≡ one batch apply),
    * so its final state is replayed here as ONE independent
    * single-pass formulation over the same source — the DuckDB
    * oracle's shape, expressed in Spark — and compared exactly
    * (two-way exceptAll; distributed, no driver-size limit, so this
    * gate runs at any sf). The keyed states (both upserts, CDC) must
    * also hold exactly one row per key, the cardinality every later
    * MERGE into them depends on. Returns total state rows audited. */
  private def checkMerges(spark: SparkSession, sfDir: String): Long = {
    import org.apache.spark.sql.expressions.Window
    def mustMatch(name: String, got: DataFrame, replay: DataFrame): Unit = {
      val d = got.exceptAll(replay).count() + replay.exceptAll(got).count()
      require(d == 0, s"$name: $d rows differ from the one-batch replay")
    }
    def oneRowPerKey(name: String, state: DataFrame, keyCol: String): Long = {
      val dup = state.groupBy(keyCol).count().filter(col("count") > 1).count()
      require(dup == 0L, s"$name: $dup keys hold more than one state row")
      state.count()
    }

    val up = SparkEntry.queries("stream_upsert")(spark, sfDir)
    val ev = SparkEntry.t(spark, sfDir, "events")
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("us"),
        col("event_id").cast("long").as("event_id"),
        col("value").cast("double").as("value"))
    val upReplay = ev.groupBy("user_id")
      .agg(max(struct(col("us"), col("event_id"), col("value"))).as("s"),
        count(lit(1)).as("n_updates"))
      .select(col("user_id"), timestamp_micros(col("s.us")).as("last_ts"),
        col("s.event_id").as("last_event_id"),
        col("s.value").as("last_value"), col("n_updates"))
    mustMatch("stream_upsert", up, upReplay)
    val upRows = oneRowPerKey("stream_upsert", up, "user_id")

    val sc = SparkEntry.queries("stream_scd2")(spark, sfDir)
    val w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    val scReplay = SparkEntry.t(spark, sfDir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("valid_from"),
        col("event_id").cast("long").as("event_id"),
        col("value").cast("double").as("value"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select("user_id", "valid_from", "event_id", "value",
        "valid_to", "is_current")
    mustMatch("stream_scd2", sc, scReplay)
    val scRows = sc.count()

    // the upsert without its n_updates column: same argmax replay
    val um = SparkEntry.queries("stream_upsert_manifest")(spark, sfDir)
    val umReplay = ev.groupBy("user_id")
      .agg(max(struct(col("us"), col("event_id"), col("value"))).as("s"))
      .select(col("user_id"), timestamp_micros(col("s.us")).as("last_ts"),
        col("s.event_id").as("last_event_id"),
        col("s.value").as("last_value"))
    mustMatch("stream_upsert_manifest", um, umReplay)
    val umRows = oneRowPerKey("stream_upsert_manifest", um, "user_id")

    val cd = SparkEntry.queries("stream_cdc")(spark, sfDir)
    val (base, feed) = SparkEntry.cdcBaseAndFeed(spark, sfDir)
    val wseq = Window.partitionBy("okey").orderBy(col("seq").desc)
    val latest = feed.withColumn("rn", row_number().over(wseq))
      .filter(col("rn") === 1)
      .select(col("okey"), col("op"), col("price").as("l_price"),
        col("status").as("l_status"))
    val cdReplay = base.join(latest, Seq("okey"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("okey"),
        when(col("op").isNotNull, col("l_price"))
          .otherwise(col("price")).as("price"),
        when(col("op").isNotNull, col("l_status"))
          .otherwise(col("status")).as("status"))
    mustMatch("stream_cdc", cd, cdReplay)
    val cdRows = oneRowPerKey("stream_cdc", cd, "okey")

    upRows + scRows + cdRows + umRows
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = core.Session.build(
      appName = "graft-scalegate",
      shufflePartitions = core.Session.localCores,
      extraConf = Map(core.Session.processWarehouse("gate")))
    println(check(spark, sfDir))
    spark.stop()
  }
}
