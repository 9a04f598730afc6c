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

/** Registry part 3/4: sampling/packing/curation, multimodal,
  * time-series, streaming and CDC query families. */
trait SparkEntryTail extends SparkEntryMid {
  private[graft] def cdcApply(s: SparkSession, dir: String): DataFrame = {
    val (base, feed) = cdcBaseAndFeed(s, dir)
    graft.io.Cdc.applyChanges(base, feed.drop("second"), "okey", "seq", "op")
      .orderBy("okey")
  }

  /** Streaming CDC apply ([[graft.streaming.Stream.foreachBatchCdc]]):
    * the SAME feed as [[cdcApply]] split across two real micro-batches
    * through foreachBatch + staged-rename table swaps. Latest-wins
    * makes the final state split-invariant, so the oracle is the
    * single-batch MERGE replay ([[cdcApplySql]]); absolute-valued ops
    * make batch replay naturally idempotent (spec-pinned). */
  private[graft] def streamCdc(s: SparkSession, dir: String): DataFrame = {
    val (base, feed) = cdcBaseAndFeed(s, dir)
    graft.streaming.Stream.foreachBatchCdc(s, base, feed).orderBy("okey")
  }

  private[graft] val cdcApplySql: String =
    s"""WITH base AS (SELECT o_orderkey AS okey,
       |                     CAST(o_totalprice AS DOUBLE) AS price,
       |                     o_orderstatus AS status FROM orders),
       |feed AS (
       |  SELECT okey, 1 AS seq, 'U' AS op, price * 1.05 AS price,
       |         status FROM base WHERE okey % 7 = 1
       |  UNION ALL
       |  SELECT okey, 2, 'U', price * 1.10, status
       |  FROM base WHERE okey % 7 = 1
       |  UNION ALL
       |  SELECT okey, 1, 'D', NULL, NULL FROM base WHERE okey % 7 = 0
       |  UNION ALL
       |  SELECT okey + 10000000, 1, 'I', price * 0.5, 'N'
       |  FROM base WHERE okey % 7 = 2),
       |latest AS (
       |  SELECT okey, op, price, status FROM (
       |    SELECT okey, op, price, status,
       |           row_number() OVER (PARTITION BY okey ORDER BY seq DESC) AS rn
       |    FROM feed) WHERE rn = 1)
       |SELECT coalesce(b.okey, l.okey) AS okey,
       |       CASE WHEN l.okey IS NOT NULL THEN l.price ELSE b.price END
       |         AS price,
       |       CASE WHEN l.okey IS NOT NULL THEN l.status ELSE b.status END
       |         AS status
       |FROM base b FULL JOIN latest l ON b.okey = l.okey
       |WHERE l.op IS NULL OR l.op <> 'D'
       |ORDER BY okey""".stripMargin

  /** Time-series gap-fill ([[graft.ext.TimeSeries.resampleLocf]]):
    * purchase events for users < 40 resampled to an hourly grid with
    * LOCF. Per-bucket sums are rounded AFTER the carry-forward (both
    * engines copy the same unrounded double, so rounding once at the
    * end is exact). */
  private[graft] def tsGapfill(s: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.resampleLocf(
        t(s, dir, "events").filter(col("event_type") === "purchase" && col("user_id") < 40),
        "user_id", "ts", sum(col("value")), stepSeconds = 3600L)
      .select(col("user_id"), col("bucket_ts"),
        round(col("value_filled"), 4).as("value_filled"), col("is_observed"))
      .orderBy("user_id", "bucket_ts")

  /** Linear-interpolation resampling ([[graft.ext.TimeSeries
    * .resampleInterp]]): each user's daily value total on a full daily
    * grid, interior gaps blended between the surrounding observations.
    * The bucket aggregate rounds to 6 dp BEFORE interpolation on both
    * engines, making the blend arithmetic an exact replay. */
  private[graft] def tsInterp(s: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.resampleInterp(
        t(s, dir, "events").filter(col("user_id") < 40),
        "user_id", "ts", sum(col("value")), stepSeconds = 86400L)
      .orderBy("user_id", "bucket_ts")

  /** Bounded-window EWMA ([[graft.ext.TimeSeries.ewma]], α=0.3,
    * window=20) of each user's event values in (ts, event_id) order —
    * the trend feature every behavioral pipeline derives. The weight
    * ladder is shared verbatim with the oracle SQL (exact double
    * literals); the result still rounds to 6 dp — the 20-term chain
    * drifts 1 ulp cross-engine (FMA contraction; see
    * [[graft.ext.TimeSeries.ewma]]). */
  private[graft] def tsEwma(s: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.ewma(
        t(s, dir, "events").filter(col("user_id") < 100),
        "user_id", "ts", "value", "event_id", alpha = 0.3, window = 20)
      .select(col("user_id"), col("event_id"), col("value"), col("ewma"))
      .orderBy("user_id", "event_id")

  /** Holt double-exponential smoothing ([[graft.ext.TimeSeries
    * .holt]], α=0.5, β=0.3, window=20): level + trend state and the
    * 1-step forecast per user event — the short-horizon forecaster.
    * Same oracle contract as [[tsEwma]]: both coefficient ladders are
    * generated once ([[graft.ext.TimeSeries.holtWeights]]) and spelled
    * into the SQL as exact double literals; results round 6 dp. */
  private[graft] def tsHolt(s: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.holt(
        t(s, dir, "events").filter(col("user_id") < 100),
        "user_id", "ts", "value", "event_id",
        alpha = 0.5, beta = 0.3, window = 20)
      .select(col("user_id"), col("event_id"), col("value"),
        col("level"), col("trend"), col("forecast"))
      .orderBy("user_id", "event_id")

  /** Per-user autocorrelation at lags 1..5 ([[graft.ext.TimeSeries
    * .acf]]) — the seasonality diagnostic. Mean rounds before
    * deviations; numerator/denominator sums round before the ratio;
    * ratio rounds — the zscore discipline, so the oracle replays
    * every step. */
  private[graft] def tsAcf(s: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.acf(
        t(s, dir, "events").filter(col("user_id") < 100),
        "user_id", "ts", "value", "event_id", maxLag = 5)
      .orderBy("user_id", "lag")

  private[graft] val tsAcfSql: String = {
    val lagCols = (1 to 5).map(l => s"lag(d, $l) OVER w AS d$l").mkString(", ")
    val numCols = (1 to 5).map(l => s"round(sum(d * d$l), 6) AS n$l").mkString(", ")
    val unions = (1 to 5).map(l =>
      s"SELECT user_id, CAST($l AS INT) AS lag, round(n$l / den, 6) AS acf FROM a")
      .mkString("\nUNION ALL\n")
    s"""WITH m AS (
       |  SELECT user_id, round(avg(value), 6) AS m
       |  FROM events WHERE user_id < 100 GROUP BY 1),
       |d0 AS (
       |  SELECT e.user_id, e.ts, e.event_id, e.value - m.m AS d
       |  FROM events e JOIN m USING (user_id) WHERE e.user_id < 100),
       |l AS (
       |  SELECT user_id, d, $lagCols
       |  FROM d0 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |a AS (
       |  SELECT user_id, round(sum(d * d), 6) AS den, $numCols
       |  FROM l GROUP BY 1)
       |$unions
       |ORDER BY user_id, lag""".stripMargin
  }

  /** Rolling z-score anomaly flags ([[graft.ext.TimeSeries
    * .rollingZscore]], window=20, |z| > 3) over each user's event
    * values — mean/stddev round to 6 dp BEFORE the ratio on both
    * engines, the flag compares the rounded z. */
  private[graft] def tsAnomaly(s: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.rollingZscore(
        t(s, dir, "events").filter(col("user_id") < 100),
        "user_id", "ts", "value", "event_id", window = 20, threshold = 3.0)
      .select(col("user_id"), col("event_id"), col("value"), col("z"),
        col("is_anomaly"))
      .orderBy("user_id", "event_id")

  /** Batch sessionization (the batch twin of stream_sessions): a new
    * session opens when a user is idle > 30 min; pure long arithmetic
    * on epoch micros (lag + running conditional sum — two evaluations
    * of one keyed window, no joins), then one keyed aggregate per
    * session. */
  private[graft] def q51Sessionize(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("value"))
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val flagged = ev.withColumn("__new",
      when(col("us") - lag("us", 1).over(w) > 1800L * 1000000L || lag("us", 1).over(w).isNull, 1L)
        .otherwise(0L))
    flagged.withColumn("session_idx", sum("__new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        timestamp_micros(min("us")).as("start_ts"),
        timestamp_micros(max("us")).as("end_ts"),
        round(sum("value"), 4).as("sum_value"))
      .orderBy("user_id", "session_idx")
  }

  /** Event-type transition matrix (first-order Markov estimate): per
    * user in (ts, event_id) order, count src→dst steps and normalize
    * per source — sequence mining's first primitive. One keyed window
    * (lead) + one keyed aggregate + one window-normalized share. */
  private[graft] def q52Transitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val steps = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("src"),
        lead("event_type", 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    val counts = steps.groupBy("src", "dst").agg(count(lit(1)).as("n"))
    counts
      .withColumn("p", round(col("n").cast("double") /
        sum("n").over(Window.partitionBy("src")), 6))
      .orderBy("src", "dst")
  }

  /** A/B readout (variant = user_id parity): per-variant user counts,
    * converters (≥1 purchase), per-user value totals aggregated to a
    * 2×2 Pearson chi-square on conversion and a Welch t on means —
    * the two standard experiment gates, computed relationally (two
    * keyed aggregates + one 2-row pivot to a single stats row; the
    * chi-square numerator stays in exact integer arithmetic until one
    * final double division). */
  private[graft] def q53Abtest(s: SparkSession, dir: String): DataFrame = {
    val users = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"),
        // round the shuffle-order per-user sum BEFORE it feeds
        // avg/var_samp (the round-before-use oracle rule)
        round(sum("value"), 4).as("total"))
      .select(pmod(col("user_id"), lit(2)).as("variant"), col("conv"), col("total"))
    val byVar = users.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum("conv").as("nc"),
        avg("total").as("mean"), var_samp("total").as("v"))
    val a = byVar.filter(col("variant") === 0)
      .select(col("n").as("n_a"), col("nc").as("conv_a"),
        col("mean").as("mean_a"), col("v").as("var_a"))
    val b = byVar.filter(col("variant") === 1)
      .select(col("n").as("n_b"), col("nc").as("conv_b"),
        col("mean").as("mean_b"), col("v").as("var_b"))
    // chi-square in DOUBLE factor-by-factor: each factor is an exact
    // integer-valued double (< 2^53), but 4-factor products overflow
    // int64 at ~55k users/arm — double products round identically on
    // both engines (same left-assoc order), so the value stays
    // oracle-exact at any scale
    val numDiff = (col("conv_a") * (col("n_b") - col("conv_b")) -
      col("conv_b") * (col("n_a") - col("conv_a"))).cast("double")
    val denom = (col("conv_a") + col("conv_b")).cast("double") *
      (col("n_a") + col("n_b") - col("conv_a") - col("conv_b")).cast("double") *
      col("n_a").cast("double") * col("n_b").cast("double")
    a.crossJoin(broadcast(b)) // two single-row stat frames
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        round((col("n_a") + col("n_b")).cast("double") * numDiff * numDiff / denom,
          6).as("chi2"),
        round((col("mean_a") - col("mean_b")) /
          sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")), 6).as("t_welch"))
  }

  /** Perplexity-bucket assignment for mixture sampling: documents
    * ranked by unigram lm score ([[Text.lmScoreDf]], already rounded
    * to 4 dp) into PER-LANGUAGE ntile deciles with a doc_id tie-break
    * — the quality-stratification step before mixing weights are
    * applied per bucket. The window partitions by language (keyed, no
    * global sort — the 100 TB shape; a global decile would need a
    * single-partition window). Ranking happens on the ROUNDED score
    * (the oracle-exact argmin/ranking rule), so bucket boundaries
    * replay exactly. */
  private[graft] def textPplBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ext.Text.lmScoreDf(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .withColumn("bucket", ntile(10).over(
        Window.partitionBy("lang").orderBy(col("lm_score"), col("doc_id"))))
      .select(col("doc_id"), col("lang"), col("lm_score"), col("bucket"))
      .orderBy("doc_id")
  }

  /** Vocabulary-building + tokenization to ids ([[Text.buildVocab]] /
    * [[Text.tokensToIds]]): top-20 corpus vocabulary (the ~31-word
    * fixture vocabulary guarantees real OOV hits at id 0), every
    * document mapped to its id sequence; the md5 of the joined
    * sequence gates ranking, tie-breaks, OOV handling, and positional
    * reassembly at once. */
  private[graft] def textVocabIds(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = Text.buildVocab(docs, v = 20)
    Text.tokensToIds(docs, vocab)
      .select(col("doc_id"), size(col("token_ids")).cast("long").as("n_tokens"),
        col("n_oov"),
        md5(concat_ws(",", transform(col("token_ids"), _.cast("string")))).as("ids_md5"))
      .orderBy("doc_id")
  }

  /** Concat-and-chunk sequence packing ([[graft.ext.Pack
    * .packSequences]]): the corpus tokenized to ids (same top-20
    * vocabulary as [[textVocabIds]]), every document's sequence + an
    * EOS(-1) separator concatenated in doc order and cut into 128-id
    * training sequences — the packed pre-training layout. The md5 of
    * each sequence's joined ids gates offsets, boundaries, EOS
    * placement, and the ragged tail at once. */
  private[graft] def textPackseq(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = Text.buildVocab(docs, v = 20)
    graft.ext.Pack.packSequences(Text.tokensToIds(docs, vocab), seqLen = 128, eosId = -1)
      .select(col("seq_idx"), col("n_tokens"),
        md5(concat_ws(",", transform(col("tokens"), _.cast("string")))).as("tokens_md5"))
      .orderBy("seq_idx")
  }

  /** Temperature-scaled domain mixing weights ([[graft.ext.Sample
    * .temperatureWeights]], α = 0.7 over per-source character mass) —
    * the multi-domain sampling schedule of multilingual pre-training
    * recipes. */
  private[graft] def sampleTemperature(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sample.temperatureWeights(
        t(s, dir, "documents"), "source", "n_chars", alpha = 0.7)
      .orderBy("domain")

  /** DSIR-style importance log-weights ([[graft.ext.Sample
    * .dsirLogWeights]]): target domain = English docs, 64 hashed
    * unigram buckets — the hashed-n-gram data-selection score. λ(b)
    * values are single-division exact-int ratios through ln
    * (bit-identical); the per-doc Σ f·λ rounds to 6 dp, so the whole
    * weighting replays in DuckDB. */
  private[graft] def sampleDsir(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sample.dsirLogWeights(
        t(s, dir, "documents"), col("lang") === "en", buckets = 64)
      .orderBy("doc_id")

  /** BM25 retrieval scoring ([[Text.bm25]]) of the corpus against a
    * 3-term query; Okapi k1=1.2, b=0.75 defaults. */
  private[graft] def textBm25(s: SparkSession, dir: String): DataFrame =
    Text.bm25(t(s, dir, "documents"), Seq("table", "spark", "query"))
      .orderBy("doc_id")

  /** Ranked retrieval: BM25 top-10 for the shared 3-term query — the
    * query-time half of [[textBm25]]'s scorer, ranked through the
    * bounded heap (scores pre-rounded to 4 dp with doc-id ties, so the
    * cut replays). */
  private[graft] def textSearch(s: SparkSession, dir: String): DataFrame =
    Text.bm25(t(s, dir, "documents"), Seq("table", "spark", "query"))
      .agg(graft.functions.fx.topKByScore(col("bm25"), col("doc_id"), 10)
        .as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("doc_id"), col("t.score").as("bm25"))
      .orderBy("rank")

  private[graft] lazy val textSearchSql: String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS ts FROM documents),
       |dl AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl FROM t),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
       |tok AS (SELECT doc_id, unnest(ts) AS tok FROM t),
       |tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tok
       |       WHERE tok IN ('table', 'spark', 'query') GROUP BY doc_id, tok),
       |df AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
       |sc AS (
       |  SELECT tf.doc_id,
       |         round(sum(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
       |           * (tf.tf * (1.2 + 1))
       |           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 4)
       |           AS bm25
       |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN st
       |  GROUP BY tf.doc_id),
       |rk AS (SELECT doc_id, bm25,
       |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
       |       FROM sc)
       |SELECT CAST(rank AS BIGINT) AS rank, doc_id, bm25
       |FROM rk WHERE rank <= 10 ORDER BY rank""".stripMargin

  /** Domain-mix divergence: per source, the KL divergence of its
    * language distribution from the corpus mix plus its own entropy —
    * the diversity/imbalance diagnostic behind mixture reweighting
    * (sample_temperature's measurement sibling). Every p and q is an
    * exact-int ratio; each ln runs on one exact product ratio
    * (c_sl·n)/(n_s·c_l); the ≤|langs| term sums round 6. Two keyed
    * aggs over the (source, lang) grid. */
  private[graft] def statsKl(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("source"), col("lang"))
    val sl = d.groupBy("source", "lang").agg(count(lit(1)).as("c_sl"))
    val sTot = d.groupBy("source").agg(count(lit(1)).as("n_s"))
    val lTot = d.groupBy("lang").agg(count(lit(1)).as("c_l"))
    val n = d.agg(count(lit(1)).as("n"))
    sl.join(broadcast(sTot), "source").join(broadcast(lTot), "lang")
      .crossJoin(broadcast(n))
      .withColumn("p", col("c_sl").cast("double") / col("n_s").cast("double"))
      .withColumn("klterm", col("p") *
        log((col("c_sl") * col("n")).cast("double") /
          (col("n_s") * col("c_l")).cast("double")))
      .withColumn("hterm", -col("p") * log(col("p")))
      .groupBy("source")
      .agg(first("n_s").as("n_docs"), count(lit(1)).as("n_langs"),
        round(sum("klterm"), 6).as("kl_vs_corpus"),
        round(sum("hterm"), 6).as("entropy"))
      .orderBy("source")
  }

  private[graft] val statsKlSql: String =
    """WITH d AS (SELECT source, lang FROM documents),
      |sl AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c_sl
      |       FROM d GROUP BY 1, 2),
      |stot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM d GROUP BY 1),
      |ltot AS (SELECT lang, CAST(count(*) AS BIGINT) AS c_l FROM d GROUP BY 1),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      |terms AS (
      |  SELECT source, n_s,
      |         CAST(c_sl AS DOUBLE) / CAST(n_s AS DOUBLE) AS p,
      |         CAST(c_sl AS DOUBLE) / CAST(n_s AS DOUBLE) *
      |           ln(CAST(c_sl * n AS DOUBLE) / CAST(n_s * c_l AS DOUBLE))
      |           AS klterm
      |  FROM sl JOIN stot USING (source) JOIN ltot USING (lang) CROSS JOIN nn)
      |SELECT source, CAST(min(n_s) AS BIGINT) AS n_docs,
      |       CAST(count(*) AS BIGINT) AS n_langs,
      |       round(sum(klterm), 6) AS kl_vs_corpus,
      |       round(sum(-p * ln(p)), 6) AS entropy
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  /** Top principal component of the embedding cloud by POWER ITERATION
    * on the scatter matrix — PCA without a linear-algebra library,
    * fully relational at any scale: the 64×64 scatter matrix comes
    * from ONE pair-exploded keyed aggregation over centered
    * coordinates (the outer-product accumulation that map-side
    * combines; 100 TB of vectors still reduces to 4096 cells), and
    * each of the 3 iterations is a (j,k)-keyed join+agg over that
    * BOUNDED relation — no corpus rescans, no driver linear algebra.
    * Determinism: mu and every scatter cell round 6 (shuffle-order
    * sums); per-round scores max-normalize (max is order-independent)
    * and round 6 — the graph_hits discipline. */
  /** Shared power-iteration pieces: (centered coordinates, final
    * loadings v3, final max-|raw| scale) — [[embPcaPower]] reports
    * them, [[embPcaProject]] projects the corpus onto v3. */
  private[graft] def pcaParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = t(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"), col("v").cast("double").as("v"))
    val mu = e.groupBy("dim").agg(round(avg("v"), 6).as("mu"))
    // pair join keyed by the row id — the outer-product accumulation
    val eRow = t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
    val xcr = eRow
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("v").cast("double").as("v"))
      .join(broadcast(mu), "dim")
      .select(col("vec_id"), col("dim"), (col("v") - col("mu")).as("x"))
    val scatter = xcr.as("a")
      .join(xcr.as("b").hint("shuffle_merge"), col("a.vec_id") === col("b.vec_id"))
      .groupBy(col("a.dim").as("j"), col("b.dim").as("k"))
      .agg(round(sum(col("a.x") * col("b.x")), 6).as("c"))
      .localCheckpoint()
    var v = mu.select(col("dim"), lit(1.0).as("w"))
    var lambda: DataFrame = null
    for (_ <- 1 to 3) {
      val wRaw = scatter.join(v.select(col("dim").as("k"), col("w")), "k")
        .groupBy(col("j").as("dim")).agg(round(sum(col("c") * col("w")), 6).as("raw"))
      val mx = wRaw.agg(max(abs(col("raw"))).as("mx"))
      lambda = mx
      v = wRaw.crossJoin(broadcast(mx))
        .select(col("dim"), round(col("raw") / col("mx"), 6).as("w"))
    }
    (xcr, v, lambda)
  }

  private[graft] def embPcaPower(s: SparkSession, dir: String): DataFrame = {
    val (_, v, lambda) = pcaParts(s, dir)
    v.crossJoin(broadcast(lambda))
      .select(col("dim"), col("w").as("loading"), col("mx").as("scatter_scale"))
      .orderBy("dim")
  }

  /** PCA projection + extremes: every vector's coordinate along the
    * power-iteration component ([[pcaParts]]) — the dimensionality-
    * reduction APPLY step, reported as the top/bottom-5 outliers along
    * PC1 (the embedding-space anomaly probe). Projection is one keyed
    * join + one agg per vector; extremes come from the bounded heap.
    * Projections round 4 before ranking (64-term keyed sums). */
  private[graft] def embPcaProject(s: SparkSession, dir: String): DataFrame = {
    val (xcr, v, _) = pcaParts(s, dir)
    val proj = xcr.join(broadcast(v), "dim")
      .groupBy("vec_id").agg(round(sum(col("x") * col("w")), 4).as("proj"))
    val hi = proj.agg(graft.functions.fx.topKByScore(col("proj"),
        col("vec_id").cast("long"), 5).as("top"))
      .select(lit("max").as("direction"), posexplode(col("top")).as(Seq("pos", "t")))
    val lo = proj.agg(graft.functions.fx.topKByScore(-col("proj"),
        col("vec_id").cast("long"), 5).as("top"))
      .select(lit("min").as("direction"), posexplode(col("top")).as(Seq("pos", "t")))
    hi.unionByName(lo)
      .select(col("direction"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("vec_id"),
        when(col("direction") === "min", -col("t.score"))
          .otherwise(col("t.score")).as("proj"))
      .orderBy("direction", "rank")
  }

  /** Power-iteration CTE chain (ve … v3/m3) — shared by the loadings
    * oracle and the projection oracle. */
  private[graft] val embPcaCtes: String = {
    val rounds = (1 to 3).map { i =>
      s"""w$i AS MATERIALIZED (
         |  SELECT j AS dim, round(sum(c * v${i - 1}.w), 6) AS raw
         |  FROM scatter JOIN v${i - 1} ON v${i - 1}.dim = scatter.k
         |  GROUP BY j),
         |m$i AS (SELECT max(abs(raw)) AS mx FROM w$i),
         |v$i AS MATERIALIZED (
         |  SELECT dim, round(raw / mx, 6) AS w FROM w$i CROSS JOIN m$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |            FROM embeddings),
       |e AS (SELECT vec_id, CAST(k - 1 AS BIGINT) AS dim,
       |        emb[CAST(k AS INT)] AS v
       |      FROM (SELECT vec_id, emb,
       |              unnest(generate_series(1, len(emb))) AS k FROM ve)),
       |mu AS (SELECT dim, round(avg(v), 6) AS mu FROM e GROUP BY dim),
       |xc AS (SELECT vec_id, dim, v - mu AS x FROM e JOIN mu USING (dim)),
       |scatter AS MATERIALIZED (
       |  SELECT a.dim AS j, b.dim AS k, round(sum(a.x * b.x), 6) AS c
       |  FROM xc a JOIN xc b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |v0 AS (SELECT dim, 1.0 AS w FROM mu),
       |$rounds"""
      .stripMargin
  }

  private[graft] lazy val embPcaPowerSql: String =
    s"""WITH $embPcaCtes
       |SELECT v3.dim, v3.w AS loading, m3.mx AS scatter_scale
       |FROM v3 CROSS JOIN m3 ORDER BY v3.dim""".stripMargin

  private[graft] lazy val embPcaProjectSql: String =
    s"""WITH $embPcaCtes,
       |proj AS (
       |  SELECT xc.vec_id, round(sum(xc.x * v3.w), 4) AS proj
       |  FROM xc JOIN v3 USING (dim) GROUP BY xc.vec_id),
       |hi AS (SELECT 'max' AS direction, vec_id, proj,
       |         row_number() OVER (ORDER BY proj DESC, vec_id) AS rank
       |       FROM proj),
       |lo AS (SELECT 'min' AS direction, vec_id, proj,
       |         row_number() OVER (ORDER BY proj ASC, vec_id) AS rank
       |       FROM proj)
       |SELECT direction, CAST(rank AS BIGINT) AS rank,
       |       CAST(vec_id AS BIGINT) AS vec_id, proj
       |FROM (SELECT * FROM hi WHERE rank <= 5
       |      UNION ALL SELECT * FROM lo WHERE rank <= 5)
       |ORDER BY direction, rank""".stripMargin

  /** Paragraph/segment-level exact dedup ([[Dedup.segmentDedup]] —
    * the MassiveText/CCNet repeated-paragraph pass): 16-token windows,
    * first corpus-wide occurrence wins, documents reassembled from
    * surviving segments. md5 of the rebuilt text gates the whole
    * split→winner→reassemble pipeline. */
  private[graft] def textPardedup(s: SparkSession, dir: String): DataFrame =
    Dedup.segmentDedup(t(s, dir, "documents"), segTokens = 16)
      .select(col("doc_id"), col("n_segments"), md5(col("text")).as("text_md5"))
      .orderBy("doc_id")

  // ======================================================================
  // Multimodal (north-star; stub decode, real plumbing)
  // ======================================================================

  private[graft] def multimodalMeta(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
    Multimodal.withMetadata(media)
      .withColumn("n_frames",
        greatest(ceil(col("n_bytes") / 4096).cast("long"), lit(1L)))
      .select("media_id", "n_bytes", "n_frames")
      .orderBy("media_id")
  }

  private[graft] def multimodalDecode(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
    Multimodal.decodeImages(media)
      .select(col("media_id"), col("width"), col("height"), col("channels"),
        round(col("mean_luma"), 6).as("mean_luma"))
      .orderBy("media_id")
  }

  /** REAL-codec decode roundtrip: a deterministic 4×4 grayscale PNG is
    * synthesized per document from its md5 digest bytes (16 bytes = 16
    * pixels) with javax.imageio, then decoded back with the REAL
    * decoder ([[Multimodal.decodeImagesReal]]). PNG is lossless, so
    * the decoded samples equal the digest bytes — which the DuckDB
    * oracle recomputes independently from md5(text) hex pairs
    * (dimensions constant, mean luma = digest-byte mean / 255). This
    * gates a true encode→decode codec path end-to-end; the stub-backed
    * multimodal_decode stays as the placeholder for codecs absent from
    * this container. */
  private[graft] def multimodalDecodeReal(s: SparkSession, dir: String): DataFrame = {
    val px = t(s, dir, "documents").select(
      col("doc_id").as("media_id"), unhex(md5(col("text"))).as("pixels"))
    Multimodal.decodeImagesReal(Multimodal.encodeGrayPng(px))
      .select(col("media_id"), col("width"), col("height"), col("channels"),
        round(col("mean_luma"), 6).as("mean_luma"))
      .orderBy("media_id")
  }

  /** REAL image resize ([[Multimodal.resizeImagesReal]]): the 4×4
    * md5-pixel PNGs of [[multimodalDecodeReal]] average-pooled 2×2 →
    * one row per pooled cell. Block sums are exact integers and the
    * /4 division is exact in double, so the oracle replays pooled
    * values with NO rounding. */
  private[graft] def multimodalResize(s: SparkSession, dir: String): DataFrame = {
    val px = t(s, dir, "documents").select(
      col("doc_id").as("media_id"), unhex(md5(col("text"))).as("pixels"))
    Multimodal.resizeImagesReal(Multimodal.encodeGrayPng(px), factor = 2)
      .orderBy("media_id", "by", "bx")
  }

  /** Perceptual-hash image dedup ([[Multimodal.phashNearDupes]]):
    * aHash fingerprints over the REAL-codec 4×4 md5-pixel PNGs,
    * two-band candidates, exact Hamming ≤ 1 pairs — the image
    * near-dup pass of a multimodal curation pipeline. All-integer,
    * and the oracle uses the INDEPENDENT naive pairwise formulation
    * (not the banding), so the structural-recall claim is itself
    * gated. */
  private[graft] def multimodalPhash(s: SparkSession, dir: String): DataFrame = {
    val px = t(s, dir, "documents").select(
      col("doc_id").as("media_id"), unhex(md5(col("text"))).as("pixels"))
    Multimodal.phashNearDupes(Multimodal.encodeGrayPng(px), maxHamming = 1)
      .orderBy("id_a", "id_b")
  }

  /** UNPIVOT (wide → long): per-flag aggregate columns melted into
    * (metric, value) rows — the inverse of q26's PIVOT, via the
    * native Dataset.unpivot. */
  private[graft] def q50Unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy("l_returnflag")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        round(sum("l_discount"), 2).as("sum_disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")

  /** Frame sampling over binary payloads (every 10th 4 KiB stride);
    * frames summarized as (length, md5) so the compare is
    * engine-portable without shipping raw binary through the gate.
    *
    * Oracle precondition (ASSERTED below, per run): the documents text
    * is pure ASCII (char length == utf-8 byte length for every row),
    * so DuckDB's CHARACTER-based length/substring/md5 on the varchar
    * equals Spark's BYTE-based slicing of the utf-8 payload. A
    * regenerated multibyte fixture fails fast with a clear message
    * instead of an opaque md5 mismatch; it would need a BLOB-capable
    * oracle (this DuckDB build has neither blob substring nor
    * md5(BLOB)). */
  private[graft] def multimodalFrames(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nonAscii = docs
      .filter(length(col("text")) =!= octet_length(encode(col("text"), "utf-8")))
      .limit(1).count()
    require(nonAscii == 0,
      "multimodal_frames oracle precondition violated: documents.text contains " +
        "non-ASCII characters, so DuckDB's char-based substring/md5 would diverge " +
        "from Spark's byte-based frame slicing — switch to a BLOB-capable oracle")
    val media = Multimodal.mediaFromDocuments(docs)
    Multimodal.sampleFrames(media, everyK = 10)
      .select(col("media_id"), col("frame_idx"),
        length(col("frame")).cast("int").as("n_frame_bytes"),
        md5(col("frame")).as("frame_md5"))
      .orderBy("media_id", "frame_idx")
  }

  // ======================================================================
  // Streaming (north-star): real micro-batch execution over events
  // ======================================================================

  private[graft] def streamWindow(s: SparkSession, dir: String): DataFrame =
    Stream.runOnce(s, s"${dir.stripSuffix("/")}/events.parquet", "1 hour")
      .select(col("window_start"), col("event_type"), col("n_events"),
        col("sum_value"))
      .orderBy("window_start", "event_type")

  private[graft] val streamWindowSql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |       count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Multi-file INCREMENTAL streaming ([[Stream.runMultiFile]]): the
    * events table split into 4 parquet files, streamed with
    * maxFilesPerTrigger = 1 so each file is its own real micro-batch
    * and aggregation state carries across batches — the 100 TB
    * backfill posture the single-file twin cannot exercise. Complete
    * mode ⇒ the result equals the batch aggregate over the union, the
    * oracle it shares with stream_window; ExtSpec asserts > 1 batch
    * actually ran. */
  private[graft] def streamMultifile(s: SparkSession, dir: String): DataFrame = {
    val out = tmpDir("events_multifile")
    t(s, dir, "events").repartition(4).write.parquet(out)
    Stream.runMultiFile(s, out, "1 hour")._1
      .select(col("window_start"), col("event_type"), col("n_events"),
        col("sum_value"))
      .orderBy("window_start", "event_type")
  }

  /** Checkpoint RECOVERY through the real engine ([[Stream
    * .runCheckpointed]]): the windowed aggregation runs to completion
    * over half the event files, STOPS, more files land, and a second
    * run resumes from the SAME checkpoint — the state store carries
    * the phase-1 partial aggregates, so the final table equals the
    * batch aggregate over everything while phase 2 ingests only the
    * new files (ExtSpec asserts the ingest counts; the
    * crash/redeploy-and-resume posture of a continuous pipeline).
    * Shares the batch-replay oracle with stream_window. */
  private[graft] def streamRestart(s: SparkSession, dir: String): DataFrame = {
    val out = tmpDir("events_restart")
    val cp = tmpDir("events_restart_cp")
    val table = "graft_stream_restart"
    graft.io.Load.dropManaged(s, table)
    graft.io.Load.dropManaged(s, table + "__stage")
    val ev = t(s, dir, "events")
    ev.filter(pmod(col("event_id"), lit(4)) < 2)
      .repartition(2).write.parquet(out)
    // trigger sized to the phase (r18): the recovery contract this
    // query exists for is CROSS-RUN (run 2 must ingest only unseen
    // files — asserted in ExtSpec and by the shared batch oracle);
    // within a run, one 2-file trigger instead of two 1-file triggers
    // halves the per-batch replan + complete-mode table swaps. The
    // multi-batch incremental posture stays pinned by stream_multifile
    // (maxFilesPerTrigger = 1 there, > 1 batch asserted).
    Stream.runCheckpointed(s, out, cp, table, maxFilesPerTrigger = 2)
    ev.filter(pmod(col("event_id"), lit(4)) >= 2)
      .repartition(2).write.mode("append").parquet(out)
    Stream.runCheckpointed(s, out, cp, table, maxFilesPerTrigger = 2)
    s.table(table)
      .select(col("window_start"), col("event_type"), col("n_events"),
        col("sum_value"))
      .orderBy("window_start", "event_type")
  }

  /** Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL) between
    * the even- and odd-order halves of lineitem's (flag, quantity)
    * multiset — the multiplicity-preserving variants q06/q07/q25's
    * distinct forms do not cover (reconciliation diffs want bags, not
    * sets). Output aggregated to the bounded value grid. */
  private[graft] def q60BagOps(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    def half(m: Int) = li.filter(pmod(col("l_orderkey"), lit(2)) === m)
      .select(col("l_returnflag"), col("l_quantity"))
    val a = half(0); val b = half(1)
    val ex = a.exceptAll(b).groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
    val in = a.intersectAll(b).groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
    ex.unionByName(in)
      .select("op", "l_returnflag", "l_quantity", "n")
      .orderBy("op", "l_returnflag", "l_quantity")
  }

  private[graft] val q60BagOpsSql: String =
    """WITH a AS (SELECT l_returnflag, l_quantity FROM lineitem
      |           WHERE l_orderkey % 2 = 0),
      |b AS (SELECT l_returnflag, l_quantity FROM lineitem
      |      WHERE l_orderkey % 2 = 1),
      |ex AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b),
      |ia AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
      |SELECT 'except_all' AS op, l_returnflag, l_quantity,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM ex GROUP BY 2, 3
      |UNION ALL
      |SELECT 'intersect_all', l_returnflag, l_quantity,
      |       CAST(count(*) AS BIGINT)
      |FROM ia GROUP BY 2, 3
      |ORDER BY op, l_returnflag, l_quantity""".stripMargin

  /** Time-interval RANGE frame: trailing 7-day revenue per order
    * priority over the daily series — the calendar-aware frame (ROWS
    * frames count rows and silently span date gaps; the INTERVAL
    * boundary is the correct trailing-week semantics). SQL-expressed
    * on both engines; daily sums round 2 before the frame, the frame
    * sum rounds 2 again. */
  private[graft] def q61TimeRangeFrame(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT o_orderpriority, day, rev,
        |       round(sum(rev) OVER (PARTITION BY o_orderpriority ORDER BY day
        |         RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW), 2)
        |         AS rev_7d
        |FROM (SELECT o_orderpriority, date_trunc('day', o_orderdate) AS day,
        |        round(sum(o_totalprice), 2) AS rev
        |      FROM orders GROUP BY 1, 2)
        |ORDER BY o_orderpriority, day""".stripMargin)
  }

  private[graft] val q61TimeRangeFrameSql: String =
    """SELECT o_orderpriority, day, rev,
      |       round(sum(rev) OVER (PARTITION BY o_orderpriority ORDER BY day
      |         RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW), 2)
      |         AS rev_7d
      |FROM (SELECT o_orderpriority, date_trunc('day', o_orderdate) AS day,
      |        round(sum(o_totalprice), 2) AS rev
      |      FROM orders GROUP BY 1, 2)
      |ORDER BY o_orderpriority, day""".stripMargin

  /** SLIDING-window aggregate through the real micro-batch engine
    * ([[Stream.runSlidingOnce]]): 2-hour windows every 1 hour, so each
    * event feeds two overlapping buckets — the overlap shape the
    * tumbling [[streamWindow]] twin cannot exercise. The oracle
    * replays the bucket fan-out with a k-offset unnest. */
  private[graft] def streamSliding(s: SparkSession, dir: String): DataFrame =
    Stream.runSlidingOnce(s, s"${dir.stripSuffix("/")}/events.parquet",
        window_ = "2 hours", slide = "1 hour")
      .orderBy("window_start", "event_type")

  /** Session windows per user (30-minute inactivity gap) — the built-in
    * `session_window` batch twin of the streaming sessionizer, oracled
    * against a DuckDB gaps-and-islands rewrite. The oracle's
    * new-session rule is `gap >= INTERVAL 30 MINUTE`, matching Spark's
    * half-open [start, last + gap) session exactly (an event at
    * precisely the gap boundary starts a new session). */
  private[graft] def streamSessions(s: SparkSession, dir: String): DataFrame =
    Stream.sessionWindows(t(s, dir, "events"), "30 minutes")
      .select("session_start", "session_end", "user_id", "n_events", "sum_value")
      .orderBy("user_id", "session_start")

  /** The CUSTOM stateful sessionizer ([[Stream.statefulSessionize]] —
    * flatMapGroupsWithState) gated on the same gaps-and-islands oracle
    * as stream_sessions: its gap rule matches `session_window` exactly
    * (split at gap ≥ duration, µs precision), so the two sessionizers
    * are interchangeable and share one oracle. On batch the state
    * function runs once per group and the final open session per user
    * is never emitted, so a far-future sentinel event per user forces
    * every real session closed; the sentinel's own singleton session
    * stays open in state and is additionally filtered by timestamp. */
  private[graft] def streamSessionsStateful(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select("user_id", "ts", "value")
    val sentinels = ev.select(col("user_id")).distinct()
      .withColumn("ts", lit("2100-01-01 00:00:00").cast("timestamp"))
      .withColumn("value", lit(0.0))
    Stream.statefulSessionize(ev.unionByName(sentinels)).toDF()
      .filter(col("startUs") < unix_micros(lit("2100-01-01 00:00:00").cast("timestamp")))
      .select(
        timestamp_micros(col("startUs")).as("session_start"),
        (timestamp_micros(col("endUs")) + expr("INTERVAL 30 MINUTES")).as("session_end"),
        col("userId").as("user_id"),
        col("nEvents").as("n_events"),
        round(col("sumValue"), 4).as("sum_value"))
      .orderBy("user_id", "session_start")
  }

  /** Watermark/late-data semantics, actually executed: the events whose
    * `unix_micros(ts) % 5 = 0` (a portable ~20 % sample) are withheld
    * and replayed as a SECOND micro-batch ([[Stream
    * .lateDataWindowCounts]]). After batch 1 the watermark advances to
    * max(on-time ts) − 1 h, so replayed rows whose hourly window closed
    * at or before it are dropped, and only windows closed by the final
    * watermark are ever emitted (append mode). The DuckDB oracle
    * implements exactly that cutoff rule — a hash match means the
    * engine's late-row drop AND append-mode finalization both behave as
    * specified, on real micro-batches. */
  private[graft] def streamLate(s: SparkSession, dir: String): DataFrame =
    Stream.lateDataWindowCounts(s, t(s, dir, "events"),
        latePred = pmod(unix_micros(col("ts")), lit(5)) === 0)
      .orderBy("window_start")

  /** Stream-static enrichment ([[Stream.runEnrichOnce]]): the events
    * stream joins the static customer dim in-flight (user_id ↔
    * c_custkey), aggregating per nation — batch ≡ stream for this
    * plan, so the batch join SQL is the oracle. */
  private[graft] def streamEnrich(s: SparkSession, dir: String): DataFrame =
    Stream.runEnrichOnce(s, s"${dir.stripSuffix("/")}/events.parquet",
        t(s, dir, "customer").select("c_custkey", "c_nationkey"),
        "user_id", "c_custkey", "c_nationkey")
      .select(col("c_nationkey").cast("long").as("c_nationkey"),
        col("n_events"), col("sum_value"))
      .orderBy("c_nationkey")

  /** Streaming exact dedup ([[Stream.runDedupOnce]]): events streamed
    * through the real micro-batch engine, deduped on (user_id,
    * event_type) with `dropDuplicatesWithinWatermark` (bounded state).
    * WHICH duplicate row is emitted is arrival-dependent, so the gate
    * aggregates the emitted KEY SET — per-event-type distinct-user
    * counts — which is deterministic and equals the batch DISTINCT. */
  private[graft] def streamDedup(s: SparkSession, dir: String): DataFrame =
    Stream.runDedupOnce(s, s"${dir.stripSuffix("/")}/events.parquet",
        Seq("user_id", "event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")

  /** Stream-stream interval join ([[Stream.runStreamJoinOnce]]):
    * clicks joined to same-user purchases within the following 2
    * hours, through the real micro-batch engine with watermark-bounded
    * join state on both sides. Values are raw doubles (per-row, no
    * aggregation — bit-exact cross-engine). */
  private[graft] def streamJoin(s: SparkSession, dir: String): DataFrame =
    Stream.runStreamJoinOnce(s, s"${dir.stripSuffix("/")}/events.parquet",
        col("event_type") === "click", col("event_type") === "purchase")
      .select(col("l_id").as("click_id"), col("r_id").as("purchase_id"),
        col("l_key").as("user_id"), col("r_value").as("purchase_value"))
      .orderBy("click_id", "purchase_id")

  /** LEFT OUTER stream-stream join ([[Stream.runStreamJoinOnce]] with
    * joinType = left_outer): matched (click, purchase) pairs emit as
    * in [[streamJoin]]; a click with NO purchase in its 2-hour window
    * emits null-padded — but only once the final watermark passes its
    * join window (outer results require state eviction), so clicks
    * within `within`+`lateness` of the stream's end stay unflushed.
    * Both effects are deterministic functions of the fixture, replayed
    * by the oracle's watermark-cutoff predicate. */
  private[graft] def streamJoinOuter(s: SparkSession, dir: String): DataFrame =
    Stream.runStreamJoinOnce(s, s"${dir.stripSuffix("/")}/events.parquet",
        col("event_type") === "click", col("event_type") === "purchase",
        queryName = "graft_stream_join_outer", joinType = "left_outer")
      .select(col("l_id").as("click_id"), col("r_id").as("purchase_id"),
        col("l_key").as("user_id"), col("r_value").as("purchase_value"))
      .orderBy("click_id", "purchase_id")

  /** Streaming upsert via foreachBatch ([[Stream.foreachBatchUpsert]]):
    * latest event per user merged into a managed state table across
    * two real micro-batches (event_id % 3 == 0 arrives in batch 2),
    * update counts accumulated through the merge. The final table is
    * split-invariant, so a batch argmax oracle gates it exactly. */
  /** Multi-batch streaming dedup ([[Stream.runDedupMultiBatch]]):
    * batch 1 = each user's LATEST event before Jan 16, batch 2 = each
    * user's EARLIEST event from [Jan 16, …) — plus users ≡ 3 (mod 10),
    * whose whole history lands in batch 2 so their early-January
    * representative arrives BELOW the advanced watermark (late-drop
    * coverage). Exercises every dropDuplicatesWithinWatermark state
    * outcome: first-sight emit, live-state drop, watermark expiry →
    * re-emit, and late-arrival drop; the oracle replays the TTL rule
    * relationally. */
  private[graft] def streamDedupMultibatch(s: SparkSession, dir: String): DataFrame =
    Stream.runDedupMultiBatch(s, t(s, dir, "events"),
        batch2Pred = col("ts") >= lit("2024-01-16 00:00:00").cast("timestamp") ||
          pmod(col("user_id"), lit(10)) === 3,
        lateness = "1 hour")
      .select(col("user_id"), col("ts"))
      .orderBy("user_id", "ts")

  private[graft] def streamUpsert(s: SparkSession, dir: String): DataFrame =
    Stream.foreachBatchUpsert(s, t(s, dir, "events"),
        batch2Pred = pmod(col("event_id"), lit(3)) === 0)
      .select(col("user_id"), timestamp_micros(col("us")).as("last_ts"),
        col("event_id").as("last_event_id"), col("value").as("last_value"),
        col("n_updates"))
      .orderBy("user_id")

  /** Streaming upsert with the MANIFEST LOG as the state substrate:
    * each micro-batch is one MERGE commit ([[graft.io.ManifestDml
    * .mergeInto]]), change-feed-visible, split-invariant vs the batch
    * argmax (same oracle family as stream_upsert — the log keeps
    * latest-per-key, no bucket bookkeeping columns). */
  private[graft] def streamUpsertManifest(s: SparkSession, dir: String): DataFrame =
    Stream.foreachBatchUpsertManifest(s, t(s, dir, "events"),
        batch2Pred = pmod(col("event_id"), lit(3)) === 0,
        root = manifestRoot(s, "graft_upsert__log"))
      .select(col("user_id"), timestamp_micros(col("us")).as("last_ts"),
        col("event_id").as("last_event_id"), col("value").as("last_value"))
      .orderBy("user_id")

  /** Local clustering coefficient
    * ([[graft.ext.Graph.clusteringCoefficient]]) over the part
    * co-occurrence graph — triangles per neighbor pair for every
    * node; the community-density refinement of [[graphTriangles]].
    * The coefficient is a 2-op IEEE chain on exact integers, so no
    * rounding is needed anywhere. */
  private[graft] def graphClustcoef(s: SparkSession, dir: String): DataFrame =
    graft.ext.Graph.clusteringCoefficient(coOccurrenceEdges(s, dir))
      .orderBy("id")

  /** Count–min sketch ([[graft.ext.Sketch]]): build the 4×512 cell
    * matrix over event user_ids in one scan, then point-estimate the
    * 15 smallest user ids against their exact counts — the
    * overcount column IS the sketch's collision error, deterministic
    * (md5-derived hashes) and therefore hash-oracled, not
    * tolerance-gated. The sketch is parameter-sized (2048 cells), so
    * the estimate join broadcasts it. */
  private[graft] def sketchCms(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cells = graft.ext.Sketch.countMinBuild(ev, "user_id")
    val probes = ev.filter(col("user_id") < 15).select("user_id").distinct()
    val est = graft.ext.Sketch.countMinEstimate(cells, probes, "user_id")
    val exact = ev.filter(col("user_id") < 15)
      .groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
    est.join(exact, Seq("user_id"))
      .select(col("user_id"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"))
      .orderBy("user_id")
  }

  /** Bloom-filter membership ([[graft.ext.Sketch]]): a 4-hash/4096-bit
    * filter over the custkeys that placed an URGENT-priority order,
    * probed with EVERY customer — the "skip the join for keys that
    * can't match" gate a 100 TB pipeline puts in front of an
    * expensive fact join (customers without urgent orders are the
    * negative population; on this fixture every customer has SOME
    * order, so the unfiltered set would leave no negatives to
    * measure). One summary row: probes, true members, Bloom
    * positives, deterministic false positives, and the realized fp
    * rate. */
  private[graft] def sketchBloom(s: SparkSession, dir: String): DataFrame = {
    val seen = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").cast("long").as("key")).distinct()
    val bits = graft.ext.Sketch.bloomBuild(seen, "key")
    val probes = t(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("key")).distinct()
    graft.ext.Sketch.bloomContains(bits, probes, "key")
      .join(seen.select(col("key"), lit(true).as("actual")), Seq("key"), "left")
      .select(col("key"), col("bloom_member"),
        coalesce(col("actual"), lit(false)).as("actual_member"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("actual_member"), 1L).otherwise(0L)).as("n_actual"),
        sum(when(col("bloom_member"), 1L).otherwise(0L)).as("n_bloom"),
        sum(when(col("bloom_member") && !col("actual_member"), 1L)
          .otherwise(0L)).as("n_false_pos"))
      .withColumn("fp_rate",
        col("n_false_pos") / (col("n_probes") - col("n_actual")))
  }

  /** Welch's two-sample t-test (click vs purchase event values) from
    * sufficient statistics: ONE conditional aggregation over the
    * corpus, then the closed form on the driver-free single row. The
    * aggregate mean/variance inputs round to 6 dp BEFORE the closed
    * form (repo float rule: aggregate sums carry last-ulp engine
    * noise), so both engines feed identical IEEE inputs into the
    * t / Welch–Satterthwaite chain; outputs round to 6 dp. */
  /** Mann–Whitney U rank-sum test (click vs purchase values, normal
    * approximation with tie correction) — the nonparametric sibling of
    * stats_ttest for non-normal metrics.
    *
    * Scale shape: ranking continuous data needs a global order, so the
    * ranks come from [[graft.core.GlobalOrder]] over the distinct values
    * bucketed by floor(v). The oracle deliberately uses the
    * single-window global-rank formulation instead (independent).
    *
    * Determinism: counts and tie terms are exact ints; average ranks
    * are .5-granular exacts; the rank-sum rounds to 6 dp; every later
    * step (U, μ, σ, z) is the same short IEEE chain over exact ints on
    * both engines, with z rounded to 6. */
  private[graft] def statsMannwhitney(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type").as("grp"), col("value").cast("double").as("v"))
    val vc = ev.groupBy("v").agg(
        count(lit(1)).as("cnt"),
        sum(when(col("grp") === "click", 1L).otherwise(0L)).as("cntA"))
    val ranked = GlobalOrder.exclusivePrefix(vc, "v",
        floor(col("v")).cast("long"), col("cnt") -> "cumB")
      .withColumn("avgRank",
        col("cumB").cast("double") + (col("cnt") + 1L).cast("double") / 2.0)
    val agg = ranked.agg(
      sum("cntA").as("nA"),
      (sum("cnt") - sum("cntA")).as("nB"),
      round(sum(col("cntA").cast("double") * col("avgRank")), 6).as("rA"),
      // tie term Σ(c³−c) in DECIMAL: a hot value's count cubes past
      // int64 at extreme scale (the stats_spearman overflow class)
      sum((col("cnt") * col("cnt")).cast("decimal(38,0)") * col("cnt") -
        col("cnt")).as("tsum"))
    agg.select(
        col("nA").as("n_a"), col("nB").as("n_b"),
        round(col("rA") - (col("nA") * (col("nA") + 1L)) / lit(2), 6).as("u_a"),
        round(
          (col("rA") - (col("nA") * (col("nA") + 1L)) / lit(2) -
            col("nA").cast("double") * col("nB") / 2.0) /
            sqrt(col("nA").cast("double") * col("nB") / 12.0 *
              ((col("nA") + col("nB") + 1L).cast("double") -
                col("tsum").cast("double") /
                  ((col("nA") + col("nB")).cast("double") *
                    (col("nA") + col("nB") - 1L)))), 6).as("z"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic (click vs purchase):
    * `D = max_v |F_A(v) − F_B(v)|` over observed values, with the
    * smallest argmax value reported. Cumulative counts come from
    * [[graft.core.GlobalOrder]] over the distinct values bucketed by
    * floor(v); the oracle is the INDEPENDENT single-window ECDF
    * formulation. Every D value is one subtraction of two exact-int
    * divisions — bit-identical, so the statistic needs NO rounding at
    * all. */
  private[graft] def statsKs(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type").as("grp"), col("value").cast("double").as("v"))
    val vc = ev.groupBy("v").agg(
        count(lit(1)).as("cnt"),
        sum(when(col("grp") === "click", 1L).otherwise(0L)).as("cntA"))
    val totals = ev.agg(
      sum(when(col("grp") === "click", 1L).otherwise(0L)).as("nA"),
      sum(when(col("grp") === "purchase", 1L).otherwise(0L)).as("nB"))
    val cum = GlobalOrder.exclusivePrefix(vc, "v", floor(col("v")).cast("long"),
        col("cnt") -> "pre", col("cntA") -> "preA")
      .withColumn("cum", col("pre") + col("cnt"))
      .withColumn("cumA", col("preA") + col("cntA"))
      .crossJoin(broadcast(totals))
      .withColumn("d", abs(
        col("cumA").cast("double") / col("nA") -
          (col("cum") - col("cumA")).cast("double") / col("nB")))
    cum.agg(
        min(struct((-col("d")).as("nd"), col("v").as("loc"),
          col("nA").as("na"), col("nB").as("nb"))).as("b"))
      .select(col("b.na").as("n_a"), col("b.nb").as("n_b"),
        (-col("b.nd")).as("d_stat"), col("b.loc").as("d_loc"))
  }

  private[graft] val statsKsSql: String =
    """WITH ev AS (
      |  SELECT event_type AS grp, CAST(value AS DOUBLE) AS v FROM events
      |  WHERE event_type IN ('click', 'purchase')),
      |vc AS (SELECT v, count(*) AS cnt,
      |         sum(CASE WHEN grp = 'click' THEN 1 ELSE 0 END) AS cntA
      |       FROM ev GROUP BY v),
      |c AS (SELECT v,
      |        CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
      |        CAST(sum(cntA) OVER (ORDER BY v) AS BIGINT) AS cumA
      |      FROM vc),
      |t AS (SELECT
      |        CAST(sum(CASE WHEN grp = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS nA,
      |        CAST(sum(CASE WHEN grp = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS nB
      |      FROM ev),
      |d AS (SELECT v, nA, nB,
      |        abs(CAST(cumA AS DOUBLE) / nA -
      |            CAST(cum - cumA AS DOUBLE) / nB) AS d
      |      FROM c CROSS JOIN t)
      |SELECT nA AS n_a, nB AS n_b, d AS d_stat, v AS d_loc
      |FROM d ORDER BY d DESC, v LIMIT 1""".stripMargin

  private[graft] val statsMannwhitneySql: String =
    """WITH ev AS (
      |  SELECT event_type AS grp, CAST(value AS DOUBLE) AS v FROM events
      |  WHERE event_type IN ('click', 'purchase')),
      |r AS (
      |  SELECT grp,
      |         rank() OVER (ORDER BY v)
      |           + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS ar
      |  FROM ev),
      |t AS (SELECT sum(CAST(c AS HUGEINT) * c * c - c) AS tsum
      |      FROM (SELECT count(*) AS c FROM ev GROUP BY v)),
      |a AS (
      |  SELECT CAST(sum(CASE WHEN grp = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS nA,
      |         CAST(sum(CASE WHEN grp = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS nB,
      |         round(sum(CASE WHEN grp = 'click' THEN ar ELSE 0 END), 6) AS rA
      |  FROM r)
      |SELECT nA AS n_a, nB AS n_b,
      |       round(rA - (nA * (nA + 1)) / 2, 6) AS u_a,
      |       round((rA - (nA * (nA + 1)) / 2 - CAST(nA AS DOUBLE) * nB / 2.0) /
      |             sqrt(CAST(nA AS DOUBLE) * nB / 12.0 *
      |               (CAST(nA + nB + 1 AS DOUBLE) -
      |                CAST(tsum AS DOUBLE) /
      |                  (CAST(nA + nB AS DOUBLE) * (nA + nB - 1)))), 6) AS z
      |FROM a CROSS JOIN t""".stripMargin

  /** Spearman rank correlation of l_quantity vs l_extendedprice.
    * Ranks are tie-averaged, carried as DOUBLED ranks (2·avgRank =
    * 2·#less + cnt + 1) so every rank is an exact int64 and all five
    * sufficient sums stay exact integers; the correlation itself is
    * then ONE explicit IEEE chain over those ints (cast-to-double
    * first — n·Σxy overflows int64 at scale but the cast is the same
    * deterministic op on both engines). Ranking is distributed the
    * statsMannwhitney way: quantity has a 50-value domain (broadcast
    * rank map); price ranks come from [[graft.core.GlobalOrder]] over
    * the distinct prices bucketed by floor(y/1000). The oracle
    * deliberately uses the single-window global-rank formulation —
    * independent of the bucketed one. */
  private[graft] def statsSpearman(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    // x: 50 distinct values — the rank map is attribute-domain-bounded
    val xvc = li.groupBy("x").agg(count(lit(1)).as("cnt"))
    val wX = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    val xr = xvc.withColumn("r2x",
      lit(2L) * coalesce(sum("cnt").over(wX), lit(0L)) + col("cnt") + 1L)
    // y: near-unique — bucketed GlobalOrder ranking, no corpus-wide sort
    val yvc = li.groupBy("y").agg(count(lit(1)).as("cnt"))
    val yr = GlobalOrder.exclusivePrefix(yvc, "y",
        floor(col("y") / 1000.0).cast("long"), col("cnt") -> "lessY")
      .withColumn("r2y", lit(2L) * col("lessY") + col("cnt") + 1L)
    val joined = li
      .join(broadcast(xr.select("x", "r2x")), Seq("x"))
      .join(yr.select("y", "r2y"), Seq("y"))
    // Sufficient sums in DECIMAL(38,0): Σ r2y² ≈ 8.6e20 at sf1 — past
    // int64, where Spark's long sum would WRAP silently (caught by the
    // round-10 sf1 correctness run; the DuckDB oracle errored on the
    // same overflow). Decimal sums stay exact integers; the one cast
    // to double below is the same IEEE op on both engines.
    val a = joined.agg(
      count(lit(1)).as("n"),
      sum(col("r2x").cast("decimal(38,0)")).as("sx"),
      sum(col("r2y").cast("decimal(38,0)")).as("sy"),
      sum((col("r2x") * col("r2x")).cast("decimal(38,0)")).as("sxx"),
      sum((col("r2y") * col("r2y")).cast("decimal(38,0)")).as("syy"),
      sum((col("r2x") * col("r2y")).cast("decimal(38,0)")).as("sxy"))
    a.select(col("n"),
      round((col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
        (sqrt(col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
          sqrt(col("n").cast("double") * col("syy").cast("double") -
            col("sy").cast("double") * col("sy").cast("double"))), 6)
        .as("spearman_rho"))
  }

  private[graft] val statsSpearmanSql: String =
    """WITH li AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
      |r AS (SELECT
      |        CAST(2 * rank() OVER (ORDER BY x)
      |             + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS r2x,
      |        CAST(2 * rank() OVER (ORDER BY y)
      |             + count(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS r2y
      |      FROM li),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        sum(r2x) AS sx, sum(r2y) AS sy,
      |        sum(r2x * r2x) AS sxx,
      |        sum(r2y * r2y) AS syy,
      |        sum(r2x * r2y) AS sxy
      |      FROM r)
      |SELECT n,
      |       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |             (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |              sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |         AS spearman_rho
      |FROM a""".stripMargin

  /** One-way ANOVA F-test: does mean l_quantity differ across the
    * three l_returnflag groups? l_quantity is integer-valued, so the
    * per-group sufficient stats (n, Σq, Σq²) are EXACT int64s from one
    * map-side-combinable aggregation; the groups are then PIVOTED to
    * columns of a single row so SSB/SSW/F are one explicit scalar
    * chain with a forced association order — no order-dependent
    * floating sum anywhere (the round-6 chain discipline from
    * stats_corr, with the 3-row fold made explicit instead). Scale
    * shape: one keyed agg + a 3-row pivot; nothing else. */
  private[graft] def statsAnova(s: SparkSession, dir: String): DataFrame = {
    def g(flag: String, e: Column): Column =
      sum(when(col("l_returnflag") === flag, e).otherwise(lit(0L)))
    val q = col("l_quantity").cast("long")
    val a = t(s, dir, "lineitem").agg(
      g("A", lit(1L)).as("na"), g("N", lit(1L)).as("nn"),
      g("R", lit(1L)).as("nr"),
      g("A", q).as("sa"), g("N", q).as("sn"), g("R", q).as("sr"),
      g("A", q * q).as("qa"), g("N", q * q).as("qn"), g("R", q * q).as("qr"))
    val tA = (col("sa") * col("sa")).cast("double") / col("na").cast("double")
    val tN = (col("sn") * col("sn")).cast("double") / col("nn").cast("double")
    val tR = (col("sr") * col("sr")).cast("double") / col("nr").cast("double")
    val n = col("na") + col("nn") + col("nr")
    val sTot = col("sa") + col("sn") + col("sr")
    val qTot = col("qa") + col("qn") + col("qr")
    // explicit left-assoc chain: ((tA + tN) + tR) — deterministic IEEE
    val between = tA + tN + tR -
      (sTot * sTot).cast("double") / n.cast("double")
    val within = qTot.cast("double") - (tA + tN + tR)
    a.select(n.as("n"),
      round(between, 6).as("ss_between"), round(within, 6).as("ss_within"),
      round((between / 2.0) / (within / (n - 3L).cast("double")), 6)
        .as("f_stat"))
  }

  private[graft] val statsAnovaSql: String =
    """WITH a AS (SELECT
      |    CAST(sum(CASE WHEN l_returnflag='A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN l_returnflag='N' THEN 1 ELSE 0 END) AS BIGINT) AS nn,
      |    CAST(sum(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END) AS BIGINT) AS nr,
      |    CAST(sum(CASE WHEN l_returnflag='A' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sa,
      |    CAST(sum(CASE WHEN l_returnflag='N' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sn,
      |    CAST(sum(CASE WHEN l_returnflag='R' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sr,
      |    CAST(sum(CASE WHEN l_returnflag='A' THEN CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qa,
      |    CAST(sum(CASE WHEN l_returnflag='N' THEN CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qn,
      |    CAST(sum(CASE WHEN l_returnflag='R' THEN CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qr
      |  FROM lineitem),
      |b AS (SELECT na + nn + nr AS n,
      |        CAST(sa*sa AS DOUBLE)/CAST(na AS DOUBLE)
      |          + CAST(sn*sn AS DOUBLE)/CAST(nn AS DOUBLE)
      |          + CAST(sr*sr AS DOUBLE)/CAST(nr AS DOUBLE) AS tsum,
      |        sa + sn + sr AS s, qa + qn + qr AS q
      |      FROM a)
      |SELECT n,
      |       round(tsum - CAST(s*s AS DOUBLE)/CAST(n AS DOUBLE), 6) AS ss_between,
      |       round(CAST(q AS DOUBLE) - tsum, 6) AS ss_within,
      |       round(((tsum - CAST(s*s AS DOUBLE)/CAST(n AS DOUBLE)) / 2.0) /
      |             ((CAST(q AS DOUBLE) - tsum) / CAST(n - 3 AS DOUBLE)), 6)
      |         AS f_stat
      |FROM b""".stripMargin

  /** KMV (k-minimum-values) distinct sketch with set algebra — the
    * mergeable distinct-count summary (Beyer et al. 2007) behind
    * cross-partition COUNT DISTINCT and set-overlap estimation at
    * 100 TB: each side keeps only the K smallest 60-bit md5 hash
    * values of its key set (a bounded heap — never a global sort);
    * est = (K−1)/u_K. Sketches UNION by merging heaps; the
    * intersection estimate is Jaccard-over-the-union-sketch
    * (|union-sketch ∩ both sides| / K) × est_union. Sets here:
    * partkeys shipped before vs since 1996. Everything md5-derived and
    * deterministic, so the DuckDB oracle — an ORDER BY u LIMIT K
    * replay, sort-based where the engine side is heap-based — gates
    * the ESTIMATES exactly, and the exact distinct counts ride along
    * to quantify sketch error (the rank_ndcg pattern). */
  private[graft] def sketchKmv(s: SparkSession, dir: String): DataFrame = {
    val K = 256
    val li = t(s, dir, "lineitem")
    val u = conv(substring(md5(concat(lit("kmv:"),
      col("pk").cast("string"))), 1, 15), 16, 10).cast("long")
      .cast("double") / 1152921504606846976.0
    def keys(pred: Column): DataFrame =
      li.filter(pred).select(col("l_partkey").as("pk")).distinct()
        .withColumn("u", u)
    val cut = lit("1996-01-01").cast("timestamp")
    val a = keys(col("l_shipdate") < cut)
    val b = keys(col("l_shipdate") >= cut)
    val un = a.union(b).distinct()
    // bounded-heap K smallest per set (score = −u), plus exact counts
    def sketch(df: DataFrame, tag: String): DataFrame =
      df.agg(graft.functions.fx.topKByScore(-col("u"), col("pk"), K).as("top"),
          count(lit(1)).as("exact"))
        .select(lit(tag).as("set"), col("exact"),
          size(col("top")).as("kk"),
          (-array_min(col("top.score"))).as("uk"),
          col("top.id").as("ids"))
    val sk = sketch(a, "a").unionAll(sketch(b, "b")).unionAll(sketch(un, "u"))
      .withColumn("est",
        when(col("kk") < K, col("kk").cast("double"))
          .otherwise(round(lit((K - 1).toDouble) / col("uk"), 6)))
    // intersection: members of the union sketch present in BOTH sides
    val uIds = sk.filter(col("set") === "u")
      .select(explode(col("ids")).as("pk"), col("est").as("est_u"),
        col("kk").as("kk_u"))
    val inBoth = uIds
      .join(a.select("pk"), Seq("pk"), "left_semi")
      .join(b.select("pk"), Seq("pk"), "left_semi")
    val inter = inBoth.groupBy("est_u", "kk_u").agg(count(lit(1)).as("c"))
    val exactI = a.select("pk").join(b.select("pk"), Seq("pk"), "left_semi")
      .agg(count(lit(1)).as("exact_intersect"))
    val wide = sk.groupBy().pivot("set", Seq("a", "b", "u"))
      .agg(first("est").as("est"), first("exact").as("exact"))
    wide.crossJoin(inter).crossJoin(exactI)
      .select(
        col("a_est").as("est_a"), col("a_exact").as("exact_a"),
        col("b_est").as("est_b"), col("b_exact").as("exact_b"),
        col("u_est").as("est_union"), col("u_exact").as("exact_union"),
        round(col("c").cast("double") / col("kk_u").cast("double"), 6)
          .as("jaccard_est"),
        round((col("c").cast("double") / col("kk_u").cast("double")) *
          col("u_est"), 6).as("est_intersect"),
        col("exact_intersect"))
  }

  private[graft] val sketchKmvSql: String =
    """WITH ka AS (SELECT DISTINCT l_partkey AS pk FROM lineitem
      |            WHERE l_shipdate < TIMESTAMP '1996-01-01'),
      |kb AS (SELECT DISTINCT l_partkey AS pk FROM lineitem
      |       WHERE l_shipdate >= TIMESTAMP '1996-01-01'),
      |ku AS (SELECT pk FROM ka UNION SELECT pk FROM kb),
      |ua AS (SELECT pk, ('0x' || substr(md5('kmv:' || CAST(pk AS VARCHAR)), 1, 15))::BIGINT
      |              / 1152921504606846976.0 AS u FROM ka),
      |ub AS (SELECT pk, ('0x' || substr(md5('kmv:' || CAST(pk AS VARCHAR)), 1, 15))::BIGINT
      |              / 1152921504606846976.0 AS u FROM kb),
      |uu AS (SELECT pk, ('0x' || substr(md5('kmv:' || CAST(pk AS VARCHAR)), 1, 15))::BIGINT
      |              / 1152921504606846976.0 AS u FROM ku),
      |sa AS (SELECT * FROM ua ORDER BY u LIMIT 256),
      |sb AS (SELECT * FROM ub ORDER BY u LIMIT 256),
      |su AS (SELECT * FROM uu ORDER BY u LIMIT 256),
      |ea AS (SELECT CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
      |                   ELSE round(255.0 / max(u), 6) END AS est_a FROM sa),
      |eb AS (SELECT CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
      |                   ELSE round(255.0 / max(u), 6) END AS est_b FROM sb),
      |eu AS (SELECT CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
      |                   ELSE round(255.0 / max(u), 6) END AS est_u,
      |              CAST(count(*) AS BIGINT) AS kk_u FROM su),
      |xc AS (SELECT CAST(count(*) AS BIGINT) AS c FROM su
      |       WHERE pk IN (SELECT pk FROM ka) AND pk IN (SELECT pk FROM kb)),
      |ex AS (SELECT CAST((SELECT count(*) FROM ka) AS BIGINT) AS exact_a,
      |              CAST((SELECT count(*) FROM kb) AS BIGINT) AS exact_b,
      |              CAST((SELECT count(*) FROM ku) AS BIGINT) AS exact_union,
      |              CAST((SELECT count(*) FROM ka
      |                    WHERE pk IN (SELECT pk FROM kb)) AS BIGINT)
      |                AS exact_intersect)
      |SELECT est_a, exact_a, est_b, exact_b, est_u AS est_union, exact_union,
      |       round(CAST(c AS DOUBLE) / CAST(kk_u AS DOUBLE), 6) AS jaccard_est,
      |       round((CAST(c AS DOUBLE) / CAST(kk_u AS DOUBLE)) * est_u, 6)
      |         AS est_intersect,
      |       exact_intersect
      |FROM ea, eb, eu, xc, ex""".stripMargin

  /** k-anonymity / l-diversity audit over the (nation, segment)
    * quasi-identifier — the privacy gate a training-data pipeline runs
    * before releasing user-derived tables: k = the smallest QI group
    * (any group below threshold re-identifies its members), l = the
    * least-diverse group's distinct sensitive-value count (here the
    * account-balance band). One keyed aggregation to the QI-group
    * relation (bounded by the QI domain, 125 groups here), then a
    * single-row fold — all exact integers. */
  private[graft] def dqKanon(s: SparkSession, dir: String): DataFrame = {
    val g = t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("band"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"), countDistinct("band").as("l"))
    g.agg(
      min("n").as("k_anonymity"), count(lit(1)).as("qi_groups"),
      sum(when(col("n") < 5, 1L).otherwise(0L)).as("groups_below_5"),
      sum(when(col("n") < 5, col("n")).otherwise(0L)).as("rows_below_5"),
      min("l").as("l_diversity"),
      sum(when(col("l") < 3, 1L).otherwise(0L)).as("groups_l_below_3"))
  }

  private[graft] val dqKanonSql: String =
    """WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n,
      |             count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS l
      |           FROM customer GROUP BY 1, 2)
      |SELECT CAST(min(n) AS BIGINT) AS k_anonymity,
      |       CAST(count(*) AS BIGINT) AS qi_groups,
      |       CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_5,
      |       CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_below_5,
      |       CAST(min(l) AS BIGINT) AS l_diversity,
      |       CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS groups_l_below_3
      |FROM g""".stripMargin

  private[graft] def statsTtest(s: SparkSession, dir: String): DataFrame = {
    val clickV = when(col("event_type") === "click", col("value"))
    val purchV = when(col("event_type") === "purchase", col("value"))
    val a = t(s, dir, "events").agg(
      count(clickV).as("n_click"),
      round(avg(clickV), 6).as("mean_click"),
      round(var_samp(clickV), 6).as("v1"),
      count(purchV).as("n_purchase"),
      round(avg(purchV), 6).as("mean_purchase"),
      round(var_samp(purchV), 6).as("v2"))
    a.withColumn("se1", col("v1") / col("n_click"))
      .withColumn("se2", col("v2") / col("n_purchase"))
      .withColumn("se", col("se1") + col("se2"))
      .select(col("n_click"), col("n_purchase"),
        col("mean_click"), col("mean_purchase"),
        round((col("mean_click") - col("mean_purchase")) / sqrt(col("se")), 6)
          .as("t_stat"),
        round((col("se") * col("se")) /
          (col("se1") * col("se1") / (col("n_click") - 1) +
            col("se2") * col("se2") / (col("n_purchase") - 1)), 6)
          .as("welch_df"))
  }

  /** Chi-squared independence test of customer nation × market
    * segment: observed cell counts, expected from the marginals, and
    * `Σ (o−e)²/e` — all from keyed aggregations over the
    * domain-bounded contingency table (≤ nations × segments cells;
    * the corpus is touched exactly once). Expected values are exact
    * integer products divided once (bit-stable); only the final
    * cell-sum rounds (6 dp). */
  private[graft] def statsChisq(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "customer")
      .groupBy(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("o"))
    val rowT = obs.groupBy("nation").agg(sum("o").as("rt"))
    val colT = obs.groupBy("seg").agg(sum("o").as("ct"))
    val tot = obs.agg(sum("o").as("g"),
      countDistinct("nation").as("nr"), countDistinct("seg").as("nc"))
    obs.join(rowT, "nation").join(colT, "seg").crossJoin(broadcast(tot))
      .withColumn("e", (col("rt") * col("ct")) / col("g"))
      .withColumn("cell",
        (col("o") - col("e")) * (col("o") - col("e")) / col("e"))
      .agg(first(col("g")).as("n_rows"), count(lit(1)).as("n_cells"),
        first((col("nr") - 1) * (col("nc") - 1)).as("df"),
        round(sum("cell"), 6).as("chi2"))
  }

  /** ANN quality scorecard — NDCG@10 and recall@10 of the SRP-LSH
    * k-NN join ([[Similarity.knnJoinLsh]], the dedup_emblsh/knn_join
    * parameterization) against the exact brute-force ranking, per
    * query vector. Graded relevance is derived from the exact rank
    * (rel = 11 − rank), so the whole metric is deterministic — the
    * oracle replays BOTH rankings and the DCG arithmetic, making
    * retrieval quality itself a hash-gated regression test rather
    * than a tolerance band. DCG sums round at 6 dp; the final
    * dcg/idcg is one IEEE division on rounded inputs. */
  private[graft] def rankNdcg(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val ann = Similarity.knnJoinLsh(emb, 10, nbits = 384, bandBits = 8,
        maxBucket = 64)
      .filter(col("query_id") < 8)
    val exact = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), 10)
    val annRel = ann.join(
        exact.select(col("query_id"), col("nbr_id"), col("rank").as("erank")),
        Seq("query_id", "nbr_id"), "left")
      .withColumn("rel", coalesce(lit(11) - col("erank"), lit(0)))
      .withColumn("g", col("rel") / log2(col("rank") + 1))
    val perq = annRel.groupBy("query_id").agg(
      round(sum("g"), 6).as("dcg"),
      sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_hit"))
    val ideal = exact.groupBy("query_id").agg(
      round(sum((lit(11) - col("rank")) / log2(col("rank") + 1)), 6).as("idcg"))
    perq.join(ideal, Seq("query_id"))
      .select(col("query_id"), col("n_hit"),
        (col("n_hit") / lit(10.0)).as("recall"),
        round(col("dcg") / col("idcg"), 6).as("ndcg"))
      .orderBy("query_id")
  }

  /** Feature-engineering pass over a lineitem sample: z-score
    * standardization, min-max scaling, equi-width bucketization (10
    * bins), and one-hot return-flag indicators — the prep step
    * between raw facts and a trainer. ONE tiny stats row (rounded at
    * 6 dp so both engines scale with identical constants) broadcast
    * onto a map-side projection; no second corpus pass, no window. */
  private[graft] def featTransform(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_extendedprice").cast("double").as("price"),
        col("l_returnflag").as("rf"))
    val st = li.agg(
      round(avg("price"), 6).as("mu"), round(stddev_samp("price"), 6).as("sigma"),
      min("price").as("lo"), max("price").as("hi"))
    li.crossJoin(broadcast(st))
      .select(col("l_orderkey"), col("l_linenumber"),
        ((col("price") - col("mu")) / col("sigma")).as("price_z"),
        ((col("price") - col("lo")) / (col("hi") - col("lo"))).as("price_minmax"),
        least(greatest(floor((col("price") - col("lo")) /
          ((col("hi") - col("lo")) / 10.0)), lit(0L)), lit(9L)).as("price_bucket"),
        when(col("rf") === "R", 1L).otherwise(0L).as("rf_r"),
        when(col("rf") === "A", 1L).otherwise(0L).as("rf_a"),
        when(col("rf") === "N", 1L).otherwise(0L).as("rf_n"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Interval merge (gaps-and-islands over genuine variable-length
    * intervals): each lineitem occupies [shipdate, shipdate +
    * quantity days]; overlapping or touching intervals per supplier
    * coalesce into islands (new island iff start strictly exceeds
    * the running max end over all earlier intervals). The windows
    * are keyed by supplier and ordered by the full (start, end,
    * orderkey, linenumber) tie chain so both engines see identical
    * prefix sets — prefix max/sum are set-functions, so the replay
    * is exact. */
  private[graft] def intervalMerge(s: SparkSession, dir: String): DataFrame = {
    val iv = t(s, dir, "lineitem")
      .select(col("l_suppkey").as("supp"),
        to_date(col("l_shipdate")).as("start"),
        date_add(to_date(col("l_shipdate")), col("l_quantity").cast("int")).as("end"),
        col("l_orderkey").as("ok"), col("l_linenumber").cast("long").as("ln"))
    val ord = Window.partitionBy("supp").orderBy("start", "end", "ok", "ln")
    val prevMax = max("end").over(ord.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = iv.withColumn("is_new",
      when(prevMax.isNull || col("start") > prevMax, 1L).otherwise(0L))
    val islands = flagged.withColumn("island",
      sum("is_new").over(ord.rowsBetween(Window.unboundedPreceding, 0)))
    islands.groupBy("supp", "island")
      .agg(count(lit(1)).as("n_items"),
        min("start").cast("timestamp").as("span_start"),
        max("end").cast("timestamp").as("span_end"))
      .orderBy("supp", "island")
  }

  /** 7-day rolling median of daily order revenue — the robust
    * sibling of the rolling mean (q47's family). The frame is
    * emitted only when FULL (7 rows, odd), so the median is the
    * exact middle element on both engines — no interpolation rule to
    * synchronize; daily revenues round to 2 dp first (aggregate-sum
    * rule). The window runs over the DAY table — bounded by the date
    * domain, the deliberate userGrowth class of global window,
    * never the order corpus. */
  private[graft] def tsRollingMedian(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(round(sum("o_totalprice"), 2).as("rev"))
    val w = Window.orderBy("day")
    val full = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("med7",
        expr("percentile(rev, 0.5)").over(w.rowsBetween(-6, 0)))
    full.filter(col("rn") >= 7)
      .select(col("day").cast("timestamp").as("day"), col("rev"), col("med7"))
      .orderBy("day")
  }

  /** One-sided CUSUM shift detection per event type: cumulative sum
    * of (daily total − series mean) minus its running minimum — the
    * classic S_i − min_{j≤i} S_j reformulation that turns the CUSUM
    * recursion into two keyed windows (cumsum + prefix min), both
    * shuffle-keyed by series, never global. Windowed sums round at
    * 4 dp (segment-tree vs running-sum association differs in the
    * last ulp); the prefix min and subtraction then run on identical
    * inputs. */
  private[graft] def tsCusum(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(sum("value"), 4).as("x"))
    val m = daily.groupBy("event_type").agg(round(avg("x"), 6).as("mu"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val cum = daily.join(m, "event_type")
      .withColumn("dev", col("x") - col("mu"))
      .withColumn("s",
        round(sum("dev").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4))
    cum.withColumn("cusum",
        round(col("s") - min("s").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4))
      .select(col("event_type"), col("day").cast("timestamp").as("day"),
        col("x"), col("cusum"), (col("cusum") > 50.0).as("is_shift"))
      .orderBy("event_type", "day")
  }

  /** Zipf's-law fit of the corpus term-frequency curve: natural-log
    * rank vs log frequency through the closed-form OLS slope — the
    * one-number health check that a scraped corpus has a natural
    * vocabulary (slope ≈ −1) rather than boilerplate (flat) or spam
    * (cliff). The top-1000 terms come from [[graft.functions.fx
    * .topKByScore]] — the bounded-heap aggregate (map-side combinable,
    * no global sort of ANY relation, vocabulary included). Ranks are
    * positions in the heap output; the fit depends on a term only
    * through its (rank, n) pair, and equal-n terms swap ranks without
    * changing the multiset, so heap tie-breaking cannot perturb the
    * statistic. Log terms are per-row unary ops on exact ints; the
    * OLS sums round at 6 dp and the rounded slope feeds the intercept
    * (statsRegression staging). */
  private[graft] def textZipf(s: SparkSession, dir: String): DataFrame = {
    val tf = t(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
    val ranked = tf
      .agg(graft.functions.fx.topKByScore(col("n").cast("double"),
        xxhash64(col("term")), 1000).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "p")))
      .select(log(col("pos") + lit(1.0)).as("x"), log(col("p.score")).as("y"))
    ranked.agg(
        count(lit(1)).as("n_terms"),
        round(sum("x"), 6).as("sx"), round(sum("y"), 6).as("sy"),
        round(sum(col("x") * col("x")), 6).as("sxx"),
        round(sum(col("x") * col("y")), 6).as("sxy"))
      .withColumn("slope",
        round((col("n_terms") * col("sxy") - col("sx") * col("sy")) /
          (col("n_terms") * col("sxx") - col("sx") * col("sx")), 6))
      .select(col("n_terms"), col("slope"),
        round((col("sy") - col("slope") * col("sx")) / col("n_terms"), 6)
          .as("intercept"))
  }

  /** PERMISSIVE-mode malformed-record handling (the reference's COPY
    * error-tolerance surface, locopy's MAXERROR analog): write a CSV
    * where every o_orderkey ≡ 0 (mod 97) row carries an unparseable
    * totalprice, read it back with an explicit schema +
    * columnNameOfCorruptRecord, and account for every row — parsed
    * vs quarantined. The corruption rule is deterministic, so the
    * oracle recomputes both populations from the clean table. */
  private[graft] def csvPermissive(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = tmpDir("orders_badcsv")
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 97 === 0, lit("N/A"))
          .otherwise(col("o_totalprice").cast("string")).as("o_totalprice"),
        col("o_orderstatus"))
      .coalesce(1).write.option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderstatus", StringType),
      StructField("_corrupt_record", StringType)))
    s.read.schema(schema)
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(out)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
          .as("n_corrupt"),
        count(col("o_totalprice")).as("n_parsed"),
        round(sum("o_totalprice"), 2).as("sum_parsed"))
  }

  /** Zone-map builder: per-6000-key zone min/max/ndv statistics for
    * the scan-pruning columns — the metadata layer that lets a
    * 100 TB reader skip files on predicate ranges (Parquet
    * row-group / Iceberg manifest pruning, and the audit view of
    * what [[graft.io.Layout]]'s Z-order clustering improves). ONE
    * keyed aggregation, map-side combinable, output bounded by the
    * key domain / 6000. */
  private[graft] def zonemapBuild(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(floor(col("l_orderkey") / 6000.0).cast("long").as("zone"))
      .agg(count(lit(1)).as("n_rows"),
        min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"),
        min(col("l_shipdate")).cast("timestamp").as("min_ship"),
        max(col("l_shipdate")).cast("timestamp").as("max_ship"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"),
        countDistinct("l_suppkey").as("ndv_supp"))
      .orderBy("zone")

  /** Histogram-sketch quantiles vs exact: p50/p90/p99 of
    * extendedprice estimated from a 1000-bin equi-width histogram
    * (right-edge rule) next to the exact interpolated percentile,
    * with the estimation error — the fixed-size-state path
    * (histogram merges by cell-wise sum; the exact percentile needs
    * a full sort at scale). Bin edges come from one broadcast
    * min/max row; the cumulative walk runs over the 1000-bin table
    * only.
    *
    * COMPARISON HARNESS NOTE: this query deliberately scans lineitem
    * three times (min/max probe, histogram build, exact percentile)
    * and the exact `percentile()` holds all values per partition —
    * that exact side IS the comparison target being demonstrated, not
    * the production path. At 100 TB run only the histogram side: one
    * min/max probe + one linear binning pass, fixed 1000-cell state,
    * no full-width sort. */
  /** Approximate quantiles (`approx_percentile`, the KLL-family
    * sketch — the 100 TB path for q30's exact percentile_cont) with a
    * QUANTIFIED gate, same contract as q20's HLL: the estimate itself
    * has no exact oracle, so the query re-ranks each estimate against
    * the group it came from — `within_tol` = |count(x ≤ est)/n − p| ≤
    * 0.005, i.e. the estimate's TRUE rank sits within 0.5 % of the
    * requested rank (accuracy 1000 bounds sketch rank error at 0.1 %;
    * l_extendedprice is near-continuous so duplicate mass adds ~1/n).
    * The DuckDB oracle replays group sizes with TRUE, so the hash
    * greens iff every estimate is rank-accurate. The re-rank join is
    * a groups×4-row broadcast onto the fact scan — one extra linear
    * pass, no sort; the sketch side is ONE map-side-combinable
    * aggregation with constant per-group state. */
  private[graft] def quantileApprox(s: SparkSession, dir: String): DataFrame = {
    val ps = Seq(0.25, 0.5, 0.75, 0.95)
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("x"))
    val est = li.groupBy("l_returnflag")
      .agg(percentile_approx(col("x"),
        array(ps.map(lit): _*), lit(1000)).as("qs"))
      .select(col("l_returnflag"), posexplode(col("qs")).as(Seq("i", "est")))
      .select(col("l_returnflag"),
        element_at(array(ps.map(lit): _*), col("i") + 1).as("p"), col("est"))
    li.join(broadcast(est), Seq("l_returnflag"))
      .groupBy("l_returnflag", "p")
      .agg(count(lit(1)).as("n"),
        sum(when(col("x") <= col("est"), 1L).otherwise(0L)).as("n_le"))
      .select(col("l_returnflag"), col("p"), col("n"),
        (abs(col("n_le").cast("double") / col("n") - col("p")) <= 0.005)
          .as("within_tol"))
      .orderBy("l_returnflag", "p")
  }

  private[graft] def quantileHist(s: SparkSession, dir: String): DataFrame = {
    val x = t(s, dir, "lineitem")
      .select(col("l_extendedprice").cast("double").as("x"))
    // r18 restructure, measured 6.9 s → ~3.5 s at 32c. Two changes:
    //
    // (1) The column is scanned TWICE (stats row, then one
    // value-counts aggregation) instead of four times — the
    // materialized single-row stats feed every downstream branch, and
    // the materialized value-counts relation feeds BOTH the histogram
    // (per-bin sum of counts == per-bin row count) and the exact
    // percentiles.
    //
    // (2) `percentile(x, q)` — a row-at-a-time OpenHashMap
    // TypedImperativeAggregate, measured 5–6 s alone on this column —
    // is replaced by the relational order-statistics form: cumulative
    // counts over the sorted distinct values, value at 0-based sorted
    // index i = min{x : cum(x) ≥ i+1}, then Spark's own interpolation
    // formula, position = q·(n−1), lower/higher = floor/ceil(position),
    // result = (higher−position)·x_lower + (position−lower)·x_higher
    // (the exact Percentile.getPercentile arithmetic — probe-verified
    // bit-identical on the fixture, and the DuckDB oracle hash still
    // gates it). Same exact semantics, codegen'd operators throughout.
    val st0 = x.agg(min("x").as("lo"), max("x").as("hi"), count(lit(1)).as("n"))
      .localCheckpoint()
    val st = st0.select(col("lo"), col("hi"), col("n"))
    val vc = x.crossJoin(broadcast(st))
      .select(col("x"), least(floor((col("x") - col("lo")) /
        ((col("hi") - col("lo")) / 1000.0)), lit(999L)).cast("long").as("bin"))
      .groupBy("x", "bin").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // cumulative counts over the sorted distinct values (`bin` is an
    // order-preserving bucket of x). A bin's cumulative count reaches
    // q·n iff one of its values' does, so the estimate's bin and the
    // exact order statistics come from ONE aggregation over them.
    val cumv = GlobalOrder.exclusivePrefix(vc, "x", col("bin"), col("c") -> "pre")
      .withColumn("cumc", col("pre") + col("c"))
    val tgt = st0.select(col("lo"), col("hi"), col("n"),
        explode(array(lit(0.5), lit(0.9), lit(0.99))).as("q"))
      .withColumn("pos", col("q") * (col("n") - lit(1L)).cast("double"))
      .withColumn("lower", floor(col("pos")))
      .withColumn("higher", ceil(col("pos")))
    cumv.crossJoin(broadcast(tgt))
      .groupBy("q", "lo", "hi", "pos", "lower", "higher")
      .agg(min(when(col("cumc") >= col("q") * col("n"), col("bin"))).as("qbin"),
        min(when(col("cumc") >= col("lower") + 1, col("x"))).as("lv"),
        min(when(col("cumc") >= col("higher") + 1, col("x"))).as("hv"))
      .withColumn("est",
        col("lo") + (col("qbin") + 1) * ((col("hi") - col("lo")) / 1000.0))
      .withColumn("exact", when(col("higher") === col("lower"), col("lv"))
        .otherwise((col("higher") - col("pos")) * col("lv") +
          (col("pos") - col("lower")) * col("hv")))
      .select(col("q"), col("qbin"), col("est"), col("exact"),
        round(col("est") - col("exact"), 6).as("err"))
      .orderBy("q")
  }

  /** k-NN majority-vote classifier: query vectors (vec_id < 8)
    * labeled by their 10 nearest labeled neighbors (vec_id ≥ 8,
    * label = id mod 5), ties to the smallest label — the standard
    * embedding-space label-propagation baseline, deterministic end
    * to end (exact ranking + integer votes), so the prediction table
    * hash-gates like any relational query. */
  private[graft] def knnClassify(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val nn = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") >= 8), emb.filter(col("vec_id") < 8), 10)
    nn.withColumn("label", pmod(col("nbr_id"), lit(5L)))
      .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("votes").desc, col("label"))))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("votes"))
      .orderBy("query_id")
  }

  // ======================================================================
  // Contract maps
  // ======================================================================

  /** Wald–Wolfowitz runs test of daily order revenue around its
    * median — the randomness/trend diagnostic (a trending series makes
    * few long runs; an oscillating one too many). Median is the exact
    * positional middle of the day-domain relation (stats_bf
    * machinery); days AT the median drop by the standard rule; the
    * runs count is one keyed lag over the bounded day relation; the
    * z-statistic is a single IEEE chain over exact ints, round 6. */
  private[graft] def statsRuns(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy((unix_timestamp(date_trunc("day", col("o_orderdate"))) / 86400L)
        .cast("long").as("d"))
      .agg(round(sum("o_totalprice"), 2).as("r"))
    val w = Window.orderBy("r")
    val nd = daily.agg(count(lit(1)).as("nd"))
    val med = daily.withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(nd))
      .filter(col("rn") === floor((col("nd") + 1L) / 2.0).cast("long") ||
        col("rn") === floor((col("nd") + 2L) / 2.0).cast("long"))
      .agg(avg("r").as("med"))
    val signs = daily.crossJoin(broadcast(med))
      .filter(col("r") =!= col("med"))
      .select(col("d"), (col("r") > col("med")).cast("long").as("s"))
    val wD = Window.orderBy("d")
    val runs = signs
      .withColumn("chg",
        when(lag("s", 1).over(wD).isNull || col("s") =!= lag("s", 1).over(wD),
          1L).otherwise(0L))
      .agg(sum("chg").as("runs"),
        sum("s").as("n1"), (count(lit(1)) - sum("s")).as("n2"))
    val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
    val mu = lit(2.0) * n1 * n2 / (n1 + n2) + 1.0
    val sg = sqrt((lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n1 - n2)) /
      ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))
    runs.select(col("n1"), col("n2"), col("runs"),
      round(mu, 6).as("expected_runs"),
      round((col("runs").cast("double") - mu) / sg, 6).as("z"))
  }

  private[graft] val statsRunsSql: String =
    """WITH daily AS (
      |  SELECT CAST(epoch(date_trunc('day', o_orderdate)) // 86400 AS BIGINT)
      |           AS d,
      |         round(sum(o_totalprice), 2) AS r
      |  FROM orders GROUP BY 1),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM daily),
      |med AS (SELECT avg(r) AS med
      |        FROM (SELECT r, row_number() OVER (ORDER BY r) AS rn FROM daily)
      |             CROSS JOIN nn
      |        WHERE rn = (nd + 1) // 2 OR rn = (nd + 2) // 2),
      |signs AS (SELECT d, CAST(r > med AS BIGINT) AS s
      |          FROM daily CROSS JOIN med WHERE r <> med),
      |chg AS (SELECT s, CASE WHEN lag(s) OVER (ORDER BY d) IS NULL
      |                         OR s <> lag(s) OVER (ORDER BY d)
      |                       THEN 1 ELSE 0 END AS c
      |        FROM signs),
      |a AS (SELECT CAST(sum(c) AS BIGINT) AS runs, CAST(sum(s) AS BIGINT) AS n1,
      |        CAST(count(*) - sum(s) AS BIGINT) AS n2
      |      FROM chg)
      |SELECT n1, n2, runs,
      |       round(2.0 * n1 * n2 / (n1 + n2) + 1.0, 6) AS expected_runs,
      |       round((CAST(runs AS DOUBLE) - (2.0 * n1 * n2 / (n1 + n2) + 1.0)) /
      |             sqrt((2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)) /
      |                  ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 6) AS z
      |FROM a""".stripMargin

  /** The flagship end-to-end pretraining-data pipeline — the composed
    * story every other family plays a part in, as ONE call: ingest →
    * C4/Gopher quality rules ([[graft.ext.Text.qualityFilter]]) →
    * language routing ([[graft.ext.Text.langIdDf]], keep 'en') → exact
    * dedup (md5 groups, min-id survivor) → eval-set decontamination
    * ([[graft.ext.Dedup.decontaminate]], 3-grams vs the held-out
    * doc_id%50==0 slice) → token-budget shard packing ([[graft.ext
    * .Pack.packShards]], 2000-token shards). Output is the stage
    * funnel — (stage, docs, tokens) after each pass plus the final
    * shard count — the observability row a 100 TB curation run logs.
    *
    * Scale shape: every stage is the already-audited operator —
    * per-row predicates, keyed aggs, a broadcast of the (bounded)
    * eval-gram set, and the GlobalOrder prefix pack; nothing here adds
    * a shuffle the stages don't own. The oracle replays each stage's
    * published SQL formulation and unions the same funnel. */
  private[graft] def pipelinePretrain(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val base = docs.select(col("doc_id"), col("text"),
      graft.functions.tokenCount(col("text")).cast("long").as("n_tokens"))
    val afterQuality = Text.qualityFilter(base,
      minWords = 60, maxWords = 10000, minStopRatio = 0.05)
    val english = Text.langIdDf(docs)
      .filter(col("lang_pred") === "en").select("doc_id")
    val afterLang = afterQuality.join(english, Seq("doc_id"), "left_semi")
    val survivors = afterLang.groupBy(md5(col("text")).as("k"))
      .agg(min("doc_id").as("doc_id"))
    val afterDedup = afterLang.join(survivors.select("doc_id"),
      Seq("doc_id"), "left_semi")
    val evalSet = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
    val afterDecontam = Dedup.decontaminate(
      afterDedup.filter(pmod(col("doc_id"), lit(50)) =!= 0), evalSet, n = 3)
    val packed = graft.ext.Pack.packShards(
      afterDecontam.select("doc_id", "n_tokens"), "doc_id", "n_tokens",
      budget = 2000L)
    def funnelRow(ord: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
        .select(lit(ord.toLong).as("stage_ord"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"), lit(0L).as("n_shards"))
    val packRow = packed
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        (max("shard_id") + 1L).as("n_shards"))
      .select(lit(6L).as("stage_ord"), lit("pack").as("stage"),
        col("n_docs"), col("n_tokens"), col("n_shards"))
    funnelRow(1, "ingest", base)
      .unionByName(funnelRow(2, "quality", afterQuality))
      .unionByName(funnelRow(3, "langid", afterLang))
      .unionByName(funnelRow(4, "dedup", afterDedup))
      .unionByName(funnelRow(5, "decontam", afterDecontam))
      .unionByName(packRow)
      .orderBy("stage_ord")
  }

  /** Streaming near-dup dedup ([[graft.streaming.Stream
    * .foreachBatchNearDup]]): documents stream in two micro-batches
    * (even ids, then odd); each batch near-dups within itself
    * (keep-first by id) and against the accumulated accepted corpus
    * before appending — the daily-ingest-at-100-TB contract run
    * through the real micro-batch engine. Output is the final
    * accepted corpus. Oracle: the recall-1-assumed exact-Jaccard
    * replay of both batch steps (the dedup_minhash oracle contract:
    * the verify stage makes precision exact; 16 bands at this scale
    * make banding recall 1, so the accepted set is determined by the
    * exact pair set alone). */
  private[graft] def streamDedupNeardup(s: SparkSession, dir: String): DataFrame =
    Stream.foreachBatchNearDup(s,
        t(s, dir, "documents").select("doc_id", "text"),
        batch2Pred = pmod(col("doc_id"), lit(2)) === 1, threshold = 0.8)
      .select(col("doc_id"), fingerprintMd5(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Streaming near-dup dedup through the CHECKPOINTED file-source
    * runner ([[Stream.runNearDupDir]]) — the production (no-collect)
    * twin of [[streamDedupNeardup]], driven end-to-end: the even-id
    * documents land as file 1 and are ingested by run 1; the odd-id
    * file is added afterwards and a SECOND run against the SAME
    * checkpoint ingests exactly the unseen file (the accumulator
    * tallies are asserted: run 2's rows = the odd half, nothing
    * re-read). The accept rule is a pure function of the id-ordered
    * batch split, so the corpus equals the MemoryStream path's and
    * shares its oracle. */
  private[graft] def streamNeardupRestart(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft_ndrestart").toString
    val dataDir = s"$base/docs"; val cp = s"$base/cp"
    val table = "graft_stream_neardup_restart"
    Stream.dropNearDup(s, table)
    // one pass for both halves' expected ingest counts (r18; was two
    // full scans)
    val cnt = docs.agg(
      count(when(col("doc_id") % 2 === 0, lit(1))).as("e"),
      count(when(col("doc_id") % 2 === 1, lit(1))).as("o")).head
    val nEven = cnt.getLong(0); val nOdd = cnt.getLong(1)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(dataDir)
    val r1 = Stream.runNearDupDir(s, dataDir, cp, table)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(dataDir)
    val r2 = Stream.runNearDupDir(s, dataDir, cp, table)
    require(r1 == nEven && r2 == nOdd,
      s"restart must ingest only unseen files: run1=$r1 (want $nEven), " +
        s"run2=$r2 (want $nOdd)")
    // the harness scratch (source files + checkpoint) has served its
    // purpose; the corpus itself lives in the warehouse manifest, so
    // the returned plan never reads `base` — delete it rather than
    // leak one temp dir per bench/correctness invocation
    val basePath = new org.apache.hadoop.fs.Path(base)
    basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(basePath, true)
    s.table(table)
      .select(col("doc_id"), fingerprintMd5(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** The explicit near-dup corpus COMPACTION under the correctness
    * gate: build the two-batch accepted corpus, fold its per-ingest
    * segments into one ([[graft.io.ManifestTable.compact]] — the only
    * full rewrite left in the streaming near-dup path), and emit the
    * compacted corpus. Content must be byte-for-byte the accept
    * rule's output, so it shares [[streamDedupNeardup]]'s oracle —
    * which makes "compaction loses/duplicates nothing" a driver-gated
    * hash check, not just a spec. */
  private[graft] def streamNeardupCompact(s: SparkSession, dir: String): DataFrame = {
    val table = "graft_stream_neardup_compact"
    Stream.foreachBatchNearDup(s,
      t(s, dir, "documents").select("doc_id", "text"),
      batch2Pred = pmod(col("doc_id"), lit(2)) === 1, threshold = 0.8,
      table = table)
    val root = Stream.nearDupRoot(s, table)
    graft.io.ManifestTable.compact(s, root)
    require(graft.io.ManifestTable.segments(s, root).size == 1,
      "compact must fold the log to one segment")
    graft.io.ManifestTable.read(s, root)
      .select(col("doc_id"), fingerprintMd5(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Curriculum-ordered shard packing: documents pack into 2000-token
    * shards ordered by QUALITY TIER first (tier 0 = the composite
    * [[graft.ext.Text.qualityScore]] at 1.0, tier 6 = a score of
    * exactly 0 — `6 − round(score·6)` spans 0..6, with 6 reachable
    * only at the degenerate floor), id second — so shard 0..k serve
    * the cleanest data first, the curriculum/annealing data-order
    * knob (quality-first scheduling) a pretraining run wants without
    * a corpus-wide sort: the order key is synthesized
    * (tier · 2⁴⁰ + doc_id), which REQUIRES doc_id < 2⁴⁰ (~1.1e12 —
    * ample for the 100 TB contract's doc counts, but a corpus with
    * wider synthetic ids must widen the shift or order by a
    * (tier, doc_id) struct instead), and packing is
    * [[graft.ext.Pack.packShards]]. Oracle replays score → tier →
    * ordered prefix in SQL. */
  private[graft] def packCurriculum(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val base = docs.select(col("doc_id"),
      graft.functions.tokenCount(col("text")).cast("long").as("n_tokens"),
      (lit(6L) - round(Text.qualityScore(col("text")) * 6.0, 0).cast("long"))
        .as("tier"))
    val withOrd = base.withColumn("__ord",
      col("tier") * lit(1L << 40) + col("doc_id"))
    graft.ext.Pack.packShards(withOrd, "__ord", "n_tokens", budget = 2000L)
      .select(col("doc_id"), col("tier"), col("n_tokens"), col("shard_id"))
      .orderBy("doc_id")
  }

  private def manifestRoot(s: SparkSession, name: String): String =
    new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), name).toString

  // Round IN the decimal domain, THEN cast: exact HALF_UP in both Spark
  // and DuckDB, so no binary-double rounding tie can diverge the oracle
  // hash (the r15 stream_lakehouse flake class).
  private def decSum: Column =
    round(sum(col("value").cast("decimal(18,6)")), 4).cast("double")

  /** Time travel on the [[graft.io.ManifestTable]] log: events are
    * appended in three commits (event_id mod 3 = 0, 1, 2 → manifest
    * v1..v3), then the view is read AS OF v2 — the first two commits,
    * exactly as a reader at that point saw them. Pinning a manifest
    * version is how a 100 TB training run stays reproducible against
    * a corpus that keeps ingesting: no copy, just a version number.
    * Oracle: the same aggregate over `event_id % 3 <= 1` — time travel
    * must equal the prefix the first two commits contained. */
  private[graft] def manifestTimetravel(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_manifest_tt__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events").select("event_id", "event_type", "value")
    (0 to 2).foreach { k =>
      ManifestTable.append(s, root, ev.filter(pmod(col("event_id"), lit(3)) === k))
    }
    ManifestTable.readAt(s, root, 2L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), decSum.as("sum_value"))
      .orderBy("event_type")
  }

  /** Segment-granular data skipping: events land as six 5-day
    * segments, each [[graft.io.ManifestTable.append]]ed with a
    * `ts`/`event_id` zone-map sidecar; the range read for Jan 11-15
    * then opens EXACTLY ONE segment (spec-pinned via
    * `prunedDataSegments`) — the reason a time-keyed 100 TB log
    * answers a point-in-time query with O(range) IO, not O(table).
    * Oracle: the same aggregate over a plain BETWEEN on raw events —
    * skipping is an IO optimization and must be result-invisible. */
  private[graft] def manifestSkipping(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_manifest_skip__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events").select("event_id", "ts", "event_type", "value")
    (0 to 5).foreach { k =>
      ManifestTable.append(s, root,
        ev.filter(floor((dayofmonth(col("ts")) - 1) / 5) === k),
        statsCols = Seq("ts", "event_id"))
    }
    ManifestTable.readRange(s, root, "ts",
        Some(java.sql.Timestamp.valueOf("2024-01-11 00:00:00")),
        Some(java.sql.Timestamp.valueOf("2024-01-15 23:59:59.999999")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), decSum.as("sum_value"))
      .orderBy("event_type")
  }

  /** The SQL face of the manifest log ([[graft.sources
    * .ManifestSource]], `format("graft.manifest")`): the same six
    * 5-day zone-mapped segments as [[manifestSkipping]], but read as a
    * REGISTERED DATA SOURCE and aggregated in pure SQL over a temp
    * view — the reference's whole interface is SQL passthrough
    * (`locopy/database.py:131-190`), so the lakehouse family must be
    * reachable from `execute`, not only from the typed API. The WHERE
    * range reaches the relation's file index as pushed data filters,
    * so zone maps prune segments under plain SQL exactly as under
    * `readRange` (spec-pinned in PlanSpec), and the scan below is the
    * stock parquet reader — PushedFilters, column pruning and codegen
    * all intact. The segments are COMMITTED through the format's
    * write path too (`df.write.format("graft.manifest").mode
    * ("append")` = one atomic manifest commit per call, zone maps via
    * `statsCols`), so the query pins the full SQL-facing round trip.
    * Oracle: the same BETWEEN aggregate on raw events. */
  private[graft] def manifestSql(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_manifest_sql__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events").select("event_id", "ts", "event_type", "value")
    (0 to 5).foreach { k =>
      ev.filter(floor((dayofmonth(col("ts")) - 1) / 5) === k)
        .write.format("graft.manifest")
        .option("statsCols", "ts,event_id")
        .mode("append").save(root)
    }
    s.read.format("graft.manifest").load(root)
      .createOrReplaceTempView("manifest_sql_events")
    s.sql("""
      SELECT event_type, count(1) AS cnt,
             cast(round(sum(cast(value AS decimal(18,6))), 4) AS double) AS sum_value
      FROM manifest_sql_events
      WHERE ts >= timestamp'2024-01-11 00:00:00'
        AND ts <= timestamp'2024-01-15 23:59:59.999999'
      GROUP BY event_type
      ORDER BY event_type""")
  }

  /** Additive schema evolution across manifest commits: segment 1
    * lands WITHOUT `event_type`, segment 2 adds it; the evolved read
    * surfaces old rows as NULL in the new column — append-only logs
    * never rewrite 100 TB to add a field. Oracle: the same rollup
    * computed from raw events with the evolution boundary expressed
    * as a CASE on the segment-split key. */
  private[graft] def manifestEvolution(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_manifest_evo__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events")
    ManifestTable.append(s, root,
      ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .select("event_id", "user_id", "value"))
    ManifestTable.append(s, root,
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select("event_id", "user_id", "value", "event_type"))
    ManifestTable.read(s, root)
      .withColumn("etype", coalesce(col("event_type"), lit("_pre_evolution")))
      .groupBy("etype")
      .agg(count(lit(1)).as("cnt"), decSum.as("sum_value"))
      .orderBy("etype")
  }

  /** Incrementally-maintained materialized aggregate view
    * ([[graft.io.AggView]]): three event micro-batches each append an
    * O(groups)-row PARTIAL segment (the view never re-reads the base
    * log), with a [[graft.io.AggView.compact]] folded in mid-stream to
    * prove the stored form is itself a mergeable partial. DECIMAL
    * internal sums make the result independent of batch split and
    * merge order — bit-stable under any replan. Oracle: the straight
    * GROUP BY over all events; an incremental view must be
    * indistinguishable from recomputation. */
  private[graft] def manifestIncrAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.io.AggView
    val root = manifestRoot(s, "graft_aggview__log")
    graft.io.ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events")
      .withColumn("value_dec", col("value").cast("decimal(18,6)"))
    val spec = AggView.spec("event_type").count("cnt")
      .sum("value_dec", "sum_dec").min("value", "min_value")
      .max("value", "max_value")
    AggView.ingest(s, root, ev.filter(pmod(col("event_id"), lit(3)) === 0), spec)
    AggView.ingest(s, root, ev.filter(pmod(col("event_id"), lit(3)) === 1), spec)
    AggView.compact(s, root, spec)
    AggView.ingest(s, root, ev.filter(pmod(col("event_id"), lit(3)) === 2), spec)
    AggView.read(s, root, spec)
      .select(col("event_type"), col("cnt"),
        round(col("sum_dec"), 4).cast("double").as("sum_value"),
        round(col("min_value"), 4).as("min_value"),
        round(col("max_value"), 4).as("max_value"))
      .orderBy("event_type")
  }

  /** Change-data-feed consumption off the manifest log: events land in
    * two append commits (v1, v2), a consumer pins v2, then a DELETE
    * tombstone (v3) and a third append (v4) commit behind it; the
    * consumer reads EXACTLY the window (v2, v4] — batch-3 rows as
    * inserts, the tombstone keys as deletes — with IO O(changed
    * segments), never the table. This is how downstream pipelines at
    * 100 TB stay incremental: remember a version number, poll the
    * delta. Oracle: inserts recomputed from the third batch's
    * predicate, deletes from the tombstone predicate — the feed must
    * contain exactly what was committed in the window, nothing from
    * before the pin. */
  /** The change feed through PURE SQL — `graft_manifest_changes` TVF,
    * the `table_changes()` shape every lakehouse CDF ships: appends,
    * then a row-level DML (pre-image deletes + re-inserts in the
    * window), then another append, all read back with one SELECT. */
  private[graft] def manifestChangesSql(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_manifest_cfsql__log")
    ManifestTable.destroy(s, root)
    ManifestTable.setRetainVersions(s, root, 6)
    val ev = t(s, dir, "events").select("event_id", "event_type", "value")
    (0 to 1).foreach { k =>
      ManifestTable.append(s, root, ev.filter(pmod(col("event_id"), lit(4)) === k))
    }
    val pinned = ManifestTable.versions(s, root).max // = 2
    // row-level DML: touches only the %4==0 segment (%8==0 => %4==0)
    s.sql(s"UPDATE `graft.manifest`.`$root` SET value = value * 2 " +
      "WHERE event_id % 8 = 0")
    ManifestTable.append(s, root, ev.filter(pmod(col("event_id"), lit(4)) === 2))
    val head = ManifestTable.versions(s, root).max // = 4
    s.sql(s"""
      SELECT _change_type AS change_type, event_type AS etype,
             count(1) AS cnt,
             cast(round(sum(cast(value AS decimal(18,6))), 4) AS double) AS sum_value
      FROM graft_manifest_changes('$root', $pinned, $head)
      GROUP BY _change_type, event_type
      ORDER BY change_type, etype""")
  }

  private[graft] def manifestChangefeed(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_manifest_cf__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events").select("event_id", "event_type", "value")
    (0 to 1).foreach { k =>
      ManifestTable.append(s, root, ev.filter(pmod(col("event_id"), lit(4)) === k))
    }
    val pinned = ManifestTable.versions(s, root).max // = 2
    ManifestTable.delete(s, root,
      ev.filter(pmod(col("event_id"), lit(8)) === 1).select("event_id"))
    ManifestTable.append(s, root, ev.filter(pmod(col("event_id"), lit(4)) === 2))
    val head = ManifestTable.versions(s, root).max // = 4
    ManifestTable.readChanges(s, root, pinned, head)
      .groupBy(col("_change_type").as("change_type"),
        coalesce(col("event_type"), lit("_del")).as("etype"))
      .agg(count(lit(1)).as("cnt"), decSum.as("sum_value"))
      .orderBy("change_type", "etype")
  }

  /** Bin-packing small-segment compaction ([[graft.io.ManifestTable
    * .optimize]]): one big append (2/3 of events) plus four small ones
    * (1/12 each, all zone-mapped) accrete five segments; optimize at a
    * threshold between the sizes folds ONLY the four small segments —
    * the big one stays byte-identical (spec-pinned) — and regenerates
    * the packed segment's sidecar, so [[graft.io.ManifestTable
    * .fastRowCount]] still answers count(*) from metadata alone (it is
    * surfaced as the total_rows column and oracled against DuckDB's
    * real count). The maintenance action a streaming log runs nightly:
    * small-file debt is paid in O(small bytes), never the table.
    * Oracle: the rollup plus count(*) over all events — packing must
    * be result-invisible. */
  private[graft] def manifestOptimize(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_manifest_opt__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events").select("event_id", "event_type", "value")
    ManifestTable.append(s, root,
      ev.filter(pmod(col("event_id"), lit(3)) < 2), statsCols = Seq("event_id"))
    Seq(2, 5, 8, 11).foreach { k =>
      ManifestTable.append(s, root,
        ev.filter(pmod(col("event_id"), lit(12)) === k), statsCols = Seq("event_id"))
    }
    val sizes = ManifestTable.segmentSizes(s, root).map(_._2)
    val folded = ManifestTable.optimize(s, root, smallBytes = sizes.max)
    require(folded == 4, s"expected the 4 sub-threshold segments to fold, got $folded")
    val total = ManifestTable.fastRowCount(s, root).getOrElse(
      sys.error("fastRowCount must stay available: packing regenerates sidecars"))
    ManifestTable.read(s, root)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), decSum.as("sum_value"))
      .withColumn("total_rows", lit(total))
      .orderBy("event_type")
  }

  /** Sort-based re-clustering ([[graft.io.ManifestTable.cluster]]):
    * events arrive in three id-interleaved commits, so EVERY segment
    * spans the whole month and the ts zone maps prune nothing — the
    * layout streaming ingest always degrades to; cluster(ts, 6)
    * rewrites the log as six range-disjoint zone-mapped segments (one
    * ranged shuffle + one write pass), after which the same Jan-11..15
    * read opens a small minority of segments (spec-pinned ≤ 3 of 6 vs
    * all 3 before; ≤ 2 of 6 in the exact-boundary integer spec — the
    * ts boundaries here come from range sampling, so the window can
    * straddle one). The read-locality half of the maintenance pair —
    * optimize() pays write debt, cluster() pays read debt. Oracle: the
    * window aggregate over raw events — re-clustering must be
    * result-invisible. */
  private[graft] def manifestCluster(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_manifest_clu__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events").select("event_id", "ts", "event_type", "value")
    (0 to 2).foreach { k =>
      ManifestTable.append(s, root, ev.filter(pmod(col("event_id"), lit(3)) === k),
        statsCols = Seq("ts"))
    }
    ManifestTable.cluster(s, root, "ts", 6)
    ManifestTable.readRange(s, root, "ts",
        Some(java.sql.Timestamp.valueOf("2024-01-11 00:00:00")),
        Some(java.sql.Timestamp.valueOf("2024-01-15 23:59:59.999999")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), decSum.as("sum_value"))
      .orderBy("event_type")
  }

  /** Change-feed-DRIVEN view maintenance ([[graft.io.AggView
    * .syncFromLog]]): the base log takes three append commits; the
    * view syncs after the first and again after the last two, each
    * sync reading ONLY the base segments behind its cursor (the
    * cursor rides in the view's own segment tags, committed atomically
    * with the partial — no separate checkpoint to desync from). A
    * third sync is a no-op (cursor == head). This is the scheduled
    * rollup-maintenance loop at 100 TB: each cycle costs O(new data),
    * never the base. Oracle: the straight per-bucket rollup over all
    * events — cursor-driven increments must be indistinguishable from
    * recomputation. */
  private[graft] def manifestCfView(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{AggView, ManifestTable}
    val base = manifestRoot(s, "graft_cfview_base__log")
    val view = manifestRoot(s, "graft_cfview_view__log")
    ManifestTable.destroy(s, base)
    ManifestTable.destroy(s, view)
    val ev = t(s, dir, "events").select(
      pmod(col("user_id").cast("long"), lit(100L)).as("user_bucket"),
      col("event_id"),
      col("value").cast("decimal(18,6)").as("value_dec"))
    val spec = AggView.spec("user_bucket").count("cnt").sum("value_dec", "sum_dec")
    ManifestTable.append(s, base, ev.filter(pmod(col("event_id"), lit(3)) === 0))
    AggView.syncFromLog(s, view, base, spec)
    ManifestTable.append(s, base, ev.filter(pmod(col("event_id"), lit(3)) === 1))
    ManifestTable.append(s, base, ev.filter(pmod(col("event_id"), lit(3)) === 2))
    AggView.syncFromLog(s, view, base, spec)
    require(AggView.syncFromLog(s, view, base, spec) == 3L,
      "third sync must be a cursor no-op at base head 3")
    AggView.read(s, view, spec)
      .select(col("user_bucket"), col("cnt"),
        round(col("sum_dec"), 4).cast("double").as("sum_value"))
      .orderBy("user_bucket")
  }

  /** RETRACTABLE incremental view maintenance ([[graft.io.AggView
    * .syncFromLog]]): count/sum partials form a group, so a point
    * DELETE on the base log folds into the view as the pre-image's
    * NEGATED partial through the change feed — O(changed + matched)
    * work, not the O(base) [[graft.io.AggView.rebuild]] — and the
    * view tracks the table's merge-on-read rule exactly (a tombstone
    * hides matching rows in EVERY segment, including ones committed
    * after it, until a compact retires it — which is why the later
    * v4 append's matching rows stay invisible too). Oracle: the
    * rollup over events excluding the tombstoned keys. */
  private[graft] def manifestRetractView(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{AggView, ManifestTable}
    val base = manifestRoot(s, "graft_retract_base__log")
    val view = manifestRoot(s, "graft_retract_view__log")
    ManifestTable.destroy(s, base); ManifestTable.destroy(s, view)
    val ev = t(s, dir, "events").select(
      col("event_id"), col("event_type"),
      col("value").cast("decimal(18,6)").as("value_dec"))
    val spec = AggView.spec("event_type").count("cnt").sum("value_dec", "sum_dec")
    ManifestTable.append(s, base, ev.filter(pmod(col("event_id"), lit(3)) === 0)) // v1
    ManifestTable.append(s, base, ev.filter(pmod(col("event_id"), lit(3)) === 1)) // v2
    AggView.syncFromLog(s, view, base, spec) // cursor -> 2
    ManifestTable.delete(s, base,
      ev.filter(pmod(col("event_id"), lit(7)) === 3).select("event_id"))          // v3
    ManifestTable.append(s, base, ev.filter(pmod(col("event_id"), lit(3)) === 2)) // v4
    require(AggView.syncFromLog(s, view, base, spec) == 4L,
      "retracting sync must advance the cursor to the base head")
    AggView.read(s, view, spec)
      .filter(col("cnt") > 0) // SQL GROUP BY parity for all-deleted groups
      .select(col("event_type"), col("cnt"),
        round(col("sum_dec"), 4).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** Bloom-pruned POINT lookup on an arrival-ordered log
    * ([[graft.io.ManifestTable.readPoint]]): events land as six
    * id-interleaved segments (id % 6 — every segment's zone map spans
    * the whole id domain, so range stats prune NOTHING; asserted),
    * each carrying a `_bloom.event_id` sidecar; the lookup for one id
    * then opens exactly the holding segment (asserted — Spark's Bloom
    * sketch is deterministic, so the assertion is stable per
    * fixture). This is `WHERE id = k` on a 100 TB log reading
    * O(segments holding k) instead of O(table) — the sidecar class
    * zone maps cannot replace. Oracle: the plain equality select. */
  private[graft] def manifestPoint(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_manifest_pt__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events").select("event_id", "event_type", "value")
    (0 to 5).foreach { k =>
      ManifestTable.append(s, root,
        ev.filter(pmod(col("event_id"), lit(6)) === k),
        statsCols = Seq("event_id"), bloomCols = Seq("event_id"))
    }
    val k = ev.agg(min("event_id")).head.getAs[Number](0).longValue + 100L
    require(ManifestTable.prunedDataSegments(s, root, "event_id",
      Some(k), Some(k)).size == 6,
      "zone maps must be useless on the interleaved layout")
    val hits = ManifestTable.pointSegments(s, root, "event_id", k)
    require(hits.size == 1,
      s"the bloom sidecars must isolate the holding segment, got $hits")
    ManifestTable.readPoint(s, root, "event_id", k)
      .select(col("event_id"), col("event_type"),
        round(col("value"), 4).as("value_r"))
      .orderBy("event_id")
  }

  /** The DECLARATIVE lakehouse ingest loop: event files stream
    * through the real micro-batch engine straight into a manifest log
    * via the registered sink (`writeStream.format("graft.manifest")`,
    * [[graft.sources.ManifestSource]] — one `mb<batchId>`-tagged
    * atomic commit per micro-batch, at-least-once replays skipped
    * from the manifest name scan alone, zone maps per batch via
    * `statsCols`), then read back through the registered SQL relation
    * and rolled up in pure SQL. The foreachBatch-free twin of
    * [[streamLakehouse]]: the sink IS the ingest loop, no user code
    * in the hot path. Oracle: the straight rollup over all events —
    * the streaming commit path must be result-invisible. */
  private[graft] def streamSinkManifest(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val src = tmpDir("events_sink_src")
    val cp = tmpDir("events_sink_cp")
    val root = manifestRoot(s, "graft_sinkq__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events").select("event_id", "ts", "event_type", "value")
    (0 to 3).foreach { k => // four files -> four deterministic micro-batches
      ev.filter(pmod(col("event_id"), lit(4)) === k).coalesce(1)
        .write.mode("append").parquet(src)
    }
    val q = s.readStream.schema(s.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.format("graft.manifest")
      .option("path", root).option("statsCols", "ts")
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val segs = ManifestTable.segments(s, root)
    require(segs.size == 4 && segs.forall(_.contains("-mb")),
      s"one tagged segment per micro-batch expected, got $segs")
    s.read.format("graft.manifest").load(root)
      .createOrReplaceTempView("stream_sink_events")
    s.sql("""
      SELECT event_type, count(1) AS cnt,
             cast(round(sum(cast(value AS decimal(18,6))), 4) AS double) AS sum_value
      FROM stream_sink_events
      GROUP BY event_type
      ORDER BY event_type""")
  }

  /** Referential-integrity gate ([[graft.ext.Profile.expectRefs]]):
    * lineitem's three real foreign keys (orders / part / supplier —
    * intact by construction, 0 violations each) plus a deliberately
    * failing policy rule ("every lineitem belongs to a FINISHED
    * order") whose violation count the oracle recomputes with an
    * anti-join. Each rule is one left-anti join against the dedup'd
    * dimension keys — the fact side never broadcasts or collects. */
  private[graft] def dqFk(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    graft.ext.Profile.expectRefs(li, Seq(
      ("fk_orders", "l_orderkey", t(s, dir, "orders"), "o_orderkey"),
      ("fk_part", "l_partkey", t(s, dir, "part"), "p_partkey"),
      ("fk_supplier", "l_suppkey", t(s, dir, "supplier"), "s_suppkey"),
      ("fk_finished_orders", "l_orderkey",
        t(s, dir, "orders").filter(col("o_orderstatus") === "F"), "o_orderkey")))
      .orderBy("rule")
  }

  /** The continuous-lakehouse posture through the REAL micro-batch
    * engine ([[graft.streaming.Stream.runLakehouseIngest]]): event
    * files stream through a checkpointed file source; each micro-batch
    * commits one base-log segment tagged by batch id (replay = a
    * manifest name-scan skip) and advances the change-feed-maintained
    * rollup view inside the same batch. Two runs against one
    * checkpoint — files land between them — so the second run ingests
    * ONLY the unseen files (asserted), and the view still equals the
    * batch aggregate over everything. Oracle: the straight rollup
    * over all events. */
  private[graft] def streamLakehouse(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{AggView, ManifestTable}
    val src = tmpDir("events_lakehouse")
    val cp = tmpDir("events_lakehouse_cp")
    val base = manifestRoot(s, "graft_slake_base__log")
    val view = manifestRoot(s, "graft_slake_view__log")
    ManifestTable.destroy(s, base)
    ManifestTable.destroy(s, view)
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"),
        col("value").cast("decimal(18,6)").as("value_dec"))
    val spec = AggView.spec("event_type").count("cnt").sum("value_dec", "sum_dec")
    ev.filter(pmod(col("event_id"), lit(2)) === 0)
      .repartition(2).write.parquet(src)
    // phase-sized trigger, same rationale as stream_restart (r18): the
    // contract is cross-run resume (run2 == unseen half, required
    // below); one 2-file trigger per run halves segment commits + view
    // syncs without changing the rollup
    Stream.runLakehouseIngest(s, src, cp, base, view, spec,
      maxFilesPerTrigger = 2)
    ev.filter(pmod(col("event_id"), lit(2)) === 1)
      .repartition(2).write.mode("append").parquet(src)
    val run2 = Stream.runLakehouseIngest(s, src, cp, base, view, spec,
      maxFilesPerTrigger = 2)
    val half = ev.filter(pmod(col("event_id"), lit(2)) === 1).count()
    require(run2 == half,
      s"restarted run must ingest only the unseen files: $run2 vs $half")
    AggView.read(s, view, spec)
      .select(col("event_type"), col("cnt"),
        round(col("sum_dec"), 4).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** Sketch-typed materialized view: the rollup keeps a MERGEABLE
    * DataSketches HLL binary per group ([[graft.io.AggView]] fn
    * `hll`), maintained incrementally through the change feed and
    * folded by compact() — exact distincts don't decompose into
    * partials, sketches do, which is why every at-scale store keeps
    * distinct-count metrics this way. Estimates are deterministic and
    * order-insensitive for a given value set (ExtSpec pins view ==
    * one-shot sketch exactly), so the q20-style quantified tolerance
    * gate is hash-stable: the query emits the exact distinct count
    * plus within_tol = |est − exact|/exact ≤ 0.05, and the oracle
    * replays the exact count with TRUE — the hash greens iff every
    * estimate is in tolerance. */
  private[graft] def manifestHllView(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{AggView, ManifestTable}
    val base = manifestRoot(s, "graft_hll_base__log")
    val view = manifestRoot(s, "graft_hll_view__log")
    ManifestTable.destroy(s, base)
    ManifestTable.destroy(s, view)
    val ev = t(s, dir, "events").select("event_id", "event_type", "user_id")
    val spec = AggView.spec("event_type").count("cnt").hll("user_id", "users_sketch")
    (0 to 2).foreach { k =>
      ManifestTable.append(s, base, ev.filter(pmod(col("event_id"), lit(3)) === k))
      AggView.syncFromLog(s, view, base, spec)
    }
    AggView.compact(s, view, spec) // sketch partials must survive the fold
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"))
    AggView.read(s, view, spec)
      .withColumn("n_est", hll_sketch_estimate(col("users_sketch")))
      .join(exact, Seq("event_type"))
      .select(col("event_type"), col("cnt"), col("n_exact"),
        (abs(col("n_est") - col("n_exact")) <= col("n_exact") * 0.05)
          .as("within_tol"))
      .orderBy("event_type")
  }

  /** The composed lakehouse lifecycle, one oracle: four interleaved
    * event appends with ts zone maps; a change-feed-maintained rollup
    * view that syncs incrementally after each wave; a merge-on-read
    * DELETE the count/sum view RETRACTS through the feed (the
    * pre-image folds in negated — [[graft.io.AggView.syncFromLog]];
    * no rebuild, O(changed + matched) work); a bin-packing optimize
    * the feed walks THROUGH (the rewrite mark + the caught-up cursor
    * make maintenance invisible — the sync succeeds with an empty
    * delta and just advances the cursor); a final sort-based cluster
    * that applies the tombstones physically and restores range
    * locality. Output: the view's rollup ('total') plus a
    * zone-map-pruned 5-day window rollup ('window') — both must equal
    * DuckDB recomputation over events minus the deleted keys. Every
    * mechanism is individually oracled elsewhere; this query pins
    * their INTERACTIONS (delete→retracting sync,
    * rewrite-transparent feed, tombstone→cluster retirement). */
  private[graft] def pipelineLakehouse(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{AggView, ManifestTable}
    val base = manifestRoot(s, "graft_lake_base__log")
    val view = manifestRoot(s, "graft_lake_view__log")
    ManifestTable.destroy(s, base)
    ManifestTable.destroy(s, view)
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"),
        col("value").cast("decimal(18,6)").as("value_dec"))
    def batch(k: Int) = ev.filter(pmod(col("event_id"), lit(4)) === k)
    val spec = AggView.spec("event_type").count("cnt").sum("value_dec", "sum_dec")
    ManifestTable.append(s, base, batch(0), statsCols = Seq("ts"))
    ManifestTable.append(s, base, batch(1), statsCols = Seq("ts"))
    AggView.syncFromLog(s, view, base, spec)                       // cursor 2
    ManifestTable.append(s, base, batch(2), statsCols = Seq("ts"))
    AggView.syncFromLog(s, view, base, spec)                       // cursor 3
    // merge-on-read delete (keys confined to already-viewed batches);
    // the count/sum view RETRACTS the pre-image through the feed —
    // no rebuild, the cursor just advances over the tombstone commit
    ManifestTable.delete(s, base,
      ev.filter(pmod(col("event_id"), lit(10)) === 3 &&
        pmod(col("event_id"), lit(4)) < 3).select("event_id"))
    require(AggView.syncFromLog(s, view, base, spec) == 4L,
      "a count/sum view must retract a delete-bearing feed window")  // cursor 4
    ManifestTable.append(s, base, batch(3), statsCols = Seq("ts"))
    AggView.syncFromLog(s, view, base, spec)                       // cursor 5
    // pay the small-file debt; the MARKED rewrite of already-consumed
    // segments is invisible to the caught-up consumer — the sync
    // walks through it with an empty delta and advances the cursor
    val maxSeg = ManifestTable.segmentSizes(s, base).map(_._2).max
    require(ManifestTable.optimize(s, base, maxSeg + 1) == 4)
    require(AggView.syncFromLog(s, view, base, spec) == 6L,
      "a caught-up consumer must sync THROUGH a marked rewrite")    // cursor 6
    // restore range locality; tombstones retire physically
    ManifestTable.cluster(s, base, "ts", 6)
    val total = AggView.read(s, view, spec)
      .select(lit("total").as("section"), col("event_type"), col("cnt"),
        round(col("sum_dec"), 4).cast("double").as("sum_value"))
    val window = ManifestTable.readRange(s, base, "ts",
        Some(java.sql.Timestamp.valueOf("2024-01-11 00:00:00")),
        Some(java.sql.Timestamp.valueOf("2024-01-15 23:59:59.999999")))
      .groupBy(lit("window").as("section"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), decSum.as("sum_value"))
    total.unionByName(window).orderBy("section", "event_type")
  }

  /** Log-to-log streaming through the REAL engine via the registered
    * SOURCE + SINK pair ([[graft.sources.ManifestSource]]): three
    * upstream commits stream into a downstream log (offset = manifest
    * version, one batch = the committed window), then the upstream is
    * COMPACTED (a marked rewrite — the feed walks through it as an
    * empty batch) and a fourth commit lands; the restarted stream
    * ingests ONLY the unseen window from its checkpointed offset. The
    * reference's staged load→unload pipeline shape
    * (`locopy/redshift.py:235-441`) re-expressed as a symmetric
    * log→log stream. Oracle: the straight rollup over all events —
    * the whole pipeline must be result-invisible. */
  private[graft] def manifestStreamSource(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val up = manifestRoot(s, "graft_msrcq_up__log")
    val down = manifestRoot(s, "graft_msrcq_down__log")
    val cp = tmpDir("msrcq_cp")
    ManifestTable.destroy(s, up)
    ManifestTable.destroy(s, down)
    val ev = t(s, dir, "events").select("event_id", "ts", "event_type", "value")
    def batch(k: Int) = ev.filter(pmod(col("event_id"), lit(4)) === k)
    (0 to 2).foreach(k => ManifestTable.append(s, up, batch(k)))
    def run(): Unit = {
      val q = s.readStream.format("graft.manifest").load(up)
        .writeStream.format("graft.manifest").option("path", down)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run() // batch 1: the bootstrap window (v0, v3]
    ManifestTable.compact(s, up) // marked rewrite: empty batch downstream
    ManifestTable.append(s, up, batch(3))
    run() // restart: only (v3, v5] flows
    require(ManifestTable.segments(s, down).size == 2,
      "exactly one non-empty downstream segment per engine run expected")
    s.read.format("graft.manifest").load(down)
      .createOrReplaceTempView("msrc_events")
    s.sql("""
      SELECT event_type, count(1) AS cnt,
             cast(round(sum(cast(value AS decimal(18,6))), 4) AS double) AS sum_value
      FROM msrc_events
      GROUP BY event_type
      ORDER BY event_type""")
  }

  /** Standard SQL time travel on the lakehouse face: `VERSION AS OF`
    * pins a committed snapshot, `TIMESTAMP AS OF` resolves the newest
    * commit at or before the cutoff from the manifest files' commit
    * times, and the bare table reads the head — all through the
    * extension-resolved `graft.manifest` syntax, no reader API. The
    * fence timestamp is taken BETWEEN commits 2 and 3, so the
    * timestamp route must agree exactly with `VERSION AS OF 2`.
    * Oracle: the mod-split aggregates recomputed from raw events. */
  private[graft] def manifestVersionAsof(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_vasof__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events").select("event_id", "event_type", "value")
    def batch(k: Int) = ev.filter(pmod(col("event_id"), lit(3)) === k)
    ManifestTable.append(s, root, batch(0))
    ManifestTable.append(s, root, batch(1))
    Thread.sleep(20) // commit times separate the fence from v2 and v3
    val fence = java.time.LocalDateTime.now().format(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    Thread.sleep(20)
    ManifestTable.append(s, root, batch(2))
    def agg(section: String, suffix: String) = s"""
      SELECT '$section' AS section, event_type, count(1) AS cnt,
             cast(round(sum(cast(value AS decimal(18,6))), 4) AS double) AS sum_value
      FROM `graft.manifest`.`$root`$suffix
      GROUP BY event_type"""
    s.sql(s"""
      ${agg("head", "")}
      UNION ALL ${agg("ts_fence", s" TIMESTAMP AS OF '$fence'")}
      UNION ALL ${agg("v2", " VERSION AS OF 2")}
      ORDER BY section, event_type""")
  }

  /** `INSERT INTO` / the log: each statement is ONE atomic manifest
    * commit through [[graft.sources.ManifestInsertableRelation]] —
    * Spark's stock V1 insert path does the column coercion, the log
    * does the publish; a raw parquet write into the root never
    * happens. Three thirds of events arrive as seed + two inserts and
    * the head must equal the straight rollup. Oracle: that rollup. */
  private[graft] def manifestInsertSql(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_insq__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events").select("event_id", "event_type", "value")
    ManifestTable.append(s, root, ev.filter(pmod(col("event_id"), lit(3)) === 0))
    ev.createOrReplaceTempView("insert_src_events")
    s.sql(s"""INSERT INTO `graft.manifest`.`$root`
      SELECT event_id, event_type, value FROM insert_src_events
      WHERE event_id % 3 = 1""")
    s.sql(s"""INSERT INTO `graft.manifest`.`$root`
      SELECT event_id, event_type, value FROM insert_src_events
      WHERE event_id % 3 = 2""")
    require(ManifestTable.versions(s, root) == Seq(1L, 2L, 3L),
      "each INSERT must be exactly one manifest commit")
    s.sql(s"""
      SELECT event_type, count(1) AS cnt,
             cast(round(sum(cast(value AS decimal(18,6))), 4) AS double) AS sum_value
      FROM `graft.manifest`.`$root`
      GROUP BY event_type
      ORDER BY event_type""")
  }

  /** The maintenance verbs through their SQL table functions
    * ([[graft.plans.GraftMaintenance]]): retention, bin-packing,
    * full compaction (applying a merge-on-read delete physically) and
    * physical vacuum, each returning its (action, n) receipt — the
    * whole ops surface reachable from `execute`, the reference's
    * everything-through-SQL posture. Counts are deterministic by
    * construction: 4 small appends fold to 1 (optimize n=4), compact
    * folds packed+tombstone (n=2), vacuum removes the 6 dirs only the
    * 6 expired versions named. Oracle: those literals plus the
    * surviving row count. */
  private[graft] def manifestMaintSql(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_maintq__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events").select("event_id", "event_type", "value")
    (0 to 3).foreach { k =>
      ManifestTable.append(s, root, ev.filter(pmod(col("event_id"), lit(4)) === k))
    }
    ManifestTable.delete(s, root,
      ev.filter(pmod(col("event_id"), lit(16)) === 1).select("event_id"))
    def verb(sql: String) = s.sql(sql).select("action", "n")
    val retain = verb(s"SELECT * FROM graft_manifest_set_retain('$root', 3)")
    val opt = verb(s"SELECT * FROM graft_manifest_optimize('$root', 10000000000)")
    val comp = verb(s"SELECT * FROM graft_manifest_compact('$root')")
    val vac = verb(s"SELECT * FROM graft_manifest_vacuum('$root', 1)")
    val rows = s.sql(s"SELECT 'rows' AS action, count(1) AS n FROM `graft.manifest`.`$root`")
    retain.unionByName(opt).unionByName(comp).unionByName(vac)
      .unionByName(rows).orderBy("action")
  }

  /** Multi-level hive layout through the SQL face: segments laid out
    * as nested `y=<id mod 2>/m=<day mod 3>` partition dirs (two
    * commits, one per parity) surface both partition columns in the
    * relation schema and prune as a pair (PlanSpec pins the dir
    * counts); the rollup over the partition columns must equal the
    * derived-column aggregate on raw events. */
  private[graft] def manifestNestedPart(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_nested__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("value"),
        pmod(col("event_id"), lit(2)).cast("int").as("y"),
        (dayofmonth(col("ts")) % 3).cast("int").as("m"))
    ManifestTable.append(s, root, ev.filter(col("y") === 0),
      partitionBy = Seq("y", "m"))
    ManifestTable.append(s, root, ev.filter(col("y") === 1),
      partitionBy = Seq("y", "m"))
    s.read.format("graft.manifest").load(root)
      .createOrReplaceTempView("nested_part_events")
    s.sql("""
      SELECT y, m, count(1) AS cnt,
             cast(round(sum(cast(value AS decimal(18,6))), 4) AS double) AS sum_value
      FROM nested_part_events
      GROUP BY y, m
      ORDER BY y, m""")
  }

  /** Row-level SQL DML on the log ([[graft.plans.ResolveManifestDml]]
    * → [[graft.io.ManifestDml]]): a pure-SQL DELETE then UPDATE, each
    * ONE atomic copy-on-write manifest commit with a
    * (segments_rewritten, rows_matched) receipt — receipts are
    * require-pinned (the DELETE's predicate hits all 3 mod-split
    * segments, whose survivors swap in 1:1 — layout preserved — so
    * the UPDATE then touches those 3 replacements). The oracle
    * replays both statements relationally over raw events: delete =
    * filter, update = CASE projection. */
  private[graft] def manifestDmlSql(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_dmlq__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events").select("event_id", "event_type", "value")
    (0 to 2).foreach { k =>
      ManifestTable.append(s, root,
        ev.filter(pmod(col("event_id"), lit(3)) === k),
        statsCols = Seq("event_id"))
    }
    val del = s.sql(
      s"DELETE FROM `graft.manifest`.`$root` WHERE event_id % 5 = 2").collect()
    require(del.toSeq.map(r => (r.getString(0), r.getInt(1))) ==
      Seq(("delete", 3)), s"unexpected DELETE receipt: ${del.toSeq}")
    val upd = s.sql(
      s"UPDATE `graft.manifest`.`$root` SET value = value * 2 " +
        "WHERE event_type = 'click'").collect()
    require(upd.toSeq.map(r => (r.getString(0), r.getInt(1))) ==
      Seq(("update", 3)), s"unexpected UPDATE receipt: ${upd.toSeq}")
    s.sql(s"""
      SELECT event_type, count(1) AS cnt,
             cast(round(sum(cast(value AS decimal(18,6))), 4) AS double) AS sum_value
      FROM `graft.manifest`.`$root`
      GROUP BY event_type
      ORDER BY event_type""")
  }

  /** The full lakehouse lifecycle addressed by CATALOG NAME — the
    * reference's posture, where every verb takes a `table_name`
    * (`locopy/redshift.py:193-233,588-600`): `CREATE TABLE … USING
    * graft.manifest LOCATION …` registers the log in the session
    * catalog, then CTAS/INSERT/DELETE/UPDATE/MERGE/SELECT all address
    * it as `t` (resolution in [[graft.plans.ResolveManifestRelation]],
    * which preempts Spark's stale-caching `FindDataSourceTable` path).
    * Receipts are require-pinned: both parity segments hold matches
    * for each verb, so DELETE/UPDATE/MERGE each rewrite exactly 2.
    * Oracle replays the verbs relationally over raw events. */
  private[graft] def manifestNamedSql(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_namedq__log")
    ManifestTable.destroy(s, root)
    s.sql("DROP TABLE IF EXISTS graft_named_lt")
    t(s, dir, "events").select("event_id", "event_type", "value")
      .createOrReplaceTempView("named_src_events")
    s.sql(s"""
      CREATE TABLE graft_named_lt USING `graft.manifest` LOCATION '$root'
      AS SELECT event_id, event_type, value
         FROM named_src_events WHERE event_id % 2 = 0""")
    s.sql("""
      INSERT INTO graft_named_lt
      SELECT event_id, event_type, value
      FROM named_src_events WHERE event_id % 2 = 1""")
    def receipt(sql: String): (String, Int) = {
      val r = s.sql(sql).collect()
      (r.head.getString(0), r.head.getInt(1))
    }
    val del = receipt("DELETE FROM graft_named_lt WHERE event_id % 5 = 2")
    require(del == ("delete", 2), s"unexpected DELETE receipt: $del")
    val upd = receipt("UPDATE graft_named_lt SET value = value * 2 " +
      "WHERE event_type = 'click'")
    require(upd == ("update", 2), s"unexpected UPDATE receipt: $upd")
    s.sql("SELECT event_id, event_type, value FROM named_src_events " +
      "WHERE event_id % 3 = 0").createOrReplaceTempView("named_merge_src")
    val mrg = receipt("""
      MERGE INTO graft_named_lt t USING named_merge_src s
      ON t.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET value = s.value * 3
      WHEN NOT MATCHED THEN
        INSERT (event_id, event_type, value)
        VALUES (s.event_id, s.event_type, s.value)""")
    require(mrg == ("merge", 2), s"unexpected MERGE receipt: $mrg")
    val out = s.sql("""
      SELECT event_type, count(1) AS cnt,
             cast(round(sum(cast(value AS decimal(18,6))), 4) AS double) AS sum_value
      FROM graft_named_lt
      GROUP BY event_type
      ORDER BY event_type""").localCheckpoint()
    s.sql("DROP TABLE graft_named_lt")
    out
  }

  /** `ALTER TABLE … ADD COLUMN(S)` — the DDL verb a warehouse user
    * types first (reference posture: everything-through-SQL,
    * `locopy/database.py:131-190`), routed onto the log's additive-
    * evolution commit ([[graft.io.ManifestTable.addColumns]]: ONE
    * empty schema-carrying segment, zero data rewrite). Exercised on
    * BOTH addressing faces — by catalog name (catalog schema synced,
    * so the post-ALTER INSERT coerces against the evolved shape) and
    * by path. Pre-ALTER rows read NULL in the added columns; the
    * oracle replays that split relationally. */
  private[graft] def manifestAlterSql(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_alterq__log")
    ManifestTable.destroy(s, root)
    s.sql("DROP TABLE IF EXISTS graft_alter_lt")
    t(s, dir, "events").select("event_id", "event_type", "value")
      .createOrReplaceTempView("alter_src_events")
    s.sql(s"""
      CREATE TABLE graft_alter_lt USING `graft.manifest` LOCATION '$root'
      AS SELECT event_id, event_type FROM alter_src_events
         WHERE event_id % 2 = 0""")
    val rc = s.sql(
      "ALTER TABLE graft_alter_lt ADD COLUMNS (value DOUBLE, note STRING)")
      .collect()
    require(rc.toSeq.map(r => (r.getString(0), r.getInt(1))) ==
      Seq(("alter", 2)), s"unexpected ALTER receipt: ${rc.toSeq}")
    // the path face takes the same verb
    s.sql(s"ALTER TABLE `graft.manifest`.`$root` ADD COLUMN (flag BOOLEAN)")
    s.sql("""
      INSERT INTO graft_alter_lt
      SELECT event_id, event_type, value, 'new', event_id % 4 = 1
      FROM alter_src_events WHERE event_id % 2 = 1""")
    val out = s.sql("""
      SELECT event_type, count(1) AS cnt, count(value) AS with_value,
             cast(round(sum(cast(value AS decimal(18,6))), 4) AS double) AS sum_value,
             count(note) AS with_note, count_if(flag) AS n_flagged
      FROM graft_alter_lt
      GROUP BY event_type
      ORDER BY event_type""").localCheckpoint()
    s.sql("DROP TABLE graft_alter_lt")
    out
  }

  /** `ALTER TABLE … DROP COLUMN` — the inverse DDL verb: one
    * schema-projection commit (a carried-forward `#dropcol` set,
    * ZERO data IO — segment bytes disappear at the next rewrite).
    * Require-pinned semantics: the head loses the column, the
    * pre-drop snapshot still time-travels WITH it, the post-drop
    * INSERT coerces against the narrowed schema, and re-ADDing the
    * dropped name works WITHOUT a rewrite (r17 column mapping: the
    * new column mints a fresh physical name, so the old values still
    * in unrewritten segments never resurface — it reads all-NULL).
    * Oracle replays the surviving columns over raw events. */
  private[graft] def manifestDropSql(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_dropq__log")
    ManifestTable.destroy(s, root)
    s.sql("DROP TABLE IF EXISTS graft_drop_lt")
    t(s, dir, "events").select("event_id", "event_type", "value")
      .createOrReplaceTempView("drop_src_events")
    s.sql(s"""
      CREATE TABLE graft_drop_lt USING `graft.manifest` LOCATION '$root'
      AS SELECT event_id, event_type, value, concat('n', event_id) AS note
         FROM drop_src_events WHERE event_id % 2 = 0""")
    val preV = ManifestTable.versions(s, root).max
    val rc = s.sql("ALTER TABLE graft_drop_lt DROP COLUMN note").collect()
    require(rc.toSeq.map(r => (r.getString(0), r.getInt(1))) ==
      Seq(("alter", 1)), s"unexpected ALTER receipt: ${rc.toSeq}")
    require(!s.table("graft_drop_lt").columns.contains("note"),
      "dropped column must leave the head schema")
    require(s.sql(s"SELECT * FROM graft_drop_lt VERSION AS OF $preV")
      .columns.contains("note"),
      "pre-drop snapshot must still carry the column")
    s.sql("""
      INSERT INTO graft_drop_lt
      SELECT event_id, event_type, value
      FROM drop_src_events WHERE event_id % 2 = 1""")
    // re-ADD of the dropped name WITHOUT a rewrite (r17 column
    // mapping): the column comes back under a FRESH physical name
    // bound by a #colmap entry, so the old values still sitting in
    // unrewritten segments can never resurface — it reads all-NULL
    val readd = s.sql(
      "ALTER TABLE graft_drop_lt ADD COLUMN (note STRING)").collect()
    require(readd.toSeq.map(r => (r.getString(0), r.getInt(1))) ==
      Seq(("alter", 1)), s"unexpected re-ADD receipt: ${readd.toSeq}")
    require(s.sql("SELECT count(note) FROM graft_drop_lt")
      .head().getLong(0) == 0L,
      "re-added column must read all-NULL, never the old values")
    require(ManifestTable.columnMapping(s, root).exists(_._2 == "note"),
      "re-add must ride a fresh-physical #colmap entry")
    // drop it again: the output keeps the narrowed 3-column shape
    s.sql("ALTER TABLE graft_drop_lt DROP COLUMN note")
    val out = s.sql("""
      SELECT event_type, count(1) AS cnt,
             cast(round(sum(cast(value AS decimal(18,6))), 4) AS double) AS sum_value
      FROM graft_drop_lt
      GROUP BY event_type
      ORDER BY event_type""").localCheckpoint()
    s.sql("DROP TABLE graft_drop_lt")
    out
  }

  /** `ALTER TABLE … RENAME COLUMN` — one COLUMN-MAPPING commit
    * ([[graft.io.ManifestTable.renameColumn]]): the physical in-parquet
    * name never changes (a `#colmap` line binds it to the new logical
    * name), so the rename is zero-data-IO at any table size, every
    * segment keeps agreeing on physical names (the SQL face stays one
    * homogeneous parquet scan with an alias projection on top), and
    * pre-rename snapshots time-travel under the OLD name. Exercised on
    * BOTH addressing faces, chained (value→amount→amount2), with an
    * INSERT through the renamed surface and an UPDATE through the
    * mapping; require-pins: receipt shape, zero-data-IO (same segment
    * list), old-name time travel, and physical-name constancy of the
    * post-rename segment. Oracle replays the arithmetic over raw
    * events. */
  private[graft] def manifestRenameSql(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_renq__log")
    ManifestTable.destroy(s, root)
    s.sql("DROP TABLE IF EXISTS graft_ren_lt")
    t(s, dir, "events").select("event_id", "event_type", "value")
      .createOrReplaceTempView("ren_src_events")
    s.sql(s"""
      CREATE TABLE graft_ren_lt USING `graft.manifest` LOCATION '$root'
      AS SELECT event_id, event_type, value FROM ren_src_events
         WHERE event_id % 2 = 0""")
    val preV = ManifestTable.versions(s, root).max
    val rc = s.sql("ALTER TABLE graft_ren_lt RENAME COLUMN value TO amount")
      .collect()
    require(rc.toSeq.map(r => (r.getString(0), r.getString(1))) ==
      Seq(("alter", "value->amount")), s"unexpected RENAME receipt: ${rc.toSeq}")
    require(ManifestTable.segments(s, root) ==
      ManifestTable.segmentsAt(s, root, preV),
      "RENAME COLUMN must be zero data IO — same segment list")
    require(s.table("graft_ren_lt").columns.toSeq ==
      Seq("event_id", "event_type", "amount"), "head surfaces the new name")
    require(s.sql(s"SELECT * FROM graft_ren_lt VERSION AS OF $preV")
      .columns.contains("value"),
      "pre-rename snapshot must time-travel the OLD name")
    // INSERT speaks the renamed logical surface; the new segment keeps
    // the CONSTANT physical name (what keeps the SQL scan homogeneous)
    s.sql("""
      INSERT INTO graft_ren_lt
      SELECT event_id, event_type, value
      FROM ren_src_events WHERE event_id % 2 = 1""")
    val newSeg = ManifestTable.segments(s, root)
      .filterNot(ManifestTable.segmentsAt(s, root, preV).toSet).head
    require(ManifestTable.segmentMetas(s, root)(newSeg).schema
      .exists(_.fieldNames.contains("value")),
      "post-rename segments must keep the constant physical name")
    // the path face chains a second rename — still ONE mapping entry
    s.sql(s"ALTER TABLE `graft.manifest`.`$root` RENAME COLUMN amount TO amount2")
    require(ManifestTable.columnMapping(s, root) == Seq(("value", "amount2")),
      "chained renames fold to one #colmap entry")
    // row-level DML through the mapping
    s.sql("UPDATE graft_ren_lt SET amount2 = amount2 * 2 " +
      "WHERE event_type = 'click'")
    val out = s.sql("""
      SELECT event_type, count(1) AS cnt,
             cast(round(sum(cast(amount2 AS decimal(18,6))), 4) AS double)
               AS sum_amount
      FROM graft_ren_lt
      GROUP BY event_type
      ORDER BY event_type""").localCheckpoint()
    s.sql("DROP TABLE graft_ren_lt")
    out
  }

  /** `ALTER TABLE … ALTER COLUMN TYPE` — safe type WIDENING as one
    * empty marker-segment commit ([[graft.io.ManifestTable
    * .alterColumnType]]): no segment is rewritten; readers merge
    * per-segment schemas to the WIDER type and the parquet scan
    * upcasts old segments' values in place (int32→int64, decimal
    * precision growth — Spark 4 vectorized reader), the evolution
    * every long-lived table eventually needs at zero data IO.
    * Require-pins: receipt, data segments untouched, head widened on
    * both faces, pre-widen snapshot time-travels the NARROW type,
    * narrowing rejects loudly. The post-widen INSERT lands values only
    * the wide types can hold; the output aggregates across the mixed
    * narrow/wide segments in one scan. Oracle replays the split
    * relationally. */
  private[graft] def manifestWidenSql(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_widenq__log")
    ManifestTable.destroy(s, root)
    s.sql("DROP TABLE IF EXISTS graft_widen_lt")
    t(s, dir, "events").select("event_id", "event_type", "value")
      .createOrReplaceTempView("widen_src_events")
    s.sql(s"""
      CREATE TABLE graft_widen_lt USING `graft.manifest` LOCATION '$root'
      AS SELECT event_id, event_type,
                CAST(floor(value * 100) AS INT) AS cents,
                CAST(value AS DECIMAL(10,2)) AS d
         FROM widen_src_events WHERE event_id % 2 = 0""")
    val preV = ManifestTable.versions(s, root).max
    val rc = s.sql("ALTER TABLE graft_widen_lt ALTER COLUMN cents TYPE BIGINT")
      .collect()
    require(rc.toSeq.map(r => (r.getString(0), r.getString(1))) ==
      Seq(("alter", "cents:bigint")), s"unexpected WIDEN receipt: ${rc.toSeq}")
    require(ManifestTable.segmentsAt(s, root, preV).forall(
      ManifestTable.segments(s, root).contains),
      "widening must not rewrite any data segment")
    // decimal precision growth rides the path face
    s.sql(s"ALTER TABLE `graft.manifest`.`$root` ALTER COLUMN d TYPE DECIMAL(14,4)")
    require(s.table("graft_widen_lt").schema("cents").dataType ==
      org.apache.spark.sql.types.LongType, "head widened to bigint")
    require(s.sql(s"SELECT * FROM graft_widen_lt VERSION AS OF $preV")
      .schema("cents").dataType == org.apache.spark.sql.types.IntegerType,
      "pre-widen snapshot time-travels the narrow type")
    val narrow = scala.util.Try(
      s.sql("ALTER TABLE graft_widen_lt ALTER COLUMN cents TYPE INT").collect())
    require(narrow.isFailure &&
      narrow.failed.get.getMessage.contains("SAFE WIDENING"),
      s"narrowing must reject loudly: $narrow")
    // values only the WIDE types can hold, next to the narrow segments
    s.sql("""
      INSERT INTO graft_widen_lt
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) + 5000000000,
             CAST(value * 1000 AS DECIMAL(14,4))
      FROM widen_src_events WHERE event_id % 2 = 1""")
    val out = s.sql("""
      SELECT event_type, count(1) AS cnt, sum(cents) AS sum_cents,
             cast(round(sum(d), 4) AS double) AS sum_d
      FROM graft_widen_lt
      GROUP BY event_type
      ORDER BY event_type""").localCheckpoint()
    s.sql("DROP TABLE graft_widen_lt")
    out
  }

  /** Additive schema evolution through the SQL face: a second append
    * ADDS a column (no rewrite of the first segment — the O(batch)
    * evolution contract a 100 TB log needs), the relation's schema is
    * the additive merge of the per-segment embedded schemas (zero
    * footer jobs), pre-evolution rows NULL-fill, and row-level DML
    * works across the mixed-schema segments: one UPDATE back-fills
    * the NULL column — copy-on-write over exactly the segments it
    * touches. Oracle replays the evolution + backfill as CASE
    * projections over raw events. */
  private[graft] def manifestEvolveSql(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_evolveq__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events")
    ManifestTable.append(s, root,
      ev.filter(col("event_id") % 2 === 0).select("event_id", "value"))
    ManifestTable.append(s, root,
      ev.filter(col("event_id") % 2 === 1)
        .select("event_id", "value", "event_type"))
    // pre-evolution rows read NULL in the added column
    val nulls = s.sql(
      s"SELECT count(1) AS c FROM `graft.manifest`.`$root` WHERE event_type IS NULL")
      .head().getLong(0)
    val even = ev.filter(col("event_id") % 2 === 0).count()
    require(nulls == even, s"expected $even NULL-filled rows, got $nulls")
    // DML across mixed-schema segments: backfill the NULL column
    val upd = s.sql(s"UPDATE `graft.manifest`.`$root` " +
      "SET event_type = 'backfilled' WHERE event_type IS NULL").collect()
    require(upd.head.getLong(2) == even, s"backfill receipt: ${upd.toSeq}")
    s.sql(s"""
      SELECT event_type, count(1) AS cnt,
             cast(round(sum(cast(value AS decimal(18,6))), 4) AS double) AS sum_value
      FROM `graft.manifest`.`$root`
      GROUP BY event_type
      ORDER BY event_type""")
  }

  /** DESCRIBE HISTORY for the log, through SQL: a deterministic
    * lifecycle (two appends, a merge-on-read delete, a physical
    * compaction, a row-level SQL DELETE) must read back as exactly
    * those five commit kinds with the segment-list movement each
    * implies — the audit surface an operator of a 100 TB log checks
    * before trusting time travel or the change feed. Oracle: the
    * literal expected rows (commit times excluded — wall-clock). */
  private[graft] def manifestHistorySql(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_histq__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events").select("event_id", "value")
    ManifestTable.append(s, root, ev.filter(col("event_id") % 2 === 0))
    ManifestTable.append(s, root, ev.filter(col("event_id") % 2 === 1))
    ManifestTable.delete(s, root,
      ev.filter(col("event_id") % 10 === 3).select("event_id"))
    ManifestTable.compact(s, root)
    s.sql(s"DELETE FROM `graft.manifest`.`$root` WHERE event_id % 7 = 5")
    val rows = s.sql(s"SELECT count(1) FROM `graft.manifest`.`$root`")
      .head().getLong(0)
    val want = ev.filter(col("event_id") % 10 =!= 3)
      .filter(col("event_id") % 7 =!= 5).count()
    require(rows == want, s"audit drift: table has $rows rows, expected $want")
    s.sql(s"""
      SELECT version, kind, segments, added, dropped
      FROM graft_manifest_history('$root')
      ORDER BY version""")
  }

  /** Incremental aggregate view maintained THROUGH row-level DML: the
    * sync window holds two SQL DML commits (a DELETE whose 1:1
    * replacements are then touched by an UPDATE — the second commit's
    * pre-images NET against the first's in-window replacements, so the
    * retraction subtracts only the ORIGINAL segments' rows), and the
    * count/sum view must equal a from-scratch rollup of the final
    * state. DECIMAL measure per the view's determinism discipline.
    * Oracle: the delete filter + update CASE replayed under the same
    * rollup. */
  private[graft] def manifestDmlView(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{AggView, ManifestTable}
    val base = manifestRoot(s, "graft_dmlview__log")
    val view = manifestRoot(s, "graft_dmlview__view")
    ManifestTable.destroy(s, base)
    ManifestTable.destroy(s, view)
    ManifestTable.setRetainVersions(s, base, 8)
    val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
      col("value").cast("decimal(18,6)").as("v"))
    (0 to 1).foreach { k =>
      ManifestTable.append(s, base,
        ev.filter(pmod(col("event_id"), lit(2)) === k))
    }
    val spec = AggView.spec("event_type").count("cnt").sum("v", "sum_v")
    AggView.syncFromLog(s, view, base, spec)
    s.sql(s"DELETE FROM `graft.manifest`.`$base` WHERE event_id % 9 = 4")
    s.sql(s"UPDATE `graft.manifest`.`$base` SET v = v * 2 " +
      "WHERE event_type = 'view'")
    AggView.syncFromLog(s, view, base, spec)
    AggView.read(s, view, spec)
      .filter(col("cnt") > 0)
      .select(col("event_type"), col("cnt"),
        round(col("sum_v"), 4).cast("double").as("sum_v"))
      .orderBy("event_type")
  }

  /** SQL MERGE INTO on the log: conditional WHEN MATCHED DELETE /
    * UPDATE plus WHEN NOT MATCHED INSERT in one atomic commit. The
    * target splits into two parity segments; every matched id
    * (`%12 = 0`) is even, so the pruning-first plan rewrites exactly
    * ONE segment (require-pinned receipt) while the odd-parity
    * segment stays byte-identical. Oracle: the matched/not-matched
    * split replayed as a LEFT JOIN projection plus an anti-join
    * insert arm. */
  /** MERGE WITH SCHEMA EVOLUTION onto the log: the target starts
    * WITHOUT the `value` column; the source brings it, star actions
    * graft it, the target upgrades additively (untouched segments read
    * NULL — no rewrite of unmatched data). The shape Delta users reach
    * for first; reference posture: server-side MERGE via `execute`
    * (`locopy/database.py:131-190`) with warehouse-side ALTER. */
  private[graft] def manifestMergeEvolve(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_mergeev__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events")
    val tgt = ev.filter(col("event_id") % 3 === 0)
      .select("event_id", "event_type")
    (0 to 1).foreach { k =>
      ManifestTable.append(s, root,
        tgt.filter(pmod(col("event_id"), lit(2)) === k),
        statsCols = Seq("event_id"))
    }
    ev.filter(col("event_id") % 4 === 0)
      .select("event_id", "event_type", "value")
      .createOrReplaceTempView("merge_evolve_src")
    val rc = s.sql(s"""
      MERGE WITH SCHEMA EVOLUTION INTO `graft.manifest`.`$root` t
      USING merge_evolve_src s
      ON t.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""").collect()
    require(rc.toSeq.map(_.getString(0)) == Seq("merge"),
      s"unexpected MERGE receipt: ${rc.toSeq}")
    s.sql(s"""
      SELECT event_type, count(1) AS cnt, count(value) AS with_value,
             cast(round(sum(cast(value AS decimal(18,6))), 4) AS double) AS sum_value
      FROM `graft.manifest`.`$root`
      GROUP BY event_type
      ORDER BY event_type""")
  }

  /** Nested-field UPDATE through SQL: `SET s.f = …` composes onto the
    * struct pre-image via withField — schema unchanged, other fields
    * ride through. */
  private[graft] def manifestNestedUpdate(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_nestedupd__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events").filter(col("event_id") % 5 === 0)
      .select(col("event_id"),
        struct(col("event_type").as("kind"), col("value").as("amount")).as("payload"))
    (0 to 1).foreach { k =>
      ManifestTable.append(s, root,
        ev.filter(pmod(col("event_id"), lit(2)) === k),
        statsCols = Seq("event_id"))
    }
    val rc = s.sql(s"""
      UPDATE `graft.manifest`.`$root`
      SET payload.amount = payload.amount * 2, payload.kind = 'boosted'
      WHERE event_id % 10 = 0""").collect()
    require(rc.toSeq.map(_.getString(0)) == Seq("update"),
      s"unexpected UPDATE receipt: ${rc.toSeq}")
    s.sql(s"""
      SELECT payload.kind AS kind, count(1) AS cnt,
             cast(round(sum(cast(payload.amount AS decimal(18,6))), 4) AS double) AS sum_amount
      FROM `graft.manifest`.`$root`
      GROUP BY payload.kind
      ORDER BY kind""")
  }

  private[graft] def manifestMergeSql(s: SparkSession, dir: String): DataFrame = {
    import graft.io.ManifestTable
    val root = manifestRoot(s, "graft_mergeq__log")
    ManifestTable.destroy(s, root)
    val ev = t(s, dir, "events").select("event_id", "event_type", "value")
    val tgt = ev.filter(col("event_id") % 3 === 0)
    (0 to 1).foreach { k =>
      ManifestTable.append(s, root,
        tgt.filter(pmod(col("event_id"), lit(2)) === k),
        statsCols = Seq("event_id"))
    }
    ev.filter(col("event_id") % 4 === 0)
      .createOrReplaceTempView("merge_src_events")
    val rc = s.sql(s"""
      MERGE INTO `graft.manifest`.`$root` t
      USING merge_src_events s
      ON t.event_id = s.event_id
      WHEN MATCHED AND s.event_id % 24 = 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET value = s.value * 2
      WHEN NOT MATCHED THEN
        INSERT (event_id, event_type, value)
        VALUES (s.event_id, s.event_type, s.value)""").collect()
    require(rc.toSeq.map(r => (r.getString(0), r.getInt(1))) ==
      Seq(("merge", 1)), s"unexpected MERGE receipt: ${rc.toSeq}")
    s.sql(s"""
      SELECT event_type, count(1) AS cnt,
             cast(round(sum(cast(value AS decimal(18,6))), 4) AS double) AS sum_value
      FROM `graft.manifest`.`$root`
      GROUP BY event_type
      ORDER BY event_type""")
  }
}
