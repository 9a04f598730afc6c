package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Structured Streaming over the `events` table shape.
  *
  * The reference has no streaming surface (SURVEY §2.3 — "absent");
  * this is the engine extension: the same declarative operators under
  * `readStream`/`writeStream` with watermarks, windowed aggregation and
  * stateful dedup.
  *
  * 100 TB posture: tumbling-window aggregation shuffles on (window,
  * key) with partial aggregation map-side; watermark bounds state; the
  * streaming plans are identical to their batch twins, so every batch
  * query in the engine is reusable on a stream.
  */
/** One closed session emitted by [[Stream.statefulSessionize]]
  * (epoch-MICROsecond bounds — full event-time precision; the fixture
  * timestamps carry µs components that ms bounds would truncate). */
case class SessionOut(userId: Long, startUs: Long, endUs: Long,
    nEvents: Long, sumValue: Double)

object Stream {

  /** Tumbling-window aggregate per event_type. Batch/stream agnostic —
    * pass either a static or a streaming DataFrame. */
  def windowedAgg(events: DataFrame, window_ : String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("sum_value"),
        approx_count_distinct("user_id").as("approx_users"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"), col("approx_users"))

  /** Watermarked variant for true streaming input (late data dropped
    * after `lateness`). */
  def windowedAggStreaming(events: DataFrame, window_ : String = "1 hour",
      lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Stream-native exact dedup on a key column within the watermark
    * horizon — `dropDuplicates` keeps per-key state bounded by the
    * watermark. */
  def streamingDedup(events: DataFrame, keys: Seq[String],
      lateness: String = "2 hours"): DataFrame =
    events.withWatermark("ts", lateness).dropDuplicates(keys :+ "ts")

  /** Session windows: group events into per-user sessions separated by
    * `gap` of inactivity (built-in `session_window` — batch and stream
    * share the plan; on a stream add `withWatermark` first so session
    * state closes). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Custom stateful sessionizer via flatMapGroupsWithState (SURVEY
    * §7.4's "highest-complexity extension"): per-user running session
    * state with event-time timeout — emits one row per closed session.
    * This is the shape for session logic `session_window` can't
    * express (e.g., cap on events per session, custom close rules).
    * Works on a streaming Dataset (append mode, event-time timeout) and
    * on a batch Dataset (timeouts never fire; close remaining sessions
    * by feeding a sentinel or comparing against sessionWindows).
    *
    * Gap semantics match the built-in `session_window` exactly: a
    * session spans [start, last + gap), so an event arriving at a gap
    * of EXACTLY `gapMs` starts a NEW session (strict `< gapMs`
    * continues). This keeps the two sessionizers interchangeable and
    * lets them share one oracle. */
  def statefulSessionize(
      events: DataFrame,
      gapMs: Long = 30L * 60 * 1000,
      lateness: String = "2 hours"
  ): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMs * 1000L

    val typed = events
      .withWatermark("ts", lateness)
      .select(col("user_id").as("_1"),
        unix_micros(col("ts")).as("_2"),
        col("value").as("_3"))
      .as[(Long, Long, Double)]

    val isStreamingInput = typed.isStreaming
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Double), SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, Long, Double)],
            state: GroupState[(Long, Long, Long, Double)]) =>
          if (state.hasTimedOut) {
            val (start, end, n, sum) = state.get
            state.remove()
            Iterator(SessionOut(userId, start, end, n, sum))
          } else {
            val sorted = rows.toSeq.sortBy(_._2)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { case (_, ts, v) =>
              cur match {
                case Some((s, e, n, sum)) if ts - e < gapUs =>
                  cur = Some((s, ts, n + 1, sum + v))
                case Some((s, e, n, sum)) =>
                  closed ::= SessionOut(userId, s, e, n, sum)
                  cur = Some((ts, ts, 1L, v))
                case None =>
                  cur = Some((ts, ts, 1L, v))
              }
            }
            cur.foreach { c =>
              state.update(c)
              // GroupState timeouts are millisecond-granular
              if (isStreamingInput) state.setTimeoutTimestamp(c._2 / 1000 + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Run a windowed count/sum over TWO micro-batches with a watermark,
    * so late-data semantics actually execute: rows matching `latePred`
    * are withheld from the first batch and arrive in the second, by
    * which point the watermark has advanced to max(batch-1 event time,
    * ms-truncated) − `delay` — late rows whose window closed at or
    * before that watermark are DROPPED by the engine, and the append-
    * mode memory sink accumulates exactly the windows finalized at or
    * before the final watermark. Both effects are deterministic
    * functions of the input split, which is what the stream_late
    * DuckDB oracle recomputes.
    *
    * The driver-side collect is inherent to feeding a deterministic
    * MemoryStream two-batch schedule (a semantics harness, not a data
    * path — production streams read Kafka/files); rows are (long,
    * double) pairs, so even the bench-scale events table is a few MB.
    */
  def lateDataWindowCounts(
      spark: SparkSession,
      events: DataFrame,
      latePred: org.apache.spark.sql.Column,
      window_ : String = "1 hour",
      delay: String = "1 hour",
      queryName: String = "graft_stream_late"
  ): DataFrame = {
    import spark.implicits._
    // HARNESS BOUNDARY: driver-side collect is fixture-bounded (the
    // MemoryStream feed needs arrival order the file source can't
    // express). The 100 TB path is the file-source runner family
    // ([[runOnce]]/[[readEventsStream]]), which never collects.
    val rows = events
      .select(unix_micros(col("ts")).as("us"), col("value").cast("double"),
        latePred.cast("boolean").as("late"))
      .collect()
    val onTime = rows.filter(!_.getBoolean(2)).map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val late = rows.filter(_.getBoolean(2)).map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)](
      implicitly[org.apache.spark.sql.Encoder[(Long, Double)]], spark.sqlContext)
    val agg = ms.toDF()
      .select(timestamp_micros(col("_1")).as("ts"), col("_2").as("value"))
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), window_).as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("n_events"), col("sum_value"))
    val q = agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()
    try {
      ms.addData(onTime)
      q.processAllAvailable() // batch 1: no watermark yet, nothing late
      ms.addData(late)
      q.processAllAvailable() // batch 2 under wm1 + no-data batch at wm2
    } finally q.stop()
    spark.table(queryName)
  }

  /** Streaming UPSERT through `foreachBatch` — the serve-the-latest
    * pattern: each micro-batch is reduced to its newest row per key
    * (max (event time, event id, value) struct — id-tiebroken, so
    * deterministic), then MERGED into the manifest-table state at
    * `root` ([[mergeUpsertBatch]]): newest row per key wins across
    * batches, per-key update counts accumulate. Two scheduled
    * micro-batches (split by `batch2Pred`) make the cross-batch merge
    * real: keys present in both batches must take the global max and
    * SUM their counts, which only happens if batch 2's merge actually
    * reads batch 1's state.
    *
    * The final table is a pure function of the input set — the split
    * only changes the merge schedule — so a batch argmax oracle
    * gates it exactly (`__batch_id` is state bookkeeping the caller
    * projects away). Each batch is ONE atomic manifest commit, so the
    * change feed sees it as its own window. */
  def foreachBatchUpsert(
      spark: SparkSession,
      events: DataFrame,
      batch2Pred: org.apache.spark.sql.Column,
      root: String
  ): DataFrame = {
    graft.io.ManifestTable.destroy(spark, root)
    twoBatchFileSchedule(spark, events, batch2Pred,
      (batch, batchId) => mergeUpsertBatch(spark, root, batch, batchId))
    graft.io.ManifestTable.read(spark, root)
  }

  /** Deterministic two-micro-batch schedule through the CHECKPOINTED
    * file source — the production shape, fully distributed (no driver-
    * side row materialization): the non-`batch2Pred` rows land as
    * parquet and one AvailableNow run ingests them (batch 1); then the
    * `batch2Pred` rows are appended and a second run against the SAME
    * checkpoint ingests exactly the unseen files (batch 2) — the
    * restart-and-resume posture of a continuous pipeline. A NULL
    * predicate row lands in batch 1. */
  private def twoBatchFileSchedule(
      spark: SparkSession,
      events: DataFrame,
      batch2Pred: org.apache.spark.sql.Column,
      onBatch: (DataFrame, Long) => Unit): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_upsert2b_")
    val src = base.resolve("src").toString
    val cp = base.resolve("cp").toString
    val typed = events.select(
      col("user_id").cast("long").as("user_id"),
      unix_micros(col("ts")).as("us"),
      col("event_id").cast("long").as("event_id"),
      col("value").cast("double").as("value"),
      coalesce(batch2Pred.cast("boolean"), lit(false)).as("__b2"))
    typed.filter(!col("__b2")).drop("__b2").coalesce(1).write.parquet(src)
    def runAvailable(): Unit = {
      val q = spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
        .writeStream
        .foreachBatch(onBatch(_, _))
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runAvailable()
    typed.filter(col("__b2")).drop("__b2").coalesce(1)
      .write.mode("append").parquet(src)
    runAvailable()
  }

  /** One micro-batch of the upsert (the [[foreachBatchUpsert]] batch
    * body, public so replays can be driven directly in tests): reduce
    * the batch to one row per key — its newest (us, event_id, value),
    * its row count as `n_updates`, `batchId` as `__batch_id` — then
    * append it (first batch) or MERGE it on the key: a matched key
    * whose stamp is older than `batchId` takes the newer of the two
    * rows and adds the counts, an unmatched key is inserted.
    *
    * Replay-idempotent: foreachBatch is at-least-once on recovery, and
    * a re-delivered batch matches every key with its own stamp, so it
    * changes nothing (`n_updates` is never double-counted). The batch
    * is one atomic manifest commit, so a crash before the commit
    * leaves the pre-batch state readable (the written segments are
    * orphans no reader sees) and the replay converges. Concurrent
    * appenders are tolerated via the DML race retry. */
  def mergeUpsertBatch(spark: SparkSession, root: String,
      batch: DataFrame, batchId: Long): Unit = {
    import graft.io.{ManifestDml, ManifestTable}
    val delta = batch
      .groupBy(col("user_id"))
      .agg(max(struct(col("us"), col("event_id"), col("value"))).as("s"),
        count(lit(1)).as("n_updates"))
      .select(col("user_id"), col("s.us").as("us"),
        col("s.event_id").as("event_id"), col("s.value").as("value"),
        col("n_updates"), lit(batchId).as("__batch_id"))
    if (!ManifestTable.exists(spark, root))
      ManifestTable.append(spark, root, delta, statsCols = Seq("user_id"))
    else {
      def row(side: String) = struct(Seq("us", "event_id", "value")
        .map(c => col(s"$side.$c").as(c)): _*)
      val newest = greatest(row("__t"), row("__s"))
      ManifestDml.mergeInto(spark, root, delta,
        col("__t.user_id") === col("__s.user_id"),
        matched = Seq(ManifestDml.MergeUpdate(
          Some(col("__t.__batch_id") < col("__s.__batch_id")),
          Seq("us", "event_id", "value").map(c => c -> newest.getField(c)) ++ Seq(
            "n_updates" -> (col("__t.n_updates") + col("__s.n_updates")),
            "__batch_id" -> col("__s.__batch_id")))),
        notMatched = Seq(ManifestDml.MergeInsert(None,
          delta.columns.toSeq.map(c => c -> col(s"__s.$c")))),
        notMatchedBySource = Nil,
        retryRaces = true)
    }
  }

  /** Streaming CDC apply: a two-batch MemoryStream of I/U/D change
    * rows merged into the manifest-table base at `root` per
    * micro-batch (foreachBatch, [[applyCdcBatch]]). Because CDC ops
    * carry ABSOLUTE values, a re-delivered batch is naturally
    * idempotent — re-updates rewrite the same values, re-deletes
    * no-op, re-inserts overwrite themselves — so no batch-id stamping
    * is needed (unlike the upsert's n_updates counter); the spec pins
    * this replay-idempotence directly. The final state is
    * split-invariant (streaming 2-batch apply ≡ one batch MERGE of the
    * whole feed under latest-wins), which is what lets the oracle
    * replay it as a single relational apply.
    *
    * `feed` must carry (okey, seq, op, price, status, second) where
    * `second` routes the row to micro-batch 2. */
  def foreachBatchCdc(
      spark: SparkSession,
      base: DataFrame,
      feed: DataFrame,
      root: String
  ): DataFrame = {
    import spark.implicits._
    // HARNESS BOUNDARY: driver-side collect is fixture-bounded (the
    // CDC feed's batch split needs explicit MemoryStream control). The
    // 100 TB path is a file/log source + [[applyCdcBatch]], which
    // never collects.
    val rows = feed.select(col("okey").cast("long"), col("seq").cast("long"),
        col("op"), col("price").cast("double"), col("status"),
        coalesce(col("second").cast("boolean"), lit(false)))
      .collect()
    def part(second: Boolean): Seq[(Long, Long, String, Option[Double], Option[String])] =
      rows.filter(_.getBoolean(5) == second).toSeq.map { r =>
        (r.getLong(0), r.getLong(1), r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          Option(r.getString(4)))
      }
    graft.io.ManifestTable.destroy(spark, root)
    graft.io.ManifestTable.append(spark, root, base, statsCols = Seq("okey"))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Option[Double], Option[String])](
        implicitly[org.apache.spark.sql.Encoder[
          (Long, Long, String, Option[Double], Option[String])]],
        spark.sqlContext)
    val stream = ms.toDF().toDF("okey", "seq", "op", "price", "status")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyCdcBatch(spark, root, batch)
      }
      .start()
    try {
      ms.addData(part(second = false))
      q.processAllAvailable()
      ms.addData(part(second = true))
      q.processAllAvailable()
    } finally q.stop()
    graft.io.ManifestTable.read(spark, root)
  }

  /** One CDC micro-batch apply (the [[foreachBatchCdc]] batch body,
    * public so replay-idempotence can be driven directly in tests):
    * reduce the batch to its latest op per key ([[graft.io.Cdc
    * .latestOps]]) and MERGE it into the base at `root` with
    * [[graft.io.Cdc.applyChanges]]' upsert semantics — a 'D' deletes a
    * present key, any other op updates it or inserts an absent one.
    * One atomic manifest commit per batch; CDC ops carry ABSOLUTE
    * values, so a replayed batch rewrites identical rows. */
  def applyCdcBatch(spark: SparkSession, root: String, batch: DataFrame): Unit = {
    import graft.io.ManifestDml._
    val latest = graft.io.Cdc.latestOps(batch, "okey", "seq", "op",
      Seq("price", "status"))
    val isDelete = col("__s.op") === "D"
    graft.io.ManifestDml.mergeInto(spark, root, latest,
      col("__t.okey") === col("__s.okey"),
      matched = Seq(MergeDelete(Some(isDelete)),
        MergeUpdate(None, Seq("price" -> col("__s.price"),
          "status" -> col("__s.status")))),
      notMatched = Seq(MergeInsert(Some(!isDelete),
        Seq("okey", "price", "status").map(c => c -> col(s"__s.$c")))),
      notMatchedBySource = Nil)
  }

  /** Normalize the events `ts` column to TimestampType regardless of the
    * parquet physical type. Testdata `events` files vary by scale factor:
    * some store TIMESTAMP(NANOS), which (under `nanosAsLong`) load as raw
    * Long nanoseconds and need integer `div 1000` → micros conversion (ns
    * epochs exceed double's 2^53, so no floating-point path); others store
    * TIMESTAMP(MICROS), which load directly as a timestamp and must NOT be
    * divided. Guarding on the LOADED type makes every reader — and the
    * tests — agnostic to the footer's physical type. */
  def normalizeTs(df: DataFrame): DataFrame =
    if (!df.schema.fieldNames.contains("ts")) df
    else df.schema("ts").dataType match {
      // TIMESTAMP(NANOS) footer read under nanosAsLong: raw ns epoch
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // TIMESTAMP(MICROS, isAdjustedToUTC=false) loads as NTZ, which
      // watermarks reject; session tz is pinned to UTC, so the cast
      // reinterprets the same instant as TIMESTAMP (LTZ)
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Shared file-source reader for the `runOnce` family: probe the schema
    * with the batch reader, stream the file's PARENT directory with a glob
    * pinned to this file (FileStreamSource wants a directory), then
    * [[normalizeTs]]. This is the scale path: at 100 TB the glob widens to
    * the whole directory and the same reader streams it file-by-file. */
  private[graft] def readEventsStream(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema: StructType = spark.read.parquet(path).schema
    val p = new org.apache.hadoop.fs.Path(path)
    normalizeTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", p.getName)
      .parquet(p.getParent.toString))
  }

  /** Run a batch-parquet-driven streaming query synchronously into a
    * memory sink and return the result table. Exercises the real
    * streaming engine (micro-batches, state store) with deterministic
    * output (complete mode). */
  def runOnce(spark: SparkSession, path: String, window_ : String = "1 hour",
      queryName: String = "graft_stream_out"): DataFrame = {
    val stream = readEventsStream(spark, path)
    val agg = windowedAgg(stream, window_)
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** SLIDING-window aggregate (slide < window, so every event lands in
    * window/slide overlapping buckets) — batch/stream agnostic like
    * [[windowedAgg]]. Spark's `window(ts, w, s)` emits one row per
    * covering bucket; buckets are epoch-aligned to the slide grid. */
  def slidingAgg(events: DataFrame, window_ : String = "2 hours",
      slide: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), window_, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Run the sliding-window aggregate over the events file through the
    * REAL micro-batch engine (complete-mode memory sink, AvailableNow)
    * — the overlapping-bucket shape [[runOnce]]'s tumbling twin does
    * not cover. State per (bucket, event_type) key; each event updates
    * window/slide buckets, which is exactly what the oracle replays
    * with a k-offset unnest. */
  def runSlidingOnce(spark: SparkSession, path: String,
      window_ : String = "2 hours", slide: String = "1 hour",
      queryName: String = "graft_stream_sliding"): DataFrame = {
    val stream = readEventsStream(spark, path)
    val q = slidingAgg(stream, window_, slide).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Multi-file INCREMENTAL processing: stream a DIRECTORY of parquet
    * files with `maxFilesPerTrigger` = 1, so every file becomes its
    * own real micro-batch and the windowed aggregation state carries
    * across batches — the exact posture of a 100 TB backfill (the
    * single-file [[runOnce]] exercises the engine but collapses to
    * one batch). Complete mode makes the final table a pure function
    * of the union of files regardless of file layout or batch order,
    * which is what the batch oracle replays. Returns the result table
    * and the number of micro-batches that actually ran (callers
    * assert > 1 to prove incrementality). */
  def runMultiFile(spark: SparkSession, dir: String,
      window_ : String = "1 hour", maxFilesPerTrigger: Int = 1,
      queryName: String = "graft_stream_multifile"): (DataFrame, Long) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir).schema
    val stream = normalizeTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir))
    val q = windowedAgg(stream, window_).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0).toLong
    (spark.table(queryName), batches)
  }

  /** One CHECKPOINTED catch-up run of the windowed aggregation over a
    * file-source directory: complete-mode state lives in the real
    * state store under `checkpoint`, and each micro-batch's full
    * aggregate lands in the manifest table at `root` as ONE atomic
    * [[graft.io.ManifestTable.replace]] commit (memory sinks cannot
    * recover; a foreachBatch table sink can — a crash before the
    * commit leaves the previous aggregate readable and the replayed
    * batch replaces it). Returns the rows THIS run ingested — a
    * restarted run reads only files the checkpoint has not seen, which
    * is the recovery evidence callers assert. Calling twice with the
    * same checkpoint after adding files IS the crash/redeploy-and-resume
    * posture of a 100 TB continuous pipeline. */
  def runCheckpointed(spark: SparkSession, dir: String, checkpoint: String,
      root: String, window_ : String = "1 hour",
      maxFilesPerTrigger: Int = 1): Long = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir).schema
    val stream = normalizeTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir))
    val q = windowedAgg(stream, window_).writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.io.ManifestTable.replace(spark, root, batch)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.map(_.numInputRows).sum
  }

  /** Checkpointed file-source ingestion into a [[graft.io
    * .ManifestTable]] base log with per-micro-batch [[graft.io
    * .AggView]] maintenance — the continuous lakehouse posture: files
    * land, each becomes one base SEGMENT (O(batch) commit) tagged by
    * its micro-batch id, and the rollup view advances through the
    * change feed in the same batch. Exactly-once without idempotent
    * sinks: on an at-least-once replay the batch tag is detected from
    * [[graft.io.ManifestTable.segments]] alone (a manifest NAME SCAN,
    * no data read) and the append is skipped, while the view sync is
    * naturally idempotent (its cursor rides in its own segment tags).
    * A crash between base append and view sync replays into
    * skip-append + catch-up-sync — the two logs re-converge from
    * their own committed state, no two-phase coordination. Returns
    * the rows THIS run appended (a restarted run returns only the
    * unseen files' rows). */
  def runLakehouseIngest(spark: SparkSession, dir: String, checkpoint: String,
      baseRoot: String, viewRoot: String, spec: graft.io.AggView.Spec,
      maxFilesPerTrigger: Int = 1, optimizeEvery: Int = 0,
      smallBytes: Long = 64L * 1024 * 1024): Long = {
    import graft.io.{AggView, ManifestTable}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir).schema
    val stream = normalizeTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir))
    val ingested = spark.sparkContext.longAccumulator("graft.lakehouse.ingested")
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val tag = s"mb$batchId"
        val seen = ManifestTable.exists(spark, baseRoot) &&
          ManifestTable.segments(spark, baseRoot).exists(_.contains(s"-$tag-"))
        if (!seen) {
          val snap = batch.localCheckpoint() // one pass over the batch
          try {
            // retryRaces: source-derived batch content (see ManifestSink)
            ManifestTable.appendReserved(spark, baseRoot, snap,
              tag = Some(tag), retryRaces = true)
            ingested.add(snap.count())
          } finally graft.core.Lineage.release(snap)
        }
        AggView.syncFromLog(spark, viewRoot, baseRoot, spec)
        // auto-maintenance cadence: bin-pack small base segments once
        // their count reaches `optimizeEvery` (0 = manual only).
        // AFTER the view sync on purpose — the rewrite then folds
        // only segments already behind the view's change-feed cursor,
        // so the caught-up consumer walks through it (the marked-
        // rewrite contract) instead of tripping a full refresh.
        if (optimizeEvery > 0 && ManifestTable.exists(spark, baseRoot) &&
            ManifestTable.dataSegments(spark, baseRoot).size >= optimizeEvery)
          ManifestTable.optimize(spark, baseRoot, smallBytes)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ingested.value
  }

  /** Stream-static enrichment: join a live event stream against a
    * static dimension table and aggregate — the classic "attach the
    * customer/nation to each event" streaming pattern. The static side
    * rides the normal batch planner (broadcast if small); only the
    * stream's aggregation keeps state. Runs synchronously through the
    * real micro-batch engine into a complete-mode memory sink. */
  def runEnrichOnce(spark: SparkSession, path: String, dim: DataFrame,
      streamKey: String, dimKey: String, aggKey: String,
      queryName: String = "graft_stream_enrich"): DataFrame = {
    val stream = readEventsStream(spark, path)
    val enriched = stream.join(dim, col(streamKey) === col(dimKey))
      .groupBy(aggKey)
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
    val q = enriched.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** STREAM-STREAM inner join through the real micro-batch engine:
    * two live streams (left/right predicates over the same events
    * source — e.g. clicks vs purchases), equi-keyed on `keyCol`, with
    * the right event constrained to [left.ts, left.ts + within]. Both
    * sides carry watermarks, which together with the time-interval
    * condition bound the join state: left rows expire once the right
    * watermark passes left.ts + within, right rows once the left
    * watermark passes right.ts — the only posture under which two
    * unbounded streams can join forever. Output: one row per matched
    * (left, right) pair, append mode.
    *
    * Determinism contract: an append inner join emits exactly the
    * pairs both batches contain; with the whole fixture in one
    * micro-batch (single-file source under AvailableNow) the emitted
    * set equals the batch join — which is what the stream_join oracle
    * recomputes. Multi-batch input stays correct for pairs within the
    * watermark bound but can DROP cross-batch pairs farther apart in
    * event time than `lateness` — same single-batch caveat as
    * [[runDedupOnce]].
    *
    * 100 TB shape: both streams shuffle on the join key once;
    * interval filtering happens inside the keyed state store, never as
    * a cross product. */
  def runStreamJoinOnce(spark: SparkSession, path: String,
      leftPred: org.apache.spark.sql.Column, rightPred: org.apache.spark.sql.Column,
      keyCol: String = "user_id", within: String = "2 hours",
      lateness: String = "2 hours",
      queryName: String = "graft_stream_join",
      joinType: String = "inner"): DataFrame = {
    def side(pred: org.apache.spark.sql.Column, tag: String): DataFrame = {
      val s = readEventsStream(spark, path)
      s.filter(pred).withWatermark("ts", lateness)
        .select(col("event_id").as(s"${tag}_id"), col(keyCol).as(s"${tag}_key"),
          col("ts").as(s"${tag}_ts"), col("value").as(s"${tag}_value"))
    }
    // Outer variants: a left row's null-padded result emits only once
    // the right watermark passes its join window (state eviction) — the
    // no-data batch after AvailableNow advances the final watermark to
    // max(event time) − lateness, so unmatched lefts within
    // `within`+`lateness` of the fixture's end stay unflushed. That
    // cutoff is a deterministic function of the input, which is what
    // the stream_join_outer oracle replays.
    val joined = side(leftPred, "l").join(side(rightPred, "r"),
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"),
      joinType)
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Run streaming exact dedup over the events file through the REAL
    * streaming engine (micro-batches + state store) and return the
    * emitted first-occurrence rows. Uses
    * `dropDuplicatesWithinWatermark` — per-key state expires at the
    * watermark horizon, the bounded-state posture an unbounded stream
    * needs (plain `dropDuplicates` on keys grows state forever).
    *
    * Determinism contract: WHICH row of a duplicate key is emitted is
    * arrival-order-dependent, but the emitted KEY SET over a bounded
    * input is exactly the distinct key set — aggregate on the keys
    * (as the stream_dedup query does) for an oracle-exact result.
    * This single-file source under AvailableNow lands the whole input
    * in one micro-batch, so the emitted key set equals the batch
    * distinct-key set. The MULTI-batch state lifecycle — expiry at the
    * watermark horizon, re-emission after expiry, late-arrival drops —
    * is exercised and exactly oracled by [[runDedupMultiBatch]]. */
  def runDedupOnce(spark: SparkSession, path: String, keys: Seq[String],
      lateness: String = "2 hours",
      queryName: String = "graft_stream_dedup"): DataFrame = {
    val stream = readEventsStream(spark, path)
    val dd = stream
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keys)
    val q = dd.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming exact dedup across TWO micro-batches, exercising the
    * full `dropDuplicatesWithinWatermark` state lifecycle — emit on
    * first sight, drop while per-key state lives, EXPIRE at the
    * watermark horizon, re-emit after expiry, and drop batch-2 rows
    * that arrive older than the advanced watermark. All five outcomes
    * are deterministic functions of the input split, so the emitted
    * (key, ts) set is hash-oracle-able.
    *
    * Determinism: each (key, batch) is reduced driver-side to ONE
    * representative row — batch 1 keeps the key's LATEST pre-split
    * event (so state expiry depends on last activity, the TTL cache
    * shape), batch 2 its EARLIEST post-split event — because
    * WITHIN-batch duplicate arrival order is partition-dependent and
    * would make the stored event time (hence expiry) nondeterministic.
    * The TTL rule the oracle replays: batch 1 emits every key; the
    * batch-2 watermark is max(batch-1 ts) − `lateness`; a batch-2 row
    * is emitted iff it is not late (ts ≥ watermark) AND its key's
    * state has expired (stored ts + `lateness` ≤ watermark) or never
    * existed.
    *
    * 100 TB shape: the dedup operator shuffles once on the key; state
    * is watermark-bounded. The driver-side collect feeds the
    * deterministic two-batch MemoryStream schedule (semantics harness,
    * as in [[lateDataWindowCounts]]), not a data path. */
  def runDedupMultiBatch(
      spark: SparkSession,
      events: DataFrame,
      batch2Pred: org.apache.spark.sql.Column,
      keyCol: String = "user_id",
      lateness: String = "1 hour",
      queryName: String = "graft_stream_dedup_mb"
  ): DataFrame = {
    import spark.implicits._
    // HARNESS BOUNDARY: the collect is PRE-AGGREGATED to one row per
    // (key, batch) — bounded by distinct keys, not events — and exists
    // only for explicit MemoryStream batch control. The 100 TB path is
    // [[runDedupOnce]] over the file source, which never collects.
    val rows = events
      .select(col(keyCol).cast("long").as("k"), unix_micros(col("ts")).as("us"),
        coalesce(batch2Pred.cast("boolean"), lit(false)).as("b2"))
      .groupBy("k", "b2")
      .agg(min("us").as("min_us"), max("us").as("max_us"))
      .collect()
    def part(second: Boolean) = rows.filter(_.getBoolean(1) == second)
      .map(r => (r.getLong(0), if (second) r.getLong(2) else r.getLong(3))).toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)](
      implicitly[org.apache.spark.sql.Encoder[(Long, Long)]], spark.sqlContext)
    val dd = ms.toDF()
      .select(col("_1").as(keyCol), timestamp_micros(col("_2")).as("ts"))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keyCol)
    val q = dd.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()
    try {
      ms.addData(part(second = false))
      q.processAllAvailable() // batch 1: no watermark yet — all keys emit
      ms.addData(part(second = true))
      q.processAllAvailable() // batch 2 under wm1: live-drop / re-emit / late-drop
    } finally q.stop()
    spark.table(queryName)
  }

  /** Streaming SCD2 (type-2 history) maintenance: purchase events
    * split across two REAL micro-batches build the versioned-history
    * manifest table at `root` incrementally through foreachBatch —
    * each batch re-versions ONLY its affected keys
    * ([[mergeScd2Batch]]), every other history row is carried
    * unchanged. Versioning is a pure function of the accumulated
    * (key, ts, event_id, value) set, so the final table is
    * split-invariant and the oracle replays it as the single-shot
    * lead() formulation (the q44 shape). */
  def foreachBatchScd2(
      spark: SparkSession,
      events: DataFrame,
      batch2Pred: org.apache.spark.sql.Column,
      root: String
  ): DataFrame = {
    import spark.implicits._
    // HARNESS BOUNDARY: driver-side collect is fixture-bounded (the
    // two-batch split needs explicit MemoryStream batch control). The
    // 100 TB path is the file-source runner family + [[mergeScd2Batch]],
    // which never collects.
    val rows = events
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        col("event_id").cast("long"), col("value").cast("double"),
        coalesce(batch2Pred.cast("boolean"), lit(false)))
      .collect()
    def part(second: Boolean) = rows.filter(_.getBoolean(4) == second)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    graft.io.ManifestTable.destroy(spark, root)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, Double)](
        implicitly[org.apache.spark.sql.Encoder[(Long, Long, Long, Double)]],
        spark.sqlContext)
    val stream = ms.toDF().toDF("user_id", "us", "event_id", "value")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeScd2Batch(spark, root, batch)
      }
      .start()
    try {
      ms.addData(part(second = false))
      q.processAllAvailable()
      ms.addData(part(second = true))
      q.processAllAvailable()
    } finally q.stop()
    graft.io.ManifestTable.read(spark, root)
  }

  /** Root dir of a streaming near-dup corpus: the [[graft.io
    * .ManifestTable]] `<table>__corpus` under the warehouse. */
  private[graft] def nearDupRoot(spark: SparkSession, table: String): String =
    graft.io.ManifestTable.warehouseRoot(spark, table + "__corpus")

  /** Drop a streaming near-dup corpus: the session temp view AND the
    * manifest-table dir (the [[graft.io.Load.dropManaged]] analogue
    * for this table kind). */
  def dropNearDup(spark: SparkSession, table: String): Unit = {
    spark.catalog.dropTempView(table)
    graft.io.ManifestTable.destroy(spark, nearDupRoot(spark, table))
    NearDupIndex.destroy(spark, nearDupRoot(spark, table))
  }

  /** Streaming NEAR-dup deduplication: documents arrive in micro-
    * batches; each batch is (1) near-dup'd within itself (MinHash-LSH
    * banding + exact shingle-Jaccard verify ≥ `threshold`, drop any
    * doc with a qualifying pair to a SMALLER id — the deterministic
    * keep-first rule), then (2) checked against the ACCUMULATED
    * accepted corpus via the PERSISTED banded index
    * ([[NearDupIndex]] candidates + [[graft.ext.Dedup
    * .verifyIncrement]] — partition-pruned index read, broadcast batch
    * bands, candidate-semi-join-pruned verify: never corpus², and no
    * O(corpus) shuffle either), and only novel docs
    * APPEND to the corpus. This is the streaming face of the
    * daily-ingest contract, now true for IO as well as CPU: the
    * corpus is a [[graft.io.ManifestTable]] (one segment dir per
    * ingest, atomic manifest commit), so each ingest WRITES only its
    * novel rows — previously committed segments stay byte-identical
    * (spec-pinned) — and pays O(batch · collisions) compute. The full
    * rewrite survives only as the explicit [[graft.io.ManifestTable
    * .compact]] maintenance action.
    *
    * Crash/replay contract: the manifest commit is atomic, so
    * readers see either the pre- or post-batch corpus, never a
    * half-append. The novel rows' bands are appended to the index
    * BEFORE the rows are appended to the corpus, so the index's ids
    * stay a superset of the corpus's ([[NearDupIndex]]); a crash in
    * between leaves band rows the verify ignores, because it looks
    * candidate ids up in the corpus alone. foreachBatch is
    * at-least-once — a replayed batch finds its docs already in the
    * corpus, every one self-pairs at J=1 ≥ threshold, the novel set is
    * empty and nothing commits (idempotence is spec-pinned). A crash
    * between segment write and manifest commit leaves an orphan dir no
    * reader sees; compact() collects it.
    *
    * `spark.table(table)` keeps working: the merged corpus is
    * registered as a session temp view over the manifest read.
    * `counter`, when given, accumulates the batch's row count (the
    * progress-buffer-proof ingest tally for [[runNearDupDir]]). */
  def mergeNearDupBatch(spark: SparkSession, table: String,
      batch: DataFrame, threshold: Double = 0.8,
      counter: Option[org.apache.spark.util.LongAccumulator] = None): Unit = {
    val root = nearDupRoot(spark, table)
    // snapshot BEFORE any action (even isEmpty reads the source): the
    // merge evaluates the batch several times (signatures, shingle
    // arrays, anti-joins), and inside foreachBatch each re-evaluation
    // would re-scan the source file
    val b0 = batch.localCheckpoint()
    // one action covers both the ingest tally and the empty-batch
    // exit (count + isEmpty were two scheduler rounds for one answer)
    val nRows = b0.count()
    counter.foreach(_.add(nRows))
    if (nRows == 0L) { graft.core.Lineage.release(b0); return }
    // NULL text must not vanish in enrichment (explode over a null
    // shingle array emits no rows, silently REJECTING the doc): an
    // empty string shingles to [""] and so survives as a normal,
    // accept-if-pairless document
    val b = b0.withColumn("text", coalesce(col("text"), lit("")))
    // Batch text is processed EXACTLY ONCE: signature and shingle-hash
    // arrays are computed here, used for the within-batch pass, the
    // corpus check, and then PERSISTED with the accepted rows — so the
    // accumulated corpus never re-shingles on later ingests (the
    // incremental contract: per-batch CPU is O(batch) text work plus
    // the banded join over compact stored rows).
    //
    // ONE narrow projection (r18): sig derives per-row from the same
    // distinct shingle-hash array the verify side stores
    // ([[graft.functions.MinhashImpl]] — bit-identical to the old
    // explode→groupBy signature, a min over the same set), so the
    // former shape (signature aggregation exchange + two doc_id joins
    // back onto the batch) collapses to zero shuffles per ingest.
    val enriched = b
      .withColumn("__sh", graft.functions.charShingles(col("text"), 5))
      .withColumn("sz", size(col("__sh")))
      .withColumn("hs",
        array_sort(array_distinct(transform(col("__sh"), s => xxhash64(s)))))
      .withColumn("sig", graft.functions.fx.minhashSigFromHashes(col("hs"), 64))
      .select(col("doc_id"), col("text"), col("sig"), col("sz"), col("hs"))
      .localCheckpoint()
    def sigOf(df: DataFrame) = df.select(col("doc_id").as("id"), col("sig"))
    def hashedOf(df: DataFrame) =
      df.select(col("doc_id").as("id"), col("sz"), col("hs"))
    val withinPairs = graft.ext.Dedup.nearDupePairsStored(
      sigOf(enriched), hashedOf(enriched), threshold, k = 64, bands = 16)
    // the within-batch pass (banded self-join + exact verify, several
    // shuffle stages) runs EXACTLY ONCE: its survivors are snapshotted
    // and every downstream consumer — the corpus-pass banding, the
    // verify's batch side, the novel anti-join — reads the snapshot.
    // Unsnapshotted, the same pipeline re-executed up to three times
    // per ingest (each consumer is a separate DAG branch and Spark
    // does not dedupe common subplans) — the bulk of the ~2 s/ingest
    // toy-scale scheduling constant round 12 disclosed.
    val withinSurv = enriched.join(
      withinPairs.select(col("id_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
      .localCheckpoint()
    // corpus check: READ-side O(batch · collisions), the round-11
    // write-side twin. Candidates come from the PERSISTED banded index
    // (NearDupIndex — partition-pruned to the batch's own pb collision
    // partitions; the batch's banded rows broadcast, so no corpus data
    // shuffles), and the verify joins see only corpus rows the
    // candidate-id semi-join keeps (Dedup.verifyIncrement), so an
    // ingest shuffles O(batch · collisions), not O(corpus). That is
    // flat only while collisions are: the spec pins it on fixture docs,
    // but on the neardup_stream workload's 31-word vocabulary random
    // docs share LSH buckets, and per 2,500-doc batch the candidates
    // grew 36k → 148k and shuffle read 66 → 123 MB as the corpus grew
    // 2.4k → 9.5k docs (4 cores), the pruned side ~93% of the corpus.
    val cross =
      if (!graft.io.ManifestTable.exists(spark, root)) None
      else {
        NearDupIndex.ensure(spark, root) // rebuild a missing index
        // banded rows derive NARROWLY (a posexplode, no shuffle) from
        // the survivor snapshot — re-evaluation per consumer is
        // cheaper than a dedicated snapshot job was
        val batchBanded = NearDupIndex.withPb(
          graft.ext.Dedup.bandedFromSig(sigOf(withinSurv)))
        // the batch's collision partitions: ≤ PartBuckets values
        val pbs = batchBanded.select("pb").distinct()
          .collect().map(_.getInt(0)).toSeq
        // materialized: verifyIncrement reads cands twice (candidate-id
        // broadcast + the verify join) — unmaterialized, the whole
        // index read + candidate join would execute twice per ingest
        val cands = graft.ext.Dedup.incrementCandidatesBanded(
          batchBanded, NearDupIndex.read(spark, root, pbs))
          .localCheckpoint()
        Some((graft.ext.Dedup.verifyIncrement(
          cands, hashedOf(graft.io.ManifestTable.read(spark, root)),
          hashedOf(withinSurv), threshold), cands))
      }
    // first ingest (no corpus): novel IS the already-checkpointed
    // within-batch survivor snapshot — re-checkpointing it would spend
    // one more job + a block-manager copy for nothing (r18)
    val snap = cross match {
      case None => withinSurv
      case Some((pairs, _)) =>
        withinSurv.join(
          pairs.select(col("batch_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
          .localCheckpoint()
    }
    if (!snap.isEmpty) {
      // index first, from the rows still in memory: a crash between
      // the two commits leaves the index a superset of the corpus
      NearDupIndex.write(spark, root, sigOf(snap))
      graft.io.ManifestTable.append(spark, root, snap)
    }
    if (graft.io.ManifestTable.exists(spark, root))
      graft.io.ManifestTable.read(spark, root).createOrReplaceTempView(table)
    cross.foreach { case (_, cd) => graft.core.Lineage.release(cd) }
    graft.core.Lineage.release(snap, withinSurv, enriched, b0)
    ()
  }

  /** The 100 TB path for streaming near-dup dedup: a checkpointed
    * file-source run over a document directory, one micro-batch per
    * file, each batch merged by [[mergeNearDupBatch]] — no driver-side
    * collect anywhere; restarting against the same checkpoint ingests
    * only unseen files. No crash preamble is needed: the manifest
    * commit is atomic, so the corpus is always whole (the preamble
    * here only re-registers the session view over an existing
    * corpus, e.g. after a bare restart that fires zero batches).
    * Returns rows ingested THIS run — tallied by an accumulator
    * inside the batch body, NOT from `recentProgress`, whose ring
    * buffer caps at `numRecentProgressUpdates` (default 100) entries
    * and would silently undercount a >100-file backfill. */
  def runNearDupDir(spark: SparkSession, dir: String, checkpoint: String,
      table: String, threshold: Double = 0.8,
      maxFilesPerTrigger: Int = 1, maxSegments: Int = 128,
      packEvery: Int = 16): Long = {
    val root = nearDupRoot(spark, table)
    if (graft.io.ManifestTable.exists(spark, root))
      graft.io.ManifestTable.read(spark, root).createOrReplaceTempView(table)
    val ingested = spark.sparkContext.longAccumulator(s"graft_neardup_$table")
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeNearDupBatch(spark, table, batch, threshold,
          counter = Some(ingested))
        // compaction policy: one segment lands per novel-bearing
        // ingest; past `maxSegments` the per-read open cost starts to
        // matter, so fold the log back to one segment here — this is
        // the ONLY full rewrite in the path, amortized to once per
        // maxSegments ingests and crash-safe (compact commits through
        // the same atomic manifest rename; a crash mid-compact leaves
        // the old manifest readable). The doc set is unchanged, so the
        // band index is too.
        if (graft.io.ManifestTable.segments(spark, root).size > maxSegments) {
          graft.io.ManifestTable.compact(spark, root)
          graft.io.ManifestTable.read(spark, root)
            .createOrReplaceTempView(table)
        }
        // index-side auto-maintenance (the r13 pack() verb, now on a
        // cadence): between corpus compactions each ingest adds one
        // index segment and every corpus check opens all of them —
        // once the open count reaches `packEvery`, fold the index
        // back to one segment (index rows are ~2.5% of signature
        // bytes, so this is cheap and never touches corpus data). The
        // invariant a spec pins: indexRoots stays ≤ packEvery after
        // EVERY ingest, for any run length, without operator action.
        else if (packEvery > 0 &&
            NearDupIndex.indexRoots(spark, root).size >= packEvery)
          NearDupIndex.pack(spark, root)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ingested.value
  }

  /** Two-micro-batch near-dup dedup run over a document set split by
    * `batch2Pred` — the [[foreachBatchScd2]] harness shape driving
    * [[mergeNearDupBatch]]. Returns the final accepted-corpus table. */
  def foreachBatchNearDup(
      spark: SparkSession,
      docs: DataFrame,
      batch2Pred: org.apache.spark.sql.Column,
      threshold: Double = 0.8,
      table: String = "graft_stream_neardup"
  ): DataFrame = {
    import spark.implicits._
    // HARNESS BOUNDARY: driver-side collect is fixture-bounded (the
    // two-batch split needs explicit MemoryStream batch control). The
    // 100 TB path is the file-source runner family + [[mergeNearDupBatch]],
    // which never collects.
    val rows = docs
      .select(col("doc_id").cast("long"), col("text"),
        coalesce(batch2Pred.cast("boolean"), lit(false)))
      .collect()
    def part(second: Boolean) = rows.filter(_.getBoolean(2) == second)
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    dropNearDup(spark, table)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](
        implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
        spark.sqlContext)
    val stream = ms.toDF().toDF("doc_id", "text")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeNearDupBatch(spark, table, batch, threshold)
      }
      .start()
    try {
      ms.addData(part(second = false))
      q.processAllAvailable()
      ms.addData(part(second = true))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(table)
  }

  /** One SCD2 micro-batch merge (the [[foreachBatchScd2]] batch body):
    * re-version ONLY the batch's affected keys — their existing
    * history rows reduce back to raw (ts, event_id, value) facts
    * (valid_from IS the fact timestamp), union the batch, and one
    * key-partitioned lead() window rebuilds their intervals. The
    * re-versioned rows MERGE into the state at `root` on the fact
    * identity (user_id, event_id): every state row of an affected key
    * matches exactly one of them and takes its interval, new facts
    * insert, and copy-on-write carries every other row of a touched
    * segment. Re-versioning is idempotent (a pure function of the
    * accumulated fact set), so a re-delivered batch rewrites
    * identical rows; each batch is one atomic manifest commit. */
  def mergeScd2Batch(spark: SparkSession, root: String,
      batch: DataFrame): Unit = {
    import graft.io.{ManifestDml, ManifestTable}
    // ONE pass over the batch source: the fact snapshot serves the
    // key set, the redelivery anti-join and the re-versioning
    val facts = batch.select(col("user_id"), col("us"), col("event_id"),
      col("value")).localCheckpoint()
    try {
      if (!ManifestTable.exists(spark, root))
        ManifestTable.append(spark, root, version(facts), statsCols = Seq("user_id"))
      else {
        val keys = facts.select("user_id").distinct()
        // (user_id, event_id) is the fact identity: state copies of
        // facts the batch redelivers are dropped (batch wins), so an
        // at-least-once replay rewrites identical rows instead of
        // versioning every fact twice — and a corrected fact (same
        // event_id, new value) supersedes its old version
        val stateFacts = ManifestTable.read(spark, root)
          .join(keys, Seq("user_id"), "left_semi")
          .select(col("user_id"), col("valid_from").as("us"), col("event_id"),
            col("value"))
          .join(facts.select("user_id", "event_id"),
            Seq("user_id", "event_id"), "left_anti")
        val cols = Seq("valid_from", "value", "valid_to", "is_current")
        ManifestDml.mergeInto(spark, root, version(stateFacts.unionByName(facts)),
          col("__t.user_id") === col("__s.user_id") &&
            col("__t.event_id") === col("__s.event_id"),
          matched = Seq(ManifestDml.MergeUpdate(None,
            cols.map(c => c -> col(s"__s.$c")))),
          notMatched = Seq(ManifestDml.MergeInsert(None,
            ("user_id" +: "event_id" +: cols).map(c => c -> col(s"__s.$c")))),
          notMatchedBySource = Nil)
      }
    } finally graft.core.Lineage.release(facts)
  }

  /** The SCD2 versioning kernel: one key-partitioned lead() over the
    * raw facts — valid_to = next version's valid_from, open for the
    * current row. */
  private def version(facts: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("valid_from", "event_id")
    facts.select(col("user_id"), col("us").as("valid_from"), col("event_id"),
        col("value"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }
}
