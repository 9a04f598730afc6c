package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.GlobalOrder

/** Token-budget shard packing: assign each document a shard id such
  * that consecutive documents (in id order) fill each shard to a
  * weight budget — the "pack documents into ~1 GB / ~N-token training
  * shards" step at the end of every corpus pipeline.
  *
  * Semantics: with documents ordered by `idCol`, a document whose
  * preceding cumulative weight is `p` lands in shard `p div budget`
  * (documents are never split; a shard may overflow by at most one
  * document, the standard greedy rule).
  *
  * The preceding cumulative weight is [[graft.core.GlobalOrder]]'s
  * exclusive prefix sum over ids bucketed by `id div 4096` — never the
  * global `sum(w) OVER (ORDER BY id)` window.
  */
object Pack {

  /** Id range per prefix-sum bucket: n dense ids make n/4096 buckets. */
  private val BucketWidth = 4096.0

  private def idBucket(idCol: String) =
    floor(col(idCol).cast("double") / lit(BucketWidth)).cast("long")

  /** Add a `shard_id` column packing rows (in `idCol` order) into
    * consecutive shards of ≈`budget` total `weightCol`.
    *
    * `idCol` must be numeric and unique (document ids); `weightCol`
    * non-negative (token counts). */
  def packShards(df: DataFrame, idCol: String, weightCol: String,
                 budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    GlobalOrder.exclusivePrefix(df, idCol, idBucket(idCol),
        col(weightCol).cast("long") -> "__pre")
      // preceding-weight div budget; __pre < 2⁵³ so the double path is exact
      .withColumn("shard_id", floor(col("__pre").cast("double") / lit(budget.toDouble)).cast("long"))
      .drop("__pre")
  }

  /** Concat-and-chunk sequence packing — the LM-training data step:
    * every document's token-id sequence (plus one `eosId` separator)
    * is concatenated in `idCol` order into one global token stream,
    * which is then cut into fixed-length training sequences of
    * `seqLen` ids (`seq_idx` ascending, last sequence ragged).
    * Documents are never reordered and never split across a boundary
    * inconsistently — token `g` of the stream lands in sequence
    * `g div seqLen` at offset `g mod seqLen`, exactly the
    * deterministic layout a packed pre-training corpus uses.
    *
    * Output: (seq_idx, tokens, n_tokens) with `tokens` the ordered id
    * array.
    *
    * Scale shape: per-document lengths feed the same
    * [[graft.core.GlobalOrder]] prefix sum as [[packShards]]; the
    * explode emits (global-pos, id) pairs that shuffle ONCE on seq_idx;
    * sequence assembly is the array_sort ∘ collect_list struct pattern
    * (never collect_list order). Nothing reaches the driver. */
  def packSequences(ids: DataFrame, seqLen: Int, eosId: Int = -1,
                    idCol: String = "doc_id", tokenCol: String = "token_ids"): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val withEos = ids.select(col(idCol),
        concat(col(tokenCol), array(lit(eosId))).as("__toks"))
      .withColumn("__len", size(col("__toks")).cast("long"))
    GlobalOrder.exclusivePrefix(withEos, idCol, idBucket(idCol), col("__len") -> "__pre")
      .select(col("__pre"), posexplode(col("__toks")).as(Seq("__p", "__tid")))
      .withColumn("__gpos", col("__pre") + col("__p"))
      // __gpos < 2⁵³ so the double floor-div path is exact
      .withColumn("seq_idx",
        floor(col("__gpos").cast("double") / lit(seqLen.toDouble)).cast("long"))
      .withColumn("__sp", col("__gpos") % seqLen)
      .groupBy("seq_idx")
      .agg(
        transform(array_sort(collect_list(struct(col("__sp"), col("__tid")))),
          x => x("__tid")).as("tokens"),
        count(lit(1)).as("n_tokens"))
  }

  /** Length-bucketed INFERENCE batching: group documents of similar
    * token length into fixed-size batches so each batch pads to its
    * own max length instead of the global max — the padding-waste
    * minimization every batched-inference / dynamic-batching server
    * performs. Documents land in length bucket `len div bucketWidth`;
    * within a bucket they batch `batchSize` at a time in (len DESC,
    * id) order (longest-first keeps each batch's max tight). Emits
    * per-batch stats incl. `pad_waste` = batch_max·n − Σlen, the
    * quantity the bucketing minimizes.
    *
    * Scale shape: one keyed window PARTITIONED BY the length bucket
    * (parallel across buckets, never a global sort) + one (bucket,
    * batch) aggregation — all exact integers, replayable verbatim. */
  def lengthBatches(df: DataFrame, lenCol: String, idCol: String,
                    bucketWidth: Long = 16L, batchSize: Int = 8): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val len = col(lenCol).cast("long")
    val bucketed = df.select(col(idCol).as("__id"), len.as("__len"))
      .withColumn("__bkt", floor(col("__len") / bucketWidth).cast("long"))
    val w = Window.partitionBy("__bkt")
      .orderBy(col("__len").desc, col("__id"))
    bucketed
      .withColumn("__batch",
        floor((row_number().over(w) - 1).cast("double") / batchSize).cast("long"))
      .groupBy(col("__bkt").as("bucket"), col("__batch").as("batch"))
      .agg(count(lit(1)).as("n_docs"),
        max("__len").as("max_len"),
        sum("__len").as("sum_len"))
      .select(col("bucket"), col("batch"), col("n_docs"), col("max_len"),
        (col("max_len") * col("n_docs") - col("sum_len")).as("pad_waste"))
  }
}
