package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data-capture application: batch MERGE semantics with delete
  * tombstones — the warehouse-side half of a replication pipeline
  * (reference analog: the load/upsert surface around copy, locopy
  * redshift.py:224-275, which assumes append/replace; CDC apply is
  * what that surface needs once sources emit row-level changes).
  */
object Cdc {

  /** Apply a CDC feed of I/U/D operations to a base table: the
    * highest-`seqCol` op per key wins ('D' removes the key, 'U'/'I'
    * write the feed's values — upsert semantics, so a 'U' for an
    * absent key inserts and an 'I' for a present key overwrites).
    * Contract: (key, seq) pairs are unique — CDC log positions are —
    * otherwise the payload-struct ordering breaks the tie
    * deterministically but arbitrarily.
    *
    * Scale shape: one keyed aggregation collapses the feed to its
    * latest op per key (a map-side-combinable max-struct — the feed
    * never sorts), then ONE keyed full-outer join against the base.
    * Output stays partitioned by key; no windows over the table, no
    * broadcast of anything table-sized, no driver state. */
  def applyChanges(base: DataFrame, feed: DataFrame, keyCol: String,
                   seqCol: String, opCol: String): DataFrame = {
    val valCols = base.columns.filterNot(_ == keyCol).toSeq
    require(valCols.forall(feed.columns.contains),
      s"feed must carry the base value columns ${valCols.mkString(", ")}")
    val latest = latestOps(feed, keyCol, seqCol, opCol, valCols)
      .select(col(keyCol) +: (col(opCol).as("__op") +:
        valCols.map(c => col(c).as(s"__n_$c"))): _*)
    base.join(latest, Seq(keyCol), "full_outer")
      .filter(col("__op").isNull || col("__op") =!= "D")
      .select(col(keyCol) +: valCols.map { c =>
        when(col("__op").isNotNull, col(s"__n_$c")).otherwise(col(c)).as(c)
      }: _*)
  }

  /** The highest-`seqCol` change per key of a CDC feed: `keyCol`,
    * `opCol` and `valCols` of the winning row (one map-side-combinable
    * max-struct aggregation; ties on `seqCol` break on the payload). */
  def latestOps(feed: DataFrame, keyCol: String, seqCol: String,
      opCol: String, valCols: Seq[String]): DataFrame = {
    val payload = struct(col(opCol).as("op") +: valCols.map(col): _*)
    feed.groupBy(col(keyCol))
      .agg(max(struct(col(seqCol).as("s"), payload.as("r"))).as("m"))
      .select(col(keyCol) +: (col("m.r.op").as(opCol) +:
        valCols.map(c => col(s"m.r.$c").as(c))): _*)
  }
}
