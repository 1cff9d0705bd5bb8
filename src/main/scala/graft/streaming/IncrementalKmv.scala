package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch KMV distinct-cardinality tracking — the streaming complement
  * to `ext/Profile.kmvDistinct` and the third member of the persistent-
  * sketch family ([[IncrementalTopK]]'s Misra-Gries counters, this file's
  * k-minimum-values): per group, the k SMALLEST md5-slice hashes ever seen
  * accumulate in a [[KeyedStore]]; each micro-batch folds in as
  * `k-mins(stored ∪ batch-k-mins)` — LOSSLESS by the order-statistic
  * argument (the k smallest of a union are among the k smallest of each
  * side), so after ANY number of folds the sketch is bit-identical to the
  * batch sketch over the concatenated history (spec-anchored parity), and
  * the distinct estimate `(k−1)·2³²/h_k` follows deterministically.
  *
  * What this buys a pipeline: "how many distinct users/URLs/tokens has this
  * stream carried per key, ever" at O(k) state per group — the exact-
  * distinct alternative stores the full value set. Replay safety is the
  * [[IncrementalTopK]] contract: a strictly-increasing `batchId` is the
  * `ver` seq; a replayed fold sees `batchId <= max ver` and returns the
  * current state without touching the store (value rows alone can't carry
  * that mark — a fold whose batch adds no new hashes writes no value rows —
  * so the manifest note records the high-water mark on every fold).
  *
  * Per-fold cost: one distinct + WindowGroupLimit rank over the BATCH
  * (k rows per group out), one k-rows-per-group store read, the k-bounded
  * merge rank, and a bucketed upsert of only the rows that changed. */
object IncrementalKmv {

  private def estimateOf(rows: DataFrame, k: Int): DataFrame =
    rows.groupBy("g")
      .agg(count(lit(1)).as("n_seen"), max(col("h")).as("__hk"))
      .withColumn("kmv_est",
        when(col("n_seen") < k, col("n_seen"))
          .otherwise(expr(s"(${k - 1} * 4294967296L) div __hk")))
      .select(col("g"), col("n_seen"), col("kmv_est"))

  private def kMins(rows: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("h"))
    rows.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).select(col("g"), col("h"))
  }

  /** Fold one micro-batch into the sketch at `storePath` (created on first
    * use) and return the updated per-group estimates
    * (g, n_seen, kmv_est). */
  def mergeBatch(batch: DataFrame, storePath: String, groupCol: Column,
      valueCol: Column, k: Int, batchId: Long, numBuckets: Int = 4): DataFrame = {
    require(k >= 3, s"k must be >= 3 (estimator needs k-1 >= 2), got $k")
    val spark = batch.sparkSession
    // LAZY pin: the merge's stage write is the one materialization
    val cur = mins(spark, storePath).localCheckpoint(false)
    if (StoreFold.replayed(KeyedStore.readFoldNote(spark, storePath), batchId)) {
      // replay: current state IS the post-batch state. Materialize the
      // (group-sized) estimate so the store-sized `cur` checkpoint can be
      // freed here too — the early return must not leak what the fold path
      // frees below.
      val out = estimateOf(cur, k).localCheckpoint(true)
      graft.util.Blocks.freeCheckpoint(cur)
      return out
    }
    val bh = conv(substring(md5(valueCol.cast("string")), 1, 8), 16, 10)
      .cast("long")
    val batchMins = kMins(
      batch.select(groupCol.cast("string").as("g"), bh.as("h"))
        .filter(col("h").isNotNull).distinct(), k)
    val merged = kMins(cur.unionByName(batchMins).distinct(), k)
      // LAZY pin: the merge's own stage write is the one materialization
      .localCheckpoint(false)
    val next = merged
      .select(lit("v").as("kind"), col("g"), col("h"),
        lit(batchId).as("ver"), lit("put").as("op_type"))
    val dropped = cur.except(merged)
      .select(lit("v").as("kind"), col("g"), col("h"),
        lit(batchId).as("ver"), lit("delete").as("op_type"))
    StoreFold.commit(next.unionByName(dropped), storePath,
      keys = Seq("kind", "g", "h"), numBuckets = numBuckets,
      note = Seq("ver" -> batchId))
    graft.util.Blocks.freeCheckpoint(cur)
    val out = estimateOf(merged, k).localCheckpoint(true)
    graft.util.Blocks.freeCheckpoint(merged)
    out
  }

  /** The current per-group estimates at `storePath` without folding. */
  def readEstimate(spark: SparkSession, storePath: String, k: Int): DataFrame =
    estimateOf(mins(spark, storePath), k)

  private def mins(spark: SparkSession, storePath: String): DataFrame =
    StoreFold.live(spark, storePath, "g STRING, h BIGINT")
}
