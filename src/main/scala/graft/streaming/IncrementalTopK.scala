package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch DETERMINISTIC heavy hitters: fold each micro-batch's exact
  * per-item counts into a persisted Misra-Gries summary of at most `k`
  * counters — the streaming "trending keys / hot tokens / dominant sources"
  * view over the WHOLE history at bounded state, with MG's always-holds
  * guarantee (no hashes, no probability) instead of count-min's
  * probabilistic one. The batch analog is the typed
  * [[graft.functions.MisraGries]] aggregator; this is its cross-batch
  * persistence, the [[IncrementalDedup]]/[[IncrementalDsir]] pattern applied
  * to the sketch suite.
  *
  * Guarantee (mergeable summaries, Agarwal et al. PODS'12): after any batch
  * sequence totalling n items, every item with true frequency > n/(k+1) is
  * present in the summary, and every reported count undercounts its true
  * frequency by at most n/(k+1). The fold step is the count-merge: add the
  * batch's exact counts to the stored counters, and if more than `k` items
  * survive, subtract the (k+1)-th largest count from every item and keep
  * the positives — at most `k` can exceed that value, so the state is
  * bounded by construction, and each merge adds at most `cut` error per
  * item while cut · (k+1) ≤ mass absorbed, preserving the bound.
  *
  * Everything is exact integer arithmetic on deterministic inputs, so the
  * summary is bit-identical on every partitioning and engine — the verify
  * query unrolls three folds as SQL CTEs against the same corpus.
  *
  * Batch-id contract (same as [[IncrementalDsir]]): ids are assigned by a
  * stable mapping captured once at query start, so a REPLAYED micro-batch
  * arrives with its original id. Replay is detected (`batchId` ≤ the
  * largest folded id) and returns the CURRENT summary without re-folding —
  * under the streaming-legal replay window (only the latest uncommitted
  * batch re-delivers) the current state IS the post-that-batch state, so
  * the replayed output is bit-stable and the fold is exactly-once.
  *
  * Shape at scale: the batch count is one map-side-combining groupBy; the
  * stored summary is ≤ k rows (broadcast side of the merge join); the
  * (k+1)-th largest count is a TakeOrdered over ≤ k + batch-vocabulary
  * rows. State IO is O(k) per batch regardless of history length.
  */
object IncrementalTopK {

  /** Fold one micro-batch into the summary at `storePath` (created on first
    * use) and return the updated summary. One row per surviving counter:
    * (item, ct, n_total, thresh) where `thresh = n_total div (k+1)` is the
    * guarantee line — any item with true count above it is guaranteed
    * present, and `ct` undercounts by at most `thresh`.
    *
    * @param batch   the micro-batch; `itemCol` is counted per occurrence
    *   (nulls ignored, like the typed aggregator)
    * @param k       max counters retained (the K of Misra-Gries)
    * @param batchId strictly-increasing per fold (see the replay contract
    *   above) */
  def mergeBatch(batch: DataFrame, storePath: String, itemCol: Column,
      k: Int, batchId: Long, numBuckets: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = batch.sparkSession
    // Counter rows carry kind "c". The running n_total and the replay
    // high-water mark ride the manifest note, which every fold commits —
    // even one that evicts all counters or folds an empty batch — so an
    // all-evicted state keeps both (a replayed batch cannot re-fold and
    // resurrect evicted counts, the exactly-once contract).
    // LAZY pin: the first action over it is the one materialization
    val cur = counters(spark, storePath).localCheckpoint(false)
    val note = KeyedStore.readFoldNote(spark, storePath)
    if (StoreFold.replayed(note, batchId))
      // replay: current state IS the post-batch state; `cur` backs the
      // returned frame, so its checkpoint must stay pinned on this path
      return summaryOf(cur, k)
    val nPrev = note.map(_("n").toLong).getOrElse(0L)
    val bc = batch.select(itemCol.cast("string").as("item"))
      .filter(col("item").isNotNull)
      .groupBy("item").agg(count(lit(1)).as("bct"))
      .localCheckpoint(true)
    val nBatch = bc.agg(coalesce(sum(col("bct")), lit(0L))).head().getLong(0)
    val merged = cur.select(col("item"), col("ct"))
      .join(bc, Seq("item"), "full_outer")
      .select(col("item"),
        (coalesce(col("ct"), lit(0L)) + coalesce(col("bct"), lit(0L))).as("ct"))
      .localCheckpoint(true)
    // the (k+1)-th largest COUNT (multiset rank — deterministic under ties
    // with any tie order); fewer than k+1 rows → no cut this fold
    val topCts = merged.select(col("ct")).orderBy(col("ct").desc)
      .limit(k + 1).collect().map(_.getLong(0))
    val cut = if (topCts.length > k) topCts.last else 0L
    val nTotal = nPrev + nBatch
    val next = merged.filter(col("ct") - cut > 0)
      .select(lit("c").as("kind"), col("item"), (col("ct") - cut).as("ct"),
        lit(nTotal).as("n_total"), lit(batchId).as("ver"),
        lit("put").as("op_type"))
    val dropped = cur.select(col("item")).except(next.select(col("item")))
      .select(lit("c").as("kind"), col("item"), lit(0L).as("ct"),
        lit(nTotal).as("n_total"), lit(batchId).as("ver"),
        lit("delete").as("op_type"))
    val writes = next.unionByName(dropped).localCheckpoint(true)
    StoreFold.commit(writes, storePath, keys = Seq("kind", "item"),
      numBuckets = numBuckets, note = Seq("ver" -> batchId, "n" -> nTotal))
    // the returned summary derives from the checkpointed `writes` alone —
    // the working frames are dead here and must not pin blocks for the
    // session/stream lifetime (Dataset.unpersist no-ops on checkpoints)
    graft.util.Blocks.freeCheckpoint(cur)
    graft.util.Blocks.freeCheckpoint(bc)
    graft.util.Blocks.freeCheckpoint(merged)
    summaryOf(KeyedStore.active(writes), k)
  }

  /** The current summary at `storePath` without folding anything. */
  def readSummary(spark: SparkSession, storePath: String, k: Int): DataFrame =
    summaryOf(counters(spark, storePath), k)

  private def counters(spark: SparkSession, storePath: String): DataFrame =
    StoreFold.live(spark, storePath, "item STRING, ct BIGINT, n_total BIGINT",
      kind = Some("c"))

  private def summaryOf(rows: DataFrame, k: Int): DataFrame =
    rows.select(col("item"), col("ct"), col("n_total"),
      expr(s"n_total div ${k + 1}").as("thresh"))
}
