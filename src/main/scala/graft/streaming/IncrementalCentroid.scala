package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch per-label embedding centroids — the embedding-space drift
  * monitor of a continuously-ingested corpus: per-(label, dimension)
  * SCALED-INTEGER component sums (`ext/Similarity.labelCentroidSums`'s
  * `floor(x·10⁶)` contract) accumulate in a [[KeyedStore]]. Integer sums
  * add losslessly and order-free, so after any number of folds the store
  * is bit-identical to the batch operator over the concatenated history —
  * at O(labels·dim) state regardless of stream age. Against the stored
  * profile, each incoming batch's centroid shift (cosine between batch
  * and historical sums) is the class-drift signal; the sums themselves
  * feed [[graft.ext.Similarity.labelOutliers]]-style pruning without
  * re-reading history.
  *
  * Replay safety is the counting-sketch contract ([[IncrementalHist]]
  * verbatim): `batchId` is the `ver` seq, the manifest note records the
  * high-water mark on every fold, and a replayed fold returns current
  * state without touching the store.
  *
  * Per-fold cost: one map-side-combined (label, pos) sum over the BATCH
  * (labels·dim rows out), a store read, and a bucketed upsert of only
  * the (label, pos) rows the batch touched. */
object IncrementalCentroid {

  /** Fold one micro-batch (labelCol, embedding array) into the store at
    * `storePath` (created on first use) and return the updated sums
    * (g, pos, s_sum, n). */
  def mergeBatch(batch: DataFrame, storePath: String, labelCol: Column,
      embCol: Column, batchId: Long, numBuckets: Int = 4): DataFrame = {
    val spark = batch.sparkSession
    // LAZY pin + zero-job HWM via the manifest note — the FoldJobsSpec
    // protocol
    val cur = readSums(spark, storePath).localCheckpoint(false)
    if (StoreFold.replayed(KeyedStore.readFoldNote(spark, storePath), batchId)) {
      val out = cur.localCheckpoint(true)
      graft.util.Blocks.freeCheckpoint(cur)
      return out
    }
    val batchSums = graft.ext.Similarity.labelCentroidSums(
      batch.select(labelCol.cast("string").as("label"),
        embCol.as("embedding")))
      .select(col("label").as("g"), col("pos"), col("s_sum").as("bs"),
        col("n").as("bn"))
    val changed = batchSums
      .join(cur, Seq("g", "pos"), "left_outer")
      .select(lit("v").as("kind"), col("g"), col("pos"),
        (coalesce(col("s_sum"), lit(0L)) + col("bs")).as("s_sum"),
        (coalesce(col("n"), lit(0L)) + col("bn")).as("n"),
        lit(batchId).as("ver"), lit("put").as("op_type"))
      // LAZY pin: the merge's own stage write is the one materialization
      .localCheckpoint(false)
    StoreFold.commit(changed, storePath, keys = Seq("kind", "g", "pos"),
      numBuckets = numBuckets, note = Seq("ver" -> batchId))
    val out = cur
      .join(changed.select(col("g"), col("pos")), Seq("g", "pos"),
        "left_anti")
      .unionByName(changed.select(col("g"), col("pos"), col("s_sum"), col("n")))
      .localCheckpoint(true)
    graft.util.Blocks.freeCheckpoint(cur)
    graft.util.Blocks.freeCheckpoint(changed)
    out
  }

  /** The current sums at `storePath` without folding. */
  def readSums(spark: SparkSession, storePath: String): DataFrame =
    StoreFold.live(spark, storePath,
      "g STRING, pos BIGINT, s_sum BIGINT, n BIGINT")

  /** Per-label cosine between a batch's centroid sums and the STORED
    * profile — the drift gate: 1.0 = batch centered exactly on history,
    * small values flag a shifted class. Scale-invariant, so the
    * un-divided integer sums compare directly (the labelOutliers
    * argument). Labels absent from either side are omitted. */
  def drift(spark: SparkSession, storePath: String,
      batch: DataFrame, labelCol: Column, embCol: Column): DataFrame = {
    val stored = readSums(spark, storePath)
      .select(col("g"), col("pos"), col("s_sum").as("hs"))
    val bs = graft.ext.Similarity.labelCentroidSums(
      batch.select(labelCol.cast("string").as("label"),
        embCol.as("embedding")))
      .select(col("label").as("g"), col("pos"), col("s_sum").as("bsum"))
    bs.join(stored, Seq("g", "pos"))
      .groupBy("g")
      .agg(
        sum(col("bsum").cast("double") * col("hs").cast("double")).as("dp"),
        sum(col("bsum").cast("double") * col("bsum").cast("double")).as("bb"),
        sum(col("hs").cast("double") * col("hs").cast("double")).as("hh"))
      .select(col("g"),
        (col("dp") / sqrt(col("bb") * col("hh"))).as("drift_cos"))
  }
}
