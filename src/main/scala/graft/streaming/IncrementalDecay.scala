package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exponentially decayed counts — the RECENCY-weighted member of the
  * persistent-sketch family (Misra-Gries keeps all-time heavy hitters;
  * this keeps what is heavy NOW — trending queries, rising hosts, the
  * freshness signal a crawl scheduler feeds on): per key,
  *
  *   w ← w div 2 + count(batch) · unit
  *
  * so a batch's contribution halves with every subsequent fold and a key
  * untouched for ~40 folds decays to zero EXACTLY (integer floor
  * division, not float epsilon — the weight is a pure integer function
  * of the batch count history, which is why the drive query can
  * hash-oracle against the fold formula unrolled in SQL).
  *
  * Decayed-out rows (w = 0 after halving, no batch count) are
  * TOMBSTONED, so live state tracks the set of recently-active keys, not
  * every key ever seen — the property that bounds the store on infinite
  * streams with churning key sets. Decay applies per FOLD (the caller's
  * clock is the fold cadence; fold empty batches to advance time).
  *
  * Replay safety is the counting stance: the manifest note records the
  * high-water mark and a replayed fold returns current weights without
  * touching the store (halving twice would double-decay — the exact
  * failure the HWM exists to prevent). `unit` is part of the store's
  * identity — pinned in the note, mismatched folds fail fast (a
  * changed unit would silently mix weight scales). Per-fold cost: one map-side-
  * combined batch count + a full-store halving rewrite (every live
  * weight changes every fold by design — unlike the additive sketches,
  * decay is a write-all fold; state is the active-key set, so the
  * rewrite is recency-bounded, not corpus-bounded). */
object IncrementalDecay {

  /** The current decayed weights without folding (empty if never run). */
  def readWeights(spark: SparkSession, storePath: String): DataFrame =
    StoreFold.live(spark, storePath, "key STRING, w BIGINT")

  /** Fold one batch (decay everything, add the batch's counts) and return
    * the updated (key, w) weights. */
  def mergeBatch(batch: DataFrame, storePath: String, keyCol: Column,
      batchId: Long, unit: Long = 1000000L, numBuckets: Int = 4): DataFrame = {
    require(unit >= 1, s"unit must be >= 1, got $unit")
    val spark = batch.sparkSession
    val note = StoreFold.pin(spark, storePath, "decayed-count table",
      "unit" -> unit)
    // LAZY pin: the first action over it is the one materialization
    val cur = readWeights(spark, storePath).localCheckpoint(false)
    if (StoreFold.replayed(note, batchId)) {
      val out = cur.localCheckpoint(true)
      graft.util.Blocks.freeCheckpoint(cur)
      return out
    }
    val counts = batch.select(keyCol.cast("string").as("key"))
      .filter(col("key").isNotNull)
      .groupBy("key").agg(count(lit(1)).as("__c"))
    val merged = cur
      .join(counts, Seq("key"), "full_outer")
      // integer floor halving (`div`, not `/` — long `/` is float division)
      .select(col("key"), (expr("coalesce(w, 0L) div 2") +
        coalesce(col("__c"), lit(0L)) * lit(unit)).as("w"))
    val puts = merged.filter(col("w") > 0)
      .select(lit("v").as("kind"), col("key"), col("w"),
        lit(batchId).as("ver"), lit("put").as("op_type"))
    val dels = merged.filter(col("w") <= 0)
      .select(lit("v").as("kind"), col("key"), lit(0L).as("w"),
        lit(batchId).as("ver"), lit("delete").as("op_type"))
    val changed = puts.unionByName(dels)
      .localCheckpoint(true) // pin: the returned frame derives from it
    StoreFold.commit(changed, storePath, keys = Seq("kind", "key"),
      numBuckets = numBuckets, note = Seq("ver" -> batchId, "unit" -> unit),
      bucketCols = Seq("kind", "key"))
    val out = changed.filter(col("op_type") === "put")
      .select(col("key"), col("w")).localCheckpoint(true)
    graft.util.Blocks.freeCheckpoint(changed)
    graft.util.Blocks.freeCheckpoint(cur)
    out
  }
}
