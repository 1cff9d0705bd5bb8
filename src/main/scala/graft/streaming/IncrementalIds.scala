package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stable dense id minting for streaming keys — the growing-vocabulary
  * primitive (token → embedding-row, host → node id, label → class index):
  * each fold assigns the batch's UNSEEN keys the next dense ids
  * (max stored id + lexicographic rank within the fold) and never touches
  * an existing assignment, so ids are dense, collision-free, and STABLE
  * across any number of folds — the property a feature store needs that
  * hashing can't give (hashes collide) and re-ranking can't give (ids
  * would shift as the corpus grows).
  *
  * Determinism: an id is a pure function of the key's FIRST fold and its
  * lexicographic rank among that fold's new keys, so a fixed batch split
  * replays to identical ids. Folds are IDEMPOTENT by set semantics (a
  * re-folded batch has no unseen keys) — the [[IncrementalCc]] stance, no
  * high-water mark. A fold that mints nothing writes nothing.
  *
  * Scale posture: the store is touched only through ONE bucket-pruned
  * read per fold — probe = the batch keys — so a fold costs
  * O(batch-touched buckets) file reads however large the vocabulary
  * grows (the [[IncrementalScd2]] readPruned pattern). The running max
  * id and version ride the manifest note rather than being scanned, and
  * minting ranks the fold's new keys with the
  * [[graft.ops.Scale.denseIds]] two-level pattern (local rank inside
  * key-prefix buckets + broadcast offsets — a character prefix is a
  * monotone coarsening of lexicographic order), so even the
  * whole-vocabulary BOOTSTRAP fold never funnels through one task's
  * global sort. New-keys-per-fold is the unit of work (Heaps-law bounded
  * for token vocabularies), never the corpus or the accumulated mapping;
  * measured flat over a 12× store (`ScaleProbe idmint`, SCALING.md). */
object IncrementalIds {

  /** The stored key → id mapping without folding (empty if never run). */
  def readIds(spark: SparkSession, storePath: String): DataFrame =
    StoreFold.live(spark, storePath, "key STRING, id BIGINT")

  /** Fold one batch: mint ids for unseen keys, return the FULL updated
    * mapping (a lazy store read — callers that outlive the store
    * checkpoint at the call site). */
  def mergeBatch(batch: DataFrame, storePath: String, keyCol: Column,
      numBuckets: Int = 4): DataFrame = {
    val spark = batch.sparkSession
    val keys = batch.select(keyCol.cast("string").as("key"))
      .filter(col("key").isNotNull).distinct()
      // LAZY pin: the pruned read's bucket-probe collect materializes it
      .localCheckpoint(false)
    // ONE bucket-pruned read covers everything the fold needs: the batch
    // keys' buckets hold every stored row an unseen-key anti-join could
    // match. A full-store read here would make each fold O(vocabulary) —
    // the cost this store exists to avoid. No checkpoint: every consumer
    // runs BEFORE the merge mutates the store, and the pruned buckets are
    // already immutable parquet — re-reads are column-pruned scans, an
    // eager pin would materialize whole touched buckets per fold
    val freshKeys = keys.join(
      StoreFold.livePruned(spark, storePath, keys, "key STRING"),
      Seq("key"), "left_anti")
    // running max id / version ride the manifest note (zero Spark jobs)
    val noted = KeyedStore.readFoldNote(spark, storePath)
    val nextId = noted.map(_("id").toLong + 1L).getOrElse(0L)
    val nextVer = noted.map(_("ver").toLong + 1L).getOrElse(0L)
    // two-level lexicographic rank: a 4-char prefix bucket keeps the
    // bootstrap fold's sort distributed (prefix order IS key order, so
    // bucket offset + local rank = global rank)
    val fresh = graft.ops.Scale.denseIds(freshKeys,
        substring(col("key"), 1, 4), Seq(col("key")), as = "__rk")
      .select(lit("v").as("kind"), col("key"),
        (lit(nextId) + col("__rk")).as("id"), lit(nextVer).as("ver"))
      // LAZY pin: the count below is the one materialization (it computes
      // every partition), still before the merge mutates the store
      .localCheckpoint(false)
    val minted = fresh.count()
    if (minted > 0L)
      StoreFold.commit(fresh.withColumn("op_type", lit("put")), storePath,
        keys = Seq("kind", "key"), numBuckets = numBuckets,
        note = Seq("id" -> (nextId + minted - 1L), "ver" -> nextVer),
        bucketCols = Seq("key"))
    graft.util.Blocks.freeCheckpoint(fresh)
    graft.util.Blocks.freeCheckpoint(keys)
    readIds(spark, storePath)
  }
}
