package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.Dedup

/** Cross-batch SimHash near-dup rejection — the Hamming-space twin of
  * [[IncrementalLsh]] (which screens by MinHash/Jaccard): the accepted
  * corpus is a persistent KeyedStore of (band, bval) → (doc_id, fp)
  * rows — 8 bytes of fingerprint per accepted doc per band, never the
  * texts — and an incoming document is rejected when some stored
  * fingerprint within `maxHam` bit flips exists. By the pigeonhole
  * argument (`Dedup.simhashPairs`), any pair within `maxHam < bands`
  * flips shares at least one identical band slice, so the screen is an
  * equi-join on (band, bval) with the exact `bit_count` check only on
  * bucket collisions — ZERO false negatives at the stated radius, unlike
  * MinHash's probabilistic recall (the reason to run both: LSH catches
  * high-Jaccard rewrites, SimHash catches low-Hamming fingerprint
  * drift).
  *
  * Per-batch cost tracks the batch ([[IncrementalLsh]]'s posture): fp
  * compute, a bucket-PRUNED store read (only buckets the batch hashes
  * into are opened), a collision-sized verify, and a batch-sized
  * within-batch pass. Only docs with NULL text carry no fingerprint
  * (they pass the screen and are not stored); an empty STRING hashes
  * the tokenizer's empty token, so all empty docs form one hamming-0
  * cluster — the batch operator's own semantics. Rejections are
  * against the ACCEPTED corpus only: a loser's near-dups may later be
  * accepted if no stored fingerprint sits within the radius (same
  * contract as [[IncrementalLsh]]). */
object IncrementalSimhash {

  /** Dedup one micro-batch of (doc_id, text) against the fingerprint
    * store: returns accepted rows, appends their band/fp rows.
    *
    * Replay safety: stored rows carry their fold's batch id, and the
    * screen reads only rows with `batch_id < batchId` — a crash-replayed
    * batch therefore does NOT collide with its own first-attempt
    * fingerprints (which would reject every previously-accepted doc) and
    * recomputes the identical accepted set; the re-merge rewrites the
    * same rows. Batch ids must be monotone, the family contract.
    *
    * Honest scale note: a 32-bit fingerprint at `bands` slices has only
    * 2^(32/bands) values per band, so stored bucket width grows ~N/2^width
    * with the ACCEPTED corpus and the verify join with it — unlike
    * [[IncrementalLsh]], no hot-bucket cap can be added without breaking
    * the zero-false-negative pigeonhole guarantee (the design tension is
    * inherent to exact-radius screens). At webscale, widen the
    * fingerprint/band slices (64-bit fp at 8 bands = 256× fewer
    * collisions per bucket) before reaching for a cap. */
  def dedupBatch(batch: DataFrame, storePath: String, idCol: Column,
      textCol: Column, batchId: Long, maxHam: Int = 3, bands: Int = 4,
      numBuckets: Int = 16): DataFrame = {
    require(maxHam < bands, "pigeonhole needs maxHam < bands")
    val spark = batch.sparkSession
    val docs = batch.select(idCol.as("doc_id"), textCol.as("__text"))
    val fps = Dedup.simhash32(docs, col("doc_id"), col("__text"))
      // LAZY pin: the pruned read's bucket-probe collect materializes it
      .localCheckpoint(false)
    val buckets = Dedup.simhashBandBuckets(fps, bands)

    // (1) cross-batch screen — pruned read: only store buckets the
    // batch's (band, bval) probes hash into are opened; rows from an
    // interrupted attempt of THIS batch are excluded (replay safety)
    val crossDups = KeyedStore.readPruned(spark, storePath, buckets).map {
      stored =>
        buckets.join(
            stored.filter(col("batch_id") < batchId)
              .select(col("band"), col("bval"), col("fp").as("__sfp")),
            Seq("band", "bval"))
          .filter(expr(s"bit_count(fp ^ __sfp) <= $maxHam"))
          .select(col("doc_id")).distinct()
    }
    val survivors =
      crossDups.fold(docs)(docs.join(_, Seq("doc_id"), "left_anti"))

    // (2) within-batch: banded pairs + components, cluster minimum wins
    val fpS = fps.join(survivors.select(col("doc_id")), Seq("doc_id"),
      "left_semi")
    val pairs = Dedup.simhashPairs(fpS, maxHam, bands)
      .select(col("a_id"), col("b_id"))
    val losers =
      if (pairs.isEmpty) docs.select(col("doc_id")).limit(0)
      else Dedup.connectedComponents(pairs)
        .filter(col("doc_id") =!= col("keeper_id")).select(col("doc_id"))
    val accepted = survivors.join(losers, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)

    // (3) index the accepted docs' fingerprints
    val newRows = Dedup.simhashBandBuckets(
        fps.join(accepted.select(col("doc_id")), Seq("doc_id"), "left_semi"),
        bands)
      .withColumn("batch_id", lit(batchId))
    if (!newRows.isEmpty)
      KeyedStore.merge(newRows, storePath,
        keys = Seq("band", "bval", "doc_id"), seqCols = Seq("batch_id"),
        numBuckets = numBuckets,
        // bucket by the PROBE key prefix so readPruned can map probes
        bucketCols = Seq("band", "bval"))
    graft.util.Blocks.freeCheckpoint(fps)
    accepted.select(col("doc_id"), col("__text").as("text"))
  }
}
