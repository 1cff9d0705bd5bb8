package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch Bloom decontamination — the store form of
  * `ext/Dedup.bloomScreen` for a GROWING eval suite: new benchmark sets
  * arrive over time, and every training batch must be screened against
  * everything registered SO FAR. The persisted state is the filter's
  * set-bit table itself: distinct hash positions (≤ m rows — saturation-
  * bounded regardless of how much eval text ever folds in, the property
  * the batch operator's SCALING.md entry measures), keyed so a fold
  * rewrites only the buckets its NEW positions hash into.
  *
  * The fold is LOSSLESS and ORDER-FREE: a Bloom filter's bit table is a
  * set union, so after any number of folds the screen is bit-identical to
  * the batch operator over the concatenated eval suite (spec-anchored
  * parity) — and re-folding the same batch is a set-union no-op, so no
  * replay high-water mark is needed (idempotent by construction, unlike
  * the counting sketches).
  *
  * (m, k) are the filter's identity — pinned in the manifest note on
  * first fold;
  * a fold or screen with different parameters fails fast (positions are
  * `hash % m`, so mixing m values silently corrupts the table).
  *
  * No false negatives at ANY fold count: a contaminated shingle's
  * positions are all present once its eval batch folded. */
object IncrementalBloom {

  private def posCols(m: Int, k: Int) = (0 until k).map(i =>
    conv(substring(md5(col("s")), 1 + 8 * i, 8), 16, 10).cast("long") % m)

  /** The set positions, after pinning (m, k) against the note. */
  private def setBits(spark: SparkSession, storePath: String,
      m: Int, k: Int): DataFrame = {
    StoreFold.pin(spark, storePath, "Bloom filter", "m" -> m, "k" -> k)
    StoreFold.live(spark, storePath, "pos BIGINT")
  }

  /** Fold one eval-suite batch's shingles `evalSh(doc_id, s)` into the
    * filter at `storePath` (created on first use), writing only positions
    * the store lacks. Returns the table's live fill (set positions) so
    * callers can watch saturation against the sizing rule. */
  def addEval(evalSh: DataFrame, storePath: String, m: Int = 1 << 14,
      k: Int = 3, batchId: Long = 0L, numBuckets: Int = 4): Long = {
    require(m >= 2, s"filter needs at least 2 positions, got $m")
    require(k >= 1 && k <= 4, s"md5 yields 4 32-bit slices, got k=$k")
    // LAZY pin: the merge's stage write is the one materialization
    val live = setBits(evalSh.sparkSession, storePath, m, k)
      .localCheckpoint(false)
    val batchBits = evalSh
      .select(explode(array(posCols(m, k): _*)).as("pos")).distinct()
    val fresh = batchBits.join(live, Seq("pos"), "left_anti")
      .select(lit("v").as("kind"), col("pos"), lit(m.toLong).as("m"),
        lit(k.toLong).as("k"), lit(batchId).as("ver"))
      // LAZY pin: the merge's own stage write is the one materialization
      .localCheckpoint(false)
    StoreFold.commit(fresh, storePath, keys = Seq("kind", "pos"),
      numBuckets = numBuckets,
      note = Seq("m" -> m, "k" -> k, "ver" -> batchId))
    val fill = live.count() + fresh.count()
    graft.util.Blocks.freeCheckpoint(live)
    graft.util.Blocks.freeCheckpoint(fresh)
    fill
  }

  /** Screen one training batch `trainSh(doc_id, s)` against every eval
    * batch folded so far — same output contract as `Dedup.bloomScreen`:
    * (doc_id, shingle_ct, hit_ct, flagged). */
  def screenBatch(trainSh: DataFrame, storePath: String, m: Int = 1 << 14,
      k: Int = 3, minHits: Int = 3): DataFrame = {
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    // ≤ m rows; checkpoint so the store scan feeds the k probes once
    val bits = setBits(trainSh.sparkSession, storePath, m, k)
      .localCheckpoint(true)
    graft.ext.Dedup.bloomProbe(trainSh, bits, m, k, minHits)
  }
}
