package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch fixed-size uniform sample — the deterministic reservoir:
  * [[graft.ext.Curation.bottomKSample]]'s bottom-k-by-hash is mergeable
  * (bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B))), so a persistent
  * per-stratum sample of EXACTLY k ids stays exact over any number of
  * micro-batches at O(strata·k) state: each fold takes the batch's own
  * local bottom-k, re-ranks it against the stored sample, admits the new
  * entrants and DELETES the evicted rows (the store never exceeds k per
  * stratum). After any fold the sample is bit-identical to the batch
  * operator over the concatenated history — the held-out eval set a
  * 100 TB pipeline can maintain while the corpus streams in.
  *
  * `k` is part of the store's IDENTITY — pinned in the manifest note on
  * first fold, every later fold must pass the SAME k (the
  * [[IncrementalHist]] frame contract: a smaller k would tombstone rows
  * the store could never recover, since evicted ids are not re-fed; a
  * mismatch fails fast instead of silently truncating the sample). Rows
  * carry a `kind` column ("v") and bucket on (kind, g, id).
  *
  * Folds are IDEMPOTENT by set semantics (a re-folded batch admits and
  * evicts nothing), so no replay high-water mark is needed — the
  * [[IncrementalBloom]]/[[IncrementalCc]] stance. A fold that changes
  * nothing writes nothing (beyond the first fold's note, which pins k). */
object IncrementalSample {

  /** The stored sample without folding (empty frame if never run). */
  def readSample(spark: SparkSession, storePath: String): DataFrame =
    StoreFold.live(spark, storePath, "g STRING, id BIGINT, h BIGINT")

  /** Fold one micro-batch into the sample at `storePath` (created on first
    * use, k pinned then) and return the full updated per-stratum bottom-k. */
  def mergeBatch(batch: DataFrame, storePath: String,
      idCol: org.apache.spark.sql.Column, stratumCol: org.apache.spark.sql.Column,
      k: Int, numBuckets: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = batch.sparkSession
    val noted = StoreFold.pin(spark, storePath, "bottom-k sample", "k" -> k)
    // LAZY pin: the returned frame's eager checkpoint is the one
    // materialization
    val stored = readSample(spark, storePath).localCheckpoint(false)
    val local = graft.ext.Curation.bottomKSample(batch, idCol, stratumCol, k)
    val union = stored.unionByName(local).dropDuplicates("g", "id")
    val next = union
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("h"), col("id"))))
      .filter(col("__rk") <= k)
      .select(col("g"), col("id"), col("h"))
      .localCheckpoint(true)
    val nextVer = noted.map(_("ver").toLong + 1L).getOrElse(0L)
    val entrants = next.join(stored, Seq("g", "id"), "left_anti")
      .withColumn("op_type", lit("put"))
    val evicted = stored.join(next, Seq("g", "id"), "left_anti")
      .withColumn("op_type", lit("delete"))
    val changed = entrants.unionByName(evicted)
      .select(lit("v").as("kind"), col("g"), col("id"), col("h"),
        col("op_type"), lit(nextVer).as("ver"))
      // LAZY pin over pinned inputs (next eager, stored lazy-pinned by
      // it): isEmpty materializes what it needs, the merge the rest
      .localCheckpoint(false)
    // the first fold always commits: its note pins k
    if (noted.isEmpty || !changed.isEmpty)
      StoreFold.commit(changed, storePath, keys = Seq("kind", "g", "id"),
        numBuckets = numBuckets, note = Seq("k" -> k, "ver" -> nextVer),
        bucketCols = Seq("kind", "g", "id"))
    graft.util.Blocks.freeCheckpoint(changed)
    graft.util.Blocks.freeCheckpoint(stored)
    next
  }
}
