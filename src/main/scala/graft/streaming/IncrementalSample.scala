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
  * `k` is part of the store's IDENTITY — pinned in a meta row on first
  * fold, every later fold must pass the SAME k (the [[IncrementalHist]]
  * frame contract: a smaller k would tombstone rows the store could never
  * recover, since evicted ids are not re-fed; a mismatch fails fast
  * instead of silently truncating the sample). Store layout v2: rows
  * carry a `kind` column ("v" sample / "m" meta) and bucket on
  * (kind, g, id) — a store written by the short-lived pre-pin layout
  * (same round, no persisted instances) is not readable; recreate it.
  *
  * Folds are IDEMPOTENT by set semantics (a re-folded batch admits and
  * evicts nothing), so no replay high-water mark is needed — the
  * [[IncrementalBloom]]/[[IncrementalCc]] stance. A fold that changes
  * nothing writes nothing (beyond the first fold's meta row). */
object IncrementalSample {

  /** The stored sample without folding (empty frame if never run). */
  def readSample(spark: SparkSession, storePath: String): DataFrame =
    KeyedStore.read(spark, storePath)
      .map(_.filter(col("op_type") =!= "delete" && col("kind") === "v")
        .select(col("g"), col("id"), col("h")))
      .getOrElse {
        import spark.implicits._
        Seq.empty[(String, Long, Long)].toDF("g", "id", "h")
      }

  /** Fold one micro-batch into the sample at `storePath` (created on first
    * use, k pinned then) and return the full updated per-stratum bottom-k. */
  def mergeBatch(batch: DataFrame, storePath: String,
      idCol: org.apache.spark.sql.Column, stratumCol: org.apache.spark.sql.Column,
      k: Int, numBuckets: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = batch.sparkSession
    val storedAll = KeyedStore.read(spark, storePath)
      .map(_.filter(col("op_type") =!= "delete")
        .select(col("kind"), col("g"), col("id"), col("h"), col("ver"))
        // LAZY pin: the returned frame's eager checkpoint is the one
        // materialization
        .localCheckpoint(false))
    // (k, ver) ride the manifest note — zero Spark jobs
    val noted = KeyedStore.readFoldNote(spark, storePath)
    noted.map(_("k").toLong).filter(_ != k.toLong).foreach { sk =>
      // free the pinned read BEFORE throwing — a guarded rejection
      // must not leak store-sized blocks
      storedAll.foreach(graft.util.Blocks.freeCheckpoint)
      throw new IllegalArgumentException(
        s"store $storePath holds a bottom-$sk sample; fold " +
          s"passed k = $k — k is part of the store's identity (a smaller " +
          "k would irrecoverably truncate it)")
    }
    val stored = storedAll.map(_.filter(col("kind") === "v"))
    val local = graft.ext.Curation.bottomKSample(batch, idCol, stratumCol, k)
    val union = stored match {
      case Some(s) => s.select(col("g"), col("id"), col("h"))
        .unionByName(local).dropDuplicates("g", "id")
      case None => local
    }
    val next = union
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("h"), col("id"))))
      .filter(col("__rk") <= k)
      .select(col("g"), col("id"), col("h"))
      .localCheckpoint(true)
    val nextVer = noted.map(_("ver").toLong + 1L).getOrElse(0L)
    val delta = stored match {
      case Some(s) =>
        val cur = s.select(col("g"), col("id"), col("h"))
        val entrants = next.join(cur, Seq("g", "id"), "left_anti")
          .withColumn("op_type", lit("put"))
        val evicted = cur.join(next, Seq("g", "id"), "left_anti")
          .withColumn("op_type", lit("delete"))
        entrants.unionByName(evicted)
      case None => next.withColumn("op_type", lit("put"))
    }
    val metaRow = // first fold only: k is immutable store identity
      if (storedAll.isEmpty)
        Some(spark.range(1).select(lit("m").as("kind"), lit("").as("g"),
          lit(k.toLong).as("id"), lit(0L).as("h"), lit("put").as("op_type")))
      else None
    val deltaK = delta.withColumn("kind", lit("v"))
      .select(col("kind"), col("g"), col("id"), col("h"), col("op_type"))
    val changed = metaRow.map(deltaK.unionByName(_)).getOrElse(deltaK)
      .withColumn("ver", lit(nextVer))
      // LAZY pin over pinned inputs (next eager, stored lazy-pinned by
      // it): isEmpty materializes what it needs, the merge the rest
      .localCheckpoint(false)
    if (!changed.isEmpty)
      KeyedStore.merge(changed, storePath, keys = Seq("kind", "g", "id"),
        seqCols = Seq("ver"), numBuckets = numBuckets,
        bucketCols = Seq("kind", "g", "id"),
        note = Some(KeyedStore.Note.encode(
          "k" -> k.toString, "ver" -> nextVer.toString)))
    graft.util.Blocks.freeCheckpoint(changed)
    storedAll.foreach(graft.util.Blocks.freeCheckpoint)
    next
  }
}
