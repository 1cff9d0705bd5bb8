package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.Dedup

/** Cross-batch NEAR-duplicate rejection for continuous ingest — the
  * MinHash-LSH twin of [[IncrementalDedup]] (which only catches
  * byte-identical re-arrivals): the accepted corpus is represented by a
  * persistent KeyedStore of (band, bkey) → (doc_id, 32-long signature)
  * rows, so an incoming document is rejected when it shares an LSH band
  * bucket with an accepted document AND the signature match fraction (the
  * standard unbiased MinHash estimate of Jaccard similarity) clears the
  * threshold. Exactly how production crawlers run near-dup: the index is
  * signatures — ~`8·k + 16` bytes per accepted doc per band — never the
  * texts.
  *
  * Per-batch cost tracks the batch: batch-side shingle/signature compute,
  * a (band, bkey) equi-join against the store (at scale: bucket-pruned to
  * the keys the batch hashes into — the store side never scans whole), a
  * candidate-sized verify, and a within-batch LSH+connected-components
  * pass over the store-survivors only (batch-sized graph). False-positive
  * band collisions are killed by the signature verify; misses are the
  * standard LSH recall tradeoff, tuned by (k, bands, threshold).
  */
object IncrementalLsh {

  /** Stored index rows with SATURATED band buckets removed: a (band, bkey)
    * bucket holding more than `maxBandDf` accepted docs is dominated by a
    * stop-phrase / boilerplate band (the cross-batch twin of
    * [[Dedup.ngramJaccardPairsCapped]]'s posting-list cap) and is excluded
    * from the verify join — uncapped, one hot bucket makes the candidate
    * set `bucket_width × probes_in_bucket`, which grows with INDEX age
    * instead of batch size. The width count runs over the pruned store
    * subset only (O(batch-touched buckets)). Recall cost is the standard
    * DF-cap dial: a true near-dup pair screened ONLY by saturated bands
    * slips through cross-batch (each doc still has `bands − 1` other
    * chances, and the within-batch pass is uncapped). */
  private[graft] def cappedStored(stored: DataFrame, maxBandDf: Int): DataFrame = {
    require(maxBandDf >= 1, s"maxBandDf must be >= 1, got $maxBandDf")
    stored.join(
      stored.groupBy("band", "bkey").agg(count(lit(1)).as("__bw"))
        .filter(col("__bw") <= maxBandDf).select("band", "bkey"),
      Seq("band", "bkey"), "left_semi")
  }

  /** Dedup one micro-batch of (doc_id, text) against the signature store:
    * returns accepted rows, appends their band/signature rows to the store.
    *
    * Order of screens: (1) cross-batch — any band-bucket hit whose
    * signature match fraction ≥ simNum/simDen rejects the doc; (2)
    * within-batch — LSH pairs + connected components over the survivors,
    * cluster minimum wins. Docs too short to shingle carry no signature;
    * they pass the near-dup screens (compose [[IncrementalDedup]] upstream
    * for exact dedup of shorts) and are not stored.
    *
    * @param simNum/simDen signature match-fraction threshold (of k)
    * @param maxBandDf verify-stage cap: stored band buckets wider than this
    *                  are skipped (see [[cappedStored]]) */
  def dedupBatch(batch: DataFrame, storePath: String, idCol: Column,
      textCol: Column, batchId: Long, k: Int = 32, bands: Int = 16,
      simNum: Int = 1, simDen: Int = 2, numBuckets: Int = 16,
      maxBandDf: Int = 256): DataFrame = {
    require(simNum >= 0 && simDen >= 1, s"bad threshold $simNum/$simDen")
    val spark = batch.sparkSession
    val docs = batch.select(idCol.as("doc_id"), textCol.as("__text"))
    val sh = Dedup.shingles(docs, col("doc_id"), col("__text"))
    // LAZY pin: the pruned read's bucket-probe collect materializes it
    val sig = Dedup.minhashSignatures(sh, k).localCheckpoint(false)
    val sigArr = sig.select(col("doc_id"),
      array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
    val buckets = Dedup.bandBuckets(sig, k, bands)

    // (1) cross-batch screen against the stored index — a PRUNED read: only
    // the store buckets the batch's (band, bkey) probes hash into are
    // opened, so the screen is O(batch) file IO at any index size
    val crossDups = KeyedStore.readPruned(spark, storePath, buckets).map {
      stored =>
        val hits = buckets.join(
          cappedStored(
            liveRows(stored)
              .select(col("band"), col("bkey"), col("sig").as("__ssig")),
            maxBandDf),
          Seq("band", "bkey"))
        hits.join(sigArr, Seq("doc_id"))
          .withColumn("__matches",
            aggregate(zip_with(col("sig"), col("__ssig"),
              (a, b) => when(a === b, 1).otherwise(0)), lit(0),
              (acc, x) => acc + x))
          .filter(col("__matches") * simDen >= lit(simNum) * k)
          .select(col("doc_id")).distinct()
    }
    val survivors =
      crossDups.fold(docs)(docs.join(_, Seq("doc_id"), "left_anti"))

    // (2) within-batch near-dup clustering over the survivors (batch-sized)
    val shS = sh.join(survivors.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .persist()
    val pairs = Dedup.minhashLshPairs(shS, simNum, simDen, k, bands)
    val losers =
      if (pairs.isEmpty) shS.select(col("doc_id")).limit(0)
      else Dedup.connectedComponents(pairs)
        .filter(col("doc_id") =!= col("keeper_id")).select(col("doc_id"))
    val accepted = survivors.join(losers, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    shS.unpersist()

    // (3) index the accepted docs' signatures
    val newRows = Dedup.bandBuckets(
        sig.join(accepted.select(col("doc_id")), Seq("doc_id"), "left_semi"),
        k, bands)
      .join(sigArr, Seq("doc_id"))
      .withColumn("batch_id", lit(batchId))
      .withColumn("op_type", lit("put"))
    if (!newRows.isEmpty)
      KeyedStore.merge(newRows, storePath,
        keys = Seq("band", "bkey", "doc_id"), seqCols = Seq("batch_id"),
        numBuckets = numBuckets,
        // bucket by the PROBE key prefix (not the full identity key) so
        // readPruned can map (band, bkey) probes to buckets
        bucketCols = Seq("band", "bkey"))
    // the signature checkpoint fed the screen, the clustering, and the index
    // rows — all materialized by now; free it or every batch leaks one
    // signature table for the stream's lifetime
    graft.util.Blocks.freeCheckpoint(sig)
    accepted.select(col("doc_id"), col("__text").as("text"))
  }

  /** Live index rows — tombstones ([[deleteBatch]]) hidden. */
  private def liveRows(df: DataFrame): DataFrame =
    KeyedStore.liveView(df)

  /** CDC DELETE half for the signature index (round 14 — erasure at the
    * NEAR-dup screen; with [[IncrementalDedup.deleteBatch]] and
    * [[IncrementalCc.deleteNodes]] this completes right-to-erasure
    * through the whole dedup chain): remove accepted documents' band and
    * signature rows so near-duplicates of the erased content pass the
    * screen again — erasure at a near-dup index means the index may no
    * longer "remember" the erased text through its signature.
    *
    * A CDC delete carries the full row, so the signatures are RECOMPUTED
    * from the text (the index stores per-band rows keyed
    * (band, bkey, doc_id) — recomputation reaches exactly the original
    * fold's keys because minhash is a pure function of the text).
    * ENFORCED: every recomputed band row must be live in the index (a
    * missing one proves a never-accepted doc, drifted text, or a double
    * delete). Crashed-attempt replay rides a manifest-note HIGH-WATER
    * MARK (`delver`/`deln`, committed atomically with the tombstones —
    * the [[IncrementalDedup.deleteBatch]] stance; a tombstone-presence
    * exemption would break the moment the maintenance compaction below
    * dropped this batch's own tombstones). Documents too short to
    * shingle were never indexed and erase as a no-op. Stores written
    * before round 14 lack op_type and need a one-time rewrite (the
    * merge fails loudly on the schema union).
    *
    * Returns the number of documents whose signatures were erased. */
  def deleteBatch(batch: DataFrame, storePath: String, idCol: Column,
      textCol: Column, batchId: Long, k: Int = 32, bands: Int = 16,
      numBuckets: Int = 16): Long = {
    val spark = batch.sparkSession
    // replay HWM: a re-delivered erase is a zero-job no-op. Only a replay
    // of the LATEST erase can echo the note's recorded count; a
    // strictly-older replay no-ops with 0 — the single note slot cannot
    // recover its count, and echoing the newest batch's would lie
    // (ADVICE r14; the [[IncrementalDedup.deleteBatch]] stance).
    val noted = KeyedStore.readNote(spark, storePath)
      .map(KeyedStore.Note.decode).filter(_.contains("delver"))
    if (StoreFold.replayed(noted, batchId, key = "delver"))
      return noted.filter(_("delver").toLong == batchId).fold(0L)(_("deln").toLong)
    val docs = batch.select(idCol.as("doc_id"), textCol.as("__text"))
    val sh = Dedup.shingles(docs, col("doc_id"), col("__text"))
    // LAZY pin: the pruned read's bucket-probe collect materializes it
    val sig = Dedup.minhashSignatures(sh, k).localCheckpoint(false)
    val rows = Dedup.bandBuckets(sig, k, bands)
      .localCheckpoint(true) // feeds the probe, the guard, the tombstones
    val live = KeyedStore.readPruned(spark, storePath, rows)
      .map(df => liveRows(df)
        .select(col("band"), col("bkey"), col("doc_id")))
    val missing = live
      .fold(rows)(rows.join(_, Seq("band", "bkey", "doc_id"), "left_anti"))
      .select(col("doc_id")).distinct().limit(3).collect().map(_.getLong(0))
    require(missing.isEmpty,
      s"deleteBatch: docs ${missing.mkString(", ")}… have band rows not " +
        s"live in the index at $storePath — erasure can only remove " +
        "ACCEPTED documents with their ORIGINAL text (rejected duplicate, " +
        "drifted text, or a double delete)")
    val n = rows.select(col("doc_id")).distinct().count()
    val sigArr = sig.select(col("doc_id"),
      array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
    KeyedStore.merge(
      rows.join(sigArr, Seq("doc_id"))
        .withColumn("batch_id", lit(batchId))
        .withColumn("op_type", lit("delete")),
      storePath, keys = Seq("band", "bkey", "doc_id"),
      seqCols = Seq("batch_id"), numBuckets = numBuckets,
      bucketCols = Seq("band", "bkey"),
      note = Some(KeyedStore.Note.encode(
        "delver" -> batchId.toString, "deln" -> n.toString)))
    // an absent band row reads exactly as a tombstoned one (no screen
    // hit), so the cadence may drop tombstones whenever it fires —
    // replay safety rides the note, which compaction preserves
    KeyedStore.maintain(spark, storePath)
    graft.util.Blocks.freeCheckpoint(rows)
    graft.util.Blocks.freeCheckpoint(sig)
    n
  }
}
