package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-batch exact deduplication for CONTINUOUS ingest — the streaming
  * complement to `ext/Dedup.exact`: a batch pipeline dedups a corpus it can
  * see whole, but a crawler/firehose pipeline must reject re-arrivals of
  * content it accepted in ANY earlier micro-batch, across restarts. Spark's
  * built-in `dropDuplicates` on a stream holds its seen-set in query state
  * bounded by the watermark; this operator instead persists the accepted
  * fingerprint set in a [[KeyedStore]], so the dedup horizon is unbounded,
  * survives restarts (and even different queries), and stays inspectable as
  * a table.
  *
  * Per-batch cost: one window over the BATCH (batch-sized, not state-sized)
  * for within-batch firsts, one anti-join against the store scan, and a
  * KeyedStore merge that rewrites only the buckets the batch touches. The
  * corpus-sized seen-set never shuffles as a whole — the anti-join shuffles
  * the batch against the store's bucketed files, and at scale the store side
  * prunes to the buckets the batch's fingerprints hash into (the same
  * bucket-pruned read `DimCache` uses).
  */
object IncrementalDedup {

  /** Dedup one micro-batch against the store at `storePath` (creating it on
    * first use), append the survivors' fingerprints, and return the
    * surviving rows. Within a batch, the first row per fingerprint in
    * `ordCol` order wins — deterministic under any partitioning.
    *
    * The survivors are eagerly `localCheckpoint`ed before the fingerprint
    * merge: the merge is an action, and without pinning, the caller's later
    * consumption would recompute the anti-join AGAINST THE ALREADY-UPDATED
    * store and return zero rows. */
  def dedupBatch(batch: DataFrame, storePath: String, fpCol: Column,
      ordCol: Column, batchId: Long, numBuckets: Int = 16): DataFrame = {
    val spark = batch.sparkSession
    val withFp = batch.withColumn("__fp", fpCol)
    val firsts = withFp
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__fp")).orderBy(ordCol)))
      .filter(col("__rk") === 1).drop("__rk")
    // PRUNED read: only the store buckets the batch's fingerprints hash
    // into are opened (the store is created with bucketCols = fp below), so
    // the screen is O(batch) file IO at any index size. Erased
    // fingerprints ([[deleteBatch]] tombstones) are NOT seen — their
    // content reads as new again, which is the erasure contract.
    val fresh = (KeyedStore.readPruned(spark, storePath,
        firsts.select(col("__fp").as("fp"))) match {
      case Some(seen) => firsts.join(
        liveFps(seen).select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
      case None => firsts
    }).localCheckpoint(true)
    val newFps = fresh.select(col("__fp").as("fp"))
      .withColumn("batch_id", lit(batchId))
      .withColumn("op_type", lit("put"))
    if (!newFps.isEmpty)
      KeyedStore.merge(newFps, storePath, keys = Seq("fp"),
        seqCols = Seq("batch_id"), numBuckets = numBuckets,
        bucketCols = Seq("fp"))
    fresh.drop("__fp")
  }

  /** Live fingerprint rows — tombstones hidden. */
  private def liveFps(df: DataFrame): DataFrame =
    KeyedStore.liveView(df)

  /** CDC DELETE half for the fingerprint store (round 14 — erasure at
    * the exact-dedup screen, completing the deletion family across the
    * dedup chain with [[IncrementalLsh.deleteBatch]] and
    * [[IncrementalCc.deleteNodes]]): remove ACCEPTED documents'
    * fingerprints so their content reads as never-seen — a later
    * re-arrival of the same bytes is accepted again, which is what
    * erasure must mean at a dedup screen (keeping the fingerprint would
    * silently drop the re-crawled replacement of an erased document).
    *
    * Contract: erase ACCEPTED documents only (rows [[dedupBatch]]
    * RETURNED) — a rejected duplicate's fingerprint belongs to the
    * accepted copy and must survive its copies' erasure. ENFORCED: a
    * batch fingerprint that is missing or already erased aborts loudly
    * BEFORE anything writes (wrong rows, or a double delete).
    * Crashed-attempt replay rides a manifest-note HIGH-WATER MARK
    * (`delver`/`deln`, committed atomically with the tombstones): a
    * replay of the LATEST erase returns its recorded count, a replay of
    * an OLDER one returns 0 (no-op; the single slot cannot recover that
    * batch's count), neither touching the store or the guard — NOT a
    * tombstone-presence exemption, which the
    * maintenance compaction below could erase out from under a retry
    * (the round-14 review's wedged-stream finding). The note only needs
    * to survive until the caller's checkpoint commits this batch, and
    * the serialized-caller contract means no other fold (whose
    * note-less merge would drop it) runs in that window; compaction
    * carries notes forward. Erase-then-re-accept interleavings resolve
    * correctly because batchId is the seq: the re-accepting put
    * outranks the tombstone. Stores written before round 14 lack
    * op_type and need a one-time rewrite (the merge fails loudly on the
    * schema union).
    *
    * Returns the number of fingerprints erased. */
  def deleteBatch(batch: DataFrame, storePath: String, fpCol: Column,
      batchId: Long, numBuckets: Int = 16): Long = {
    val spark = batch.sparkSession
    // replay HWM: a re-delivered erase is a zero-job no-op. The note is a
    // single slot holding the LATEST erase's count, so only a replay of
    // THAT batch can echo its recorded count; a strictly-older replay
    // (batchId < delver) no-ops with 0 — its own count is unrecoverable
    // from the slot, and reporting the newest batch's count for it would
    // lie (ADVICE r14).
    val noted = KeyedStore.readNote(spark, storePath)
      .map(KeyedStore.Note.decode).filter(_.contains("delver"))
    if (StoreFold.replayed(noted, batchId, key = "delver"))
      return noted.filter(_("delver").toLong == batchId).fold(0L)(_("deln").toLong)
    // set semantics: the same content listed twice erases once
    val fps = batch.select(fpCol.as("fp")).distinct()
      // LAZY pin: the pruned read's bucket-probe collect materializes it
      .localCheckpoint(false)
    val live = KeyedStore.readPruned(spark, storePath, fps)
      .map(df => liveFps(df).select(col("fp")))
    val missing = live.fold(fps)(fps.join(_, Seq("fp"), "left_anti"))
      .limit(3).collect().map(_.get(0))
    require(missing.isEmpty,
      s"deleteBatch: fingerprints ${missing.mkString(", ")}… are not live " +
        s"in the store at $storePath — erasure can only remove accepted " +
        "documents (wrong rows, a rejected duplicate, or a double delete)")
    val n = fps.count()
    KeyedStore.merge(
      fps.withColumn("batch_id", lit(batchId))
        .withColumn("op_type", lit("delete")),
      storePath, keys = Seq("fp"), seqCols = Seq("batch_id"),
      numBuckets = numBuckets, bucketCols = Seq("fp"),
      note = Some(KeyedStore.Note.encode(
        "delver" -> batchId.toString, "deln" -> n.toString)))
    // tombstones are safe to compact away on the amortized cadence: an
    // absent fingerprint reads exactly as a tombstoned one (not seen),
    // and replay safety rides the note, which compaction preserves
    KeyedStore.maintain(spark, storePath)
    graft.util.Blocks.freeCheckpoint(fps)
    n
  }
}

/** Cross-batch CHUNK-level dedup — the storage-dedup use case content-
  * defined chunking exists for, composed from the two proven pieces:
  * [[graft.ext.TextStats.cdcChunks]] cuts each document at content-defined
  * boundaries (insertion-robust: an early edit perturbs only the chunks it
  * touches, every later chunk re-synchronizes to an identical fingerprint),
  * and a persistent REFERENCE-COUNTED fingerprint store decides which
  * chunk CONTENTS the batch must physically store vs merely reference. A
  * re-ingested document with an early insertion therefore stores only its
  * touched chunks — across micro-batches, restarts, and different queries.
  *
  * Round 15: the store is REFCOUNTED — one row per live fingerprint
  * holding (cnt = live (doc, chunk) references, fb = the batch that
  * stored the bytes, ver) under layout `chunk-rc-v1` — because chunk
  * erasure is NOT presence erasure: a chunk's bytes are SHARED by every
  * document that references them (that is the point of storage dedup),
  * so erasing one document may only reclaim the chunks whose last
  * reference it held. The counting protocol is [[IncrementalDf]]'s:
  * integer-exact adds/subtracts under a manifest-note high-water mark,
  * so after any fold/delete interleaving the stored (fp → cnt) table
  * equals the one-pass chunk-reference count over the SURVIVING corpus
  * (oracle `q_chunk_erase`). Stores written before round 15 carry the
  * old presence layout and fail loudly with the rebuild instruction
  * (the KeyedStore layout-stamp policy).
  *
  * Per-batch cost: the chunking window passes, one batch-sized rank
  * window for within-batch firsts, a bucket-PRUNED store read sized by
  * the batch's fingerprints, and a KeyedStore merge touching only the
  * buckets the batch's fingerprints hash into. Fingerprint identity IS
  * content identity here (the [[IncrementalDedup]] stance — documented
  * 32-bit fp collision exposure; a collision would alias two different
  * chunks onto one refcount — widen the fp slice where that matters). */
object IncrementalChunkDedup {

  private val Layout = Some("chunk-rc-v1")

  /** Live (fp, cnt, fb) rows of the `probe` fingerprints' buckets. The
    * read-path layout guard names the layout: the merge-time stamp check
    * never runs if the caller only ever probes a pre-r15 presence-layout
    * store, whose rows lack the refcount columns. */
  private def liveRows(spark: org.apache.spark.sql.SparkSession,
      storePath: String, probe: DataFrame): DataFrame =
    StoreFold.livePruned(spark, storePath, probe,
      "fp BIGINT, cnt BIGINT, fb BIGINT", kind = None, layout = Layout)

  /** Chunk one micro-batch, screen the chunk fingerprints against the
    * store at `storePath` (creating it on first use), add the batch's
    * references (new fingerprints seed cnt, seen ones increment it), and
    * return the batch's full chunk layout with `stored = 1` on exactly
    * the rows whose content this batch must write (the canonical first
    * (doc_id, chunk_id) occurrence of a fingerprint the store had never
    * seen — or had seen only from THIS batch, the replay case); every
    * other row is a reference to an already-stored chunk.
    *
    * REPLAY-idempotent under the serialized-caller contract (monotone
    * batchIds across folds AND deletes, the [[IncrementalDf]] stance): a
    * re-delivered batch (batchId ≤ the note HWM) recomputes its output
    * from the committed store — `stored = 1` exactly where fb records
    * this batch — WITHOUT touching the counts, so at-least-once upstream
    * delivery can neither double-count references nor skip the physical
    * byte write after a crash.
    *
    * @return (doc_id, chunk_id, n_toks, fp, stored) */
  def dedupBatch(batch: DataFrame, storePath: String, idCol: Column,
      textCol: Column, batchId: Long, window: Int = 3, divisor: Int = 16,
      numBuckets: Int = 16): DataFrame = {
    val spark = batch.sparkSession
    // checkpoint the chunk layout ONCE: the pruned-read probe below
    // collects the batch's fingerprints (an action), and the output
    // checkpoint is a second action — unpinned, each would re-run the
    // chunker's two corpus window passes
    val chunks = graft.ext.TextStats
      .cdcChunks(batch, idCol, textCol, window, divisor)
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"), col("chunk_id"))))
      .localCheckpoint(true)
    // pruned read: only the store buckets this batch's fingerprints hash
    // into are opened — O(batch) file IO at any store size
    val s = liveRows(spark, storePath, chunks.select(col("fp")).distinct())
    if (StoreFold.replayed(KeyedStore.readFoldNote(spark, storePath), batchId)) {
      // replay: output from the committed store, counts untouched — fb
      // marks the fingerprints THIS batch stored (their bytes must be
      // re-written by the caller); fingerprints a LATER erase dropped
      // read as unseen-but-unstored (erasure must not resurrect here)
      val out = chunks.join(s.select(col("fp"), col("fb")), Seq("fp"), "left_outer")
        .withColumn("stored",
          (coalesce(col("fb"), lit(Long.MinValue)) === batchId &&
            col("__rk") === 1).cast("int"))
        .select(col("doc_id"), col("chunk_id"), col("n_toks"), col("fp"),
          col("stored"))
        .localCheckpoint(true)
      graft.util.Blocks.freeCheckpoint(chunks)
      return out
    }
    val out = chunks
      .join(s.select(col("fp"), lit(1).as("__seen")), Seq("fp"), "left_outer")
      .withColumn("stored",
        (col("__seen").isNull && col("__rk") === 1).cast("int"))
      .select(col("doc_id"), col("chunk_id"), col("n_toks"), col("fp"),
        col("stored"))
      // pin BEFORE the store merge: without it the caller's consumption
      // would re-run the screen against the already-updated store and mark
      // nothing as stored (the dedupBatch discipline)
      .localCheckpoint(true)
    // reference upsert: EVERY batch fingerprint's count grows by its
    // (doc, chunk) row count — new fps seed from 0 (incl. reseeding a
    // fingerprint a past erase tombstoned: the put at ver = batchId
    // outranks the older tombstone), seen ones increment
    val upserts = chunks.groupBy(col("fp"))
      .agg(count(lit(1)).as("__refs"))
      .join(s, Seq("fp"), "left_outer")
      .select(col("fp"),
        (coalesce(col("cnt"), lit(0L)) + col("__refs")).as("cnt"),
        coalesce(col("fb"), lit(batchId)).as("fb"),
        lit(batchId).as("ver"), lit("put").as("op_type"))
      // LAZY pin: the merge's own stage write is the one materialization
      .localCheckpoint(false)
    if (!upserts.isEmpty)
      StoreFold.commit(upserts, storePath, keys = Seq("fp"),
        numBuckets = numBuckets, note = Seq("ver" -> batchId),
        bucketCols = Seq("fp"), layoutId = Layout)
    graft.util.Blocks.freeCheckpoint(upserts)
    graft.util.Blocks.freeCheckpoint(chunks)
    out
  }

  /** CDC DELETE half for the chunk store (round 15 — completing the
    * deletion family across every persistent index: chunks were the one
    * store without it): subtract the erased documents' references and
    * TOMBSTONE fingerprints whose count reaches zero — exactly those
    * chunks' bytes are reclaimable by the content-addressed store, and
    * ONLY those (a chunk another document still references must survive
    * its co-holders' erasure — presence tombstoning would corrupt the
    * survivors' references, which is why this store refcounts).
    *
    * The documents' chunk layouts are RECOMPUTED from the CDC delete
    * pre-image text ([[IncrementalLsh.deleteBatch]]'s ordering contract:
    * erase the chunk index BEFORE the corpus drops the bytes; cdcChunks
    * is a pure function of the text, so recomputation reaches exactly
    * the folded fingerprints). ENFORCED where the store allows: a batch
    * fingerprint that is missing, or holds fewer live references than
    * the batch subtracts, aborts loudly BEFORE anything writes (a
    * never-folded doc, drifted text, or a double delete caught by
    * arithmetic); like [[IncrementalDf.deleteBatch]], the store records
    * fingerprints, not doc ids, so a cross-batch double delete that
    * happens to leave every count ≥ the batch's is NOT detectable here —
    * route document identity through [[IncrementalDedup]] upstream.
    * Replay rides the shared note HWM: a replay of the LATEST erase
    * returns its recorded drop count, an older one returns 0 (the
    * [[IncrementalDedup.deleteBatch]] contract).
    *
    * Returns the number of fingerprints whose count reached zero (the
    * reclaimable chunk set). */
  def deleteBatch(batch: DataFrame, storePath: String, idCol: Column,
      textCol: Column, batchId: Long, window: Int = 3, divisor: Int = 16,
      numBuckets: Int = 16): Long = {
    val spark = batch.sparkSession
    val note = KeyedStore.readFoldNote(spark, storePath)
    if (StoreFold.replayed(note, batchId))
      return note.filter(_.get("delver").map(_.toLong).contains(batchId))
        .fold(0L)(_("deln").toLong)
    val chunks = graft.ext.TextStats
      .cdcChunks(batch, idCol, textCol, window, divisor)
      .localCheckpoint(true) // feeds the refs agg + nothing else re-runs
    val refs = chunks.groupBy(col("fp")).agg(count(lit(1)).as("__refs"))
      // LAZY pin: the pruned read's bucket-probe collect materializes it
      .localCheckpoint(false)
    val s = liveRows(spark, storePath, refs.select(col("fp")))
    val dec = refs.join(s, Seq("fp"), "left_outer")
      .localCheckpoint(true) // feeds the guard, the drop count, the merge
    val bad = dec.filter(col("cnt").isNull || col("cnt") < col("__refs"))
      .select(col("fp")).limit(3).collect().map(_.get(0))
    require(bad.isEmpty,
      s"deleteBatch: chunk fingerprints ${bad.mkString(", ")}… are missing " +
        s"or under-referenced in the store at $storePath — the batch holds " +
        "a doc that was never folded, whose text drifted since folding, or " +
        "a double delete (erase the chunk index BEFORE the corpus drops " +
        "the text)")
    val dropped = dec.filter(col("cnt") === col("__refs")).count()
    StoreFold.commit(
      dec.select(col("fp"),
        (col("cnt") - col("__refs")).as("cnt"), col("fb"),
        lit(batchId).as("ver"),
        when(col("cnt") === col("__refs"), lit("delete"))
          .otherwise(lit("put")).as("op_type")),
      storePath, keys = Seq("fp"), numBuckets = numBuckets,
      note = Seq("ver" -> batchId, "delver" -> batchId, "deln" -> dropped),
      bucketCols = Seq("fp"), layoutId = Layout)
    // zero-count tombstones compact on the amortized cadence: an absent
    // fingerprint reads exactly as a tombstoned one (unseen — a re-ingest
    // reseeds it), and replay safety rides the note, which compaction
    // preserves
    KeyedStore.maintain(spark, storePath)
    graft.util.Blocks.freeCheckpoint(dec)
    graft.util.Blocks.freeCheckpoint(refs)
    graft.util.Blocks.freeCheckpoint(chunks)
    dropped
  }
}
