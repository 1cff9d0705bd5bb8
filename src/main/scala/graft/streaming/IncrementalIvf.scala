package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent IVFADC index — the cross-batch form of the deployed-ANN
  * stack ([[graft.ext.Similarity.ivfPqTopK]]): the index a crawl-scale
  * embedding pipeline GROWS as batches arrive instead of rebuilding from
  * the corpus per query. Codebooks and coarse cells are frozen at build
  * time (the production posture: retraining the quantizer invalidates
  * every stored code); each micro-batch then contributes
  *
  *   - CODE rows (vec_id, sub, label, code): the batch PQ-encoded against
  *     the frozen books ([[graft.ext.Similarity.pqEncode]] is row-local
  *     per vector, so per-batch encoding is trivially identical to
  *     whole-corpus encoding) — append-only, keyed (label, vec_id, sub)
  *     and BUCKETED BY CELL, the posting-list layout that lets [[search]]
  *     read only the probed cells' buckets;
  *   - CENTROID-SUM rows (label, pos, csum): the batch's exact
  *     decimal component sums ADDED into the stored sums at (37,10)
  *     operand precision (so the add resolves to an exact (38,10) —
  *     Spark would round a (38,10)+(38,10) add to scale 9). Exact
  *     fixed-scale addition is order-free, so after any number of folds
  *     the stored sums are bit-identical to the one-pass corpus aggregate
  *     ([[graft.ext.Similarity.coarseCentroidSums]]) — and therefore
  *     [[search]]'s probe centroids are bit-identical to the batch
  *     operator's, floats included (sum exactness spec-pinned).
  *
  * [[search]] then runs the SAME probe + ADC core as the batch operator
  * ([[graft.ext.Similarity.ivfPqCore]] — shared code, not a twin), so
  * store-backed retrieval equals `ivfPqTopK` over the concatenated history
  * exactly (spec-anchored, and `q_ann_stream`'s oracle is the batch twin
  * verbatim, the `q_bloom_stream` precedent).
  *
  * Layout: THREE KeyedStores under one root — `<root>/codes`
  * (corpus-sized, append-only, never read on the fold path),
  * `<root>/stats` (labels·dim + labels + 1 rows; read + folded every
  * batch), and `<root>/ids` (one row per indexed vec_id, bucketed by
  * vec_id — the fold-once contract's enforcement probe, read and written
  * bucket-pruned at O(batch)). A fold merges ids, then codes, then
  * stats; the stats merge (its manifest note carries the high-water mark)
  * is the commit point. Crash between the two leaves the mark unadvanced, so
  * the replayed fold re-upserts the same (vec_id, sub)-keyed code rows
  * with identical values (idempotent) and folds the sums exactly once —
  * the [[IncrementalTriangles]] two-store discipline. Replay safety is the
  * counting-sketch contract: `batchId` is the `ver` seq, a replayed fold
  * (batchId <= stored mark) returns current state without touching either
  * store.
  *
  * Per-fold cost: one batch-sized encode + label join, a bucketed upsert
  * of batch·m code rows, one labels·dim-row stats read/fold.
  * The fold never reads the code store — index maintenance stays O(batch)
  * as the index grows to corpus scale. */
object IncrementalIvf {

  /** Live stats rows: per-cell sums (kind "s") and counts (kind "c"). */
  private def statsLive(spark: SparkSession, statsPath: String): DataFrame =
    StoreFold.live(spark, statsPath,
      "kind STRING, g STRING, pos BIGINT, csum DECIMAL(38,10), n BIGINT",
      kind = None)

  /** The stats store's decoded note (the fold's HWM, zero jobs) and its
    * live rows, lazily pinned — the stats merge's own stage write is the
    * one materialization. */
  private def statsFold(spark: SparkSession,
      storePath: String): (Option[Map[String, String]], DataFrame) =
    (KeyedStore.readFoldNote(spark, s"$storePath/stats"),
      statsLive(spark, s"$storePath/stats").localCheckpoint(false))

  private def directoryOf(curC: DataFrame): DataFrame =
    curC.select(col("g").cast("long").as("label"), col("n").as("n_vecs"))

  /** The batch's code rows, merged into `<root>/codes` keyed (vec_id, sub)
    * at ver = batchId. Split out so the crash window between the two store
    * writes is testable: re-running it for the same batch re-upserts
    * identical rows (pqEncode is a pure per-vector function of the frozen
    * books), which is exactly what the post-crash replay does. */
  private[streaming] def mergeCodes(batch: DataFrame, storePath: String,
      books: DataFrame, m: Int, batchId: Long, numBuckets: Int): Unit = {
    // label stays NUMERIC end to end: the probe stage tie-breaks on
    // c_label, and a string label would order "10" < "2" where the batch
    // path orders 2 < 10 — a latent parity break on exact-tie cells
    val rows = graft.ext.Similarity
      .pqEncode(batch.select(col("vec_id"), col("embedding")), books, m)
      .join(batch.select(col("vec_id"), col("label")), "vec_id")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("sub").cast("long").as("sub"),
        col("label").cast("long").as("label"), col("code").cast("long").as("code"),
        lit(batchId).as("ver"), lit("put").as("op_type"))
    // codes BUCKET BY CELL: a vec's label is frozen at fold time (each
    // vec folds once against frozen books), so (vec_id, sub) stays unique
    // under the widened key and search can read ONLY the probed cells'
    // buckets — the posting-list layout every deployed IVF index uses
    KeyedStore.merge(rows, s"$storePath/codes",
      keys = Seq("label", "vec_id", "sub"), seqCols = Seq("ver"),
      numBuckets = numBuckets, bucketCols = Seq("label"),
      layoutId = Some("ivf-codes-v1"))
  }

  /** Fold one micro-batch (vec_id, embedding, label) into the index at
    * `storePath` (created on first use) and return the updated cell
    * directory (label, n_vecs). `books` must be the SAME frozen codebooks
    * on every fold — the index stores codes, not vectors, so a retrained
    * book would silently mis-rank everything indexed before it.
    *
    * Contract: each vec_id folds ONCE (the [[IncrementalDf]] stance — a
    * re-ingested id would OVERWRITE its code rows by key but ADD its
    * components into the centroid sums again, silently skewing the probe
    * centroids; and since codes are keyed (label, vec_id, sub), a re-fold
    * whose embedding moved to a DIFFERENT cell would leave the old cell's
    * rows live — the vector would answer from two cells). The contract is
    * ENFORCED, not assumed (`guardIds`, default on): an ids sub-store at
    * `<root>/ids`, bucketed by vec_id, records every folded id, and the
    * fold rejects a batch containing an id a STRICTLY EARLIER fold
    * indexed — checked INSIDE the ids merge's own bucket IO
    * ([[KeyedStore.merge]]'s `rejectStaged`/`rejectStored` conflict
    * guards), so enforcement costs no store round-trip beyond the merge
    * the fold does anyway, and is free on non-colliding batches.
    * Post-crash replay stays safe: the crashed attempt's own ids carry
    * `ver == batchId` and are exempt, and whole-batch replay after commit
    * is already a high-water-mark no-op before the guard runs.
    *
    * The exemption keys on `ver == batchId`, so `batchId` UNIQUENESS is
    * part of the guarded contract: a caller that reuses a batchId for a
    * DIFFERENT (non-replay) batch bypasses the guard for ids that batch
    * shares with the earlier one — use a monotone per-fold id (epoch,
    * offset, generation), never a recycled counter.
    *
    * Stores created before the guard existed are layout-stamped apart
    * ("ivf-ids-v2" — the guard also persists a per-id occurrence count)
    * and fail loudly with the rebuild instruction. Set `guardIds = false`
    * only when an upstream [[IncrementalDedup]] already owns id
    * uniqueness and the one extra guarded merge per fold matters. */
  def mergeBatch(batch: DataFrame, storePath: String, books: DataFrame,
      batchId: Long, m: Int = 4, numBuckets: Int = 4,
      guardIds: Boolean = true): DataFrame = {
    val spark = batch.sparkSession
    // (the ids/codes merges before the stats merge never touch its store)
    val (note, live) = statsFold(spark, storePath)
    val curS = live.filter(col("kind") === "s")
    val curC = live.filter(col("kind") === "c")
    if (StoreFold.replayed(note, batchId)) {
      val out = directoryOf(curC).localCheckpoint(true)
      graft.util.Blocks.freeCheckpoint(live)
      return out
    }
    if (guardIds) {
      val idsPath = s"$storePath/ids"
      // Both contract checks ride the ids MERGE's own bucket IO (round-10
      // priced each extra Spark action at ~0.3 s on the 3-fold drive;
      // this removes the earlier separate probe + collect entirely):
      //   - within-batch duplicates surface as cnt > 1 in the batch's own
      //     staged winners (the per-id occurrence count is aggregated
      //     inside the merge's first job — no extra action);
      //   - an id indexed by a STRICTLY EARLIER fold surfaces as a
      //     committed row with ver < batchId in exactly the collided
      //     buckets the merge folds anyway (bucket-pruned, O(batch), and
      //     free on a fresh store — no committed bucket, no check).
      // A violation aborts the ids merge BEFORE publish, so the whole
      // index (ids, codes, stats) is untouched. Post-crash replay stays
      // exempt: the crashed attempt's committed ids carry ver == batchId,
      // failing the strict inequality, and the re-merge upserts identical
      // rows. ids land BEFORE codes, preserving the crash ordering.
      KeyedStore.merge(
        batch.select(col("vec_id").cast("long").as("vec_id"))
          .groupBy("vec_id").agg(count(lit(1)).as("cnt"))
          .withColumn("ver", lit(batchId))
          .withColumn("op_type", lit("put")),
        idsPath, keys = Seq("vec_id"), seqCols = Seq("ver"),
        numBuckets = numBuckets, bucketCols = Seq("vec_id"),
        layoutId = Some("ivf-ids-v2"),
        rejectStaged =
          Some((col("cnt") > 1, "folds more than once in this batch")),
        rejectStored =
          // deleted ids are exempt: an id removed by [[deleteBatch]] may
          // be re-indexed — its tombstone is not "already indexed"
          Some((col("ver") < batchId && KeyedStore.isLive(col("op_type")),
            "already indexed by an earlier fold")),
        rejectMsg = "IVF fold-once contract violated — a re-encoded vec " +
          "whose cell moved would leave the old cell's code rows live, " +
          "and a within-batch duplicate double-adds centroid sums; route " +
          "re-arrivals through IncrementalDedup")
    }
    // codes next: the stats merge below is the commit point, so a
    // crash landing here replays into an idempotent code re-upsert
    mergeCodes(batch, storePath, books, m, batchId, numBuckets)
    val batchSums = graft.ext.Similarity.coarseCentroidSums(
      batch.select(col("label").cast("string").as("label"),
        col("embedding")))
      .select(col("label").as("g"), col("pos").cast("long").as("pos"),
        col("cv").as("bs"))
    val sumRows = batchSums
      .join(curS.select(col("g"), col("pos"), col("csum")),
        Seq("g", "pos"), "left_outer")
      .select(lit("s").as("kind"), col("g"), col("pos"),
        // add at (37,10): Spark resolves (38,10)+(38,10) to (38,9), which
        // would ROUND the 10th fractional digit on every fold — (37,10)
        // operands resolve to an exact (38,10) result (values are corpus
        // component sums, nowhere near 27 integer digits)
        (coalesce(col("csum"), lit(0).cast("decimal(37,10)"))
            .cast("decimal(37,10)") + col("bs").cast("decimal(37,10)"))
          .cast("decimal(38,10)").as("csum"),
        lit(0L).as("n"), lit(batchId).as("ver"), lit("put").as("op_type"))
    val batchCounts = batch.groupBy(col("label").cast("string").as("g"))
      .agg(count(lit(1)).as("bn"))
    val countRows = batchCounts
      .join(curC.select(col("g"), col("n")), Seq("g"), "left_outer")
      .select(lit("c").as("kind"), col("g"), lit(-1L).as("pos"),
        lit(null).cast("decimal(38,10)").as("csum"),
        (coalesce(col("n"), lit(0L)) + col("bn")).as("n"),
        lit(batchId).as("ver"), lit("put").as("op_type"))
    commitStats(sumRows.unionByName(countRows), storePath, live, curC,
      batchId, numBuckets)
  }

  /** The stats merge — the fold's commit point, its note carrying the
    * HWM — then the updated cell directory (put count rows over `curC`).
    * Frees the fold's pinned `live` read. */
  private def commitStats(rows: DataFrame, storePath: String,
      live: DataFrame, curC: DataFrame, batchId: Long,
      numBuckets: Int): DataFrame = {
    // LAZY pin: the stats merge's own stage write is the one
    // materialization, before it GCs the read generation
    val changed = rows.localCheckpoint(false)
    StoreFold.commit(changed, s"$storePath/stats",
      keys = Seq("kind", "g", "pos"), numBuckets = numBuckets,
      note = Seq("ver" -> batchId), layoutId = Some("ivf-stats-v1"))
    val counts = changed.filter(col("kind") === "c")
    val out = directoryOf(
        curC.select(col("g"), col("n"))
          .join(counts.select(col("g")), Seq("g"), "left_anti")
          .unionByName(KeyedStore.active(counts).select(col("g"), col("n"))))
      .localCheckpoint(true)
    graft.util.Blocks.freeCheckpoint(live)
    graft.util.Blocks.freeCheckpoint(changed)
    out
  }

  /** CDC DELETE half for the persistent ANN index (round 13 — the
    * [[IncrementalTriangles.deleteEdges]] symmetry, closing the one
    * append-only store in the CDC-delete family; the production case is
    * the right-to-erasure pass over a vector index): remove indexed
    * vectors, exactly.
    *
    * Contract: `batch` must carry the SAME (vec_id, embedding, label)
    * rows the original fold indexed — a CDC delete event carries the
    * full row, and the exact decimal centroid sums can only be
    * decremented by the components that were added. Enforced, not
    * assumed: every delete id must be LIVE in the ids store (a crashed
    * attempt's own `ver == batchId` tombstones are exempt, the
    * [[mergeBatch]] replay stance), and a within-batch duplicate id —
    * which would double-subtract — aborts inside the ids merge's own
    * bucket IO (`rejectStaged cnt > 1`), before anything publishes.
    *
    * Effects, in the crash-ordered sequence (the stats merge is the
    * commit point, exactly [[mergeBatch]]'s): ids rows TOMBSTONE (and
    * [[mergeBatch]]'s fold-once guard exempts deleted rows, so an
    * erased id may be re-indexed later); code rows tombstone at
    * (label, vec_id, sub 0..m-1) — [[search]]'s live filter hides them
    * with zero search-side changes; stats sums SUBTRACT at (37,10)
    * exact operands. Exact fixed-scale subtraction is order-free, so
    * after ANY interleaving of folds and deletes the stored sums are
    * bit-identical to the one-pass aggregate over the SURVIVORS —
    * which is what makes search-after-delete hash-equal the batch
    * operator over the surviving corpus (`q_ann_delta`). A cell whose
    * count reaches 0 tombstones its sum AND count rows (a zero-sum
    * centroid would otherwise feed NaN cosines into the probe
    * ranking); re-adding to that cell later reseeds from zero through
    * the fold's `coalesce`, still the survivor aggregate.
    *
    * Returns the updated cell directory (label, n_vecs), emptied cells
    * absent. */
  def deleteBatch(batch: DataFrame, storePath: String, books: DataFrame,
      batchId: Long, m: Int = 4, numBuckets: Int = 4): DataFrame = {
    val spark = batch.sparkSession
    // LAZY pin + zero-job HWM via the stats note (the FoldJobsSpec
    // protocol)
    val (note, live) = statsFold(spark, storePath)
    val curS = live.filter(col("kind") === "s")
    val curC = live.filter(col("kind") === "c")
    if (StoreFold.replayed(note, batchId)) {
      val out = directoryOf(curC).localCheckpoint(true)
      graft.util.Blocks.freeCheckpoint(live)
      return out
    }
    val idsPath = s"$storePath/ids"
    // liveness: every delete id must be indexed and not already deleted
    // (crashed-attempt tombstones at ver == batchId exempt). One pruned
    // probe of the batch ids' buckets — O(batch) at any index size.
    val delIds = batch.select(col("vec_id").cast("long").as("vec_id"))
      .distinct()
      // LAZY pin: the pruned read's bucket-probe collect materializes it
      .localCheckpoint(false)
    val liveIds = KeyedStore.readPruned(spark, idsPath, delIds).map(_
      .filter(KeyedStore.isLive(col("op_type")) || col("ver") === batchId)
      .select(col("vec_id")))
    val dead = liveIds.fold(delIds)(delIds.join(_, Seq("vec_id"), "left_anti"))
    val badIds = dead.limit(3).collect().map(_.getLong(0))
    require(badIds.isEmpty,
      s"deleteBatch: ids ${badIds.mkString(", ")}… are not live in the " +
        s"index at $storePath — a delete can only subtract components " +
        "that were added (wrong id, double delete, or a batch that was " +
        "never folded)")
    // ids tombstones FIRST (the crash ordering): dup ids abort in-merge
    KeyedStore.merge(
      batch.select(col("vec_id").cast("long").as("vec_id"))
        .groupBy("vec_id").agg(count(lit(1)).as("cnt"))
        .withColumn("ver", lit(batchId))
        .withColumn("op_type", lit("delete")),
      idsPath, keys = Seq("vec_id"), seqCols = Seq("ver"),
      numBuckets = numBuckets, bucketCols = Seq("vec_id"),
      layoutId = Some("ivf-ids-v2"),
      rejectStaged =
        Some((col("cnt") > 1, "deleted more than once in this batch")),
      rejectMsg = "IVF delete-once contract violated — a within-batch " +
        "duplicate would double-subtract centroid sums")
    // code tombstones: (label, vec_id, sub 0..m-1) — values irrelevant,
    // the key is what dies
    val codeDels = batch
      .select(col("vec_id").cast("long").as("vec_id"),
        col("label").cast("long").as("label"))
      .withColumn("sub", explode(expr(s"sequence(0L, ${m - 1}L)")))
      .select(col("label"), col("vec_id"), col("sub"), lit(0L).as("code"),
        lit(batchId).as("ver"), lit("delete").as("op_type"))
    KeyedStore.merge(codeDels, s"$storePath/codes",
      keys = Seq("label", "vec_id", "sub"), seqCols = Seq("ver"),
      numBuckets = numBuckets, bucketCols = Seq("label"),
      layoutId = Some("ivf-codes-v1"))
    // stats: exact subtraction; emptied cells tombstone sum + count rows
    val batchSums = graft.ext.Similarity.coarseCentroidSums(
      batch.select(col("label").cast("string").as("label"),
        col("embedding")))
      .select(col("label").as("g"), col("pos").cast("long").as("pos"),
        col("cv").as("bs"))
    val batchCounts = batch.groupBy(col("label").cast("string").as("g"))
      .agg(count(lit(1)).as("bn"))
    val nAfter = batchCounts
      .join(curC.select(col("g"), col("n")), Seq("g"), "left_outer")
      .select(col("g"), (coalesce(col("n"), lit(0L)) - col("bn")).as("n1"))
    val sumRows = batchSums
      .join(curS.select(col("g"), col("pos"), col("csum")),
        Seq("g", "pos"), "left_outer")
      .join(nAfter, Seq("g"))
      .select(lit("s").as("kind"), col("g"), col("pos"),
        (coalesce(col("csum"), lit(0).cast("decimal(37,10)"))
            .cast("decimal(37,10)") - col("bs").cast("decimal(37,10)"))
          .cast("decimal(38,10)").as("csum"),
        lit(0L).as("n"), lit(batchId).as("ver"),
        when(col("n1") <= 0, lit("delete")).otherwise(lit("put"))
          .as("op_type"))
    val countRows = nAfter
      .select(lit("c").as("kind"), col("g"), lit(-1L).as("pos"),
        lit(null).cast("decimal(38,10)").as("csum"),
        greatest(col("n1"), lit(0L)).as("n"), lit(batchId).as("ver"),
        when(col("n1") <= 0, lit("delete")).otherwise(lit("put"))
          .as("op_type"))
    val out = commitStats(sumRows.unionByName(countRows), storePath, live,
      curC, batchId, numBuckets)
    // self-scheduled tombstone maintenance (round 14, VERDICT r13 item 6):
    // CODE tombstones are safe to drop — the stats HWM serializes folds
    // (no late lower-seq put to resurrect a dropped key, and a crashed
    // attempt's replay re-upserts identical tombstones), so a
    // delete-heavy stream compacts its code store on the amortized
    // cadence and search reads stay O(live), not O(live + deletes)
    // (DeleteCompactionSpec measures the bound). The IDS store is
    // deliberately NOT maintained here: its delete tombstones are the
    // deletion-drift gauge's MEMORY — compacting them would zero
    // [[idLiveness]] and silently defeat [[needsRecluster]] (the
    // round-14 review's finding). Its rows are three longs per id ever
    // indexed; [[reclusterRebuild]]'s blue/green root is what resets it.
    KeyedStore.maintain(spark, s"$storePath/codes")
    graft.util.Blocks.freeCheckpoint(delIds)
    out
  }

  /** Live/dead split of the ids store — the DELETION-DRIFT gauge (round
    * 14, VERDICT r13 item 5): (live ids, deleted ids). One scan of the
    * ids store (one row per id ever indexed — corpus-COUNT-sized, never
    * the vectors), intended for the maintenance cadence, not the fold
    * path. */
  def idLiveness(spark: SparkSession, storePath: String): (Long, Long) =
    KeyedStore.read(spark, s"$storePath/ids").map { df =>
      val r = df.agg(
        count(when(KeyedStore.isLive(col("op_type")), 1)).as("live"),
        count(when(!KeyedStore.isLive(col("op_type")), 1)).as("dead")).head()
      (r.getLong(0), r.getLong(1))
    }.getOrElse((0L, 0L))

  /** RECLUSTER rebuild after deletion drift (round 14, VERDICT r13 item
    * 5): the exact stored centroids are always the TRUE survivor means
    * (integer/decimal-exact delete folds), but the vector→cell ASSIGNMENT
    * stays frozen at fold time — after heavy deletion a survivor can sit
    * closer to another cell's centroid than its own, and the probe stage
    * (nearest `nProbe` centroids to the query) then misses it: recall
    * decays even though every stored number is exact. Re-assignment needs
    * the VECTORS, which the index does not hold (PQ codes are lossy), so
    * the op takes the surviving corpus — the production posture: a
    * right-to-erasure pass knows its survivors, and index rebuilds read
    * the lakehouse, not the index.
    *
    * Builds a FRESH index at `newPath` (blue/green — the caller flips its
    * pointer and deletes the old root): coarse cells re-trained on the
    * survivors with [[graft.ext.Similarity.kmeansLabels]] (deterministic
    * Lloyd — seedable, oracle-expressible), codes re-encoded against the
    * SAME frozen `books` (PQ codes depend only on the books, so the
    * codebook contract survives the recluster), one fold. By the
    * [[mergeBatch]]/[[search]] parity, searching the rebuilt index equals
    * the batch IVFADC chain over the relabeled survivors — the recall
    * probe in `IvfReclusterSpec` pins that recall after heavy biased
    * deletion recovers to the fresh-trained level.
    *
    * Returns the rebuilt cell directory (label, n_vecs). O(survivors) by
    * necessity — wire behind [[idLiveness]] (e.g. rebuild when dead/total
    * crosses 0.5, the [[KeyedStore.maintain]] stance), never per fold. */
  def reclusterRebuild(survivors: DataFrame, newPath: String,
      books: DataFrame, k: Int, iters: Int = 3, m: Int = 4,
      numBuckets: Int = 4): DataFrame = {
    val relabeled = survivors.select(col("vec_id"), col("embedding"))
      .join(graft.ext.Similarity.kmeansLabels(
          survivors.select(col("vec_id"), col("embedding")), k, iters),
        "vec_id")
    mergeBatch(relabeled, newPath, books, batchId = 0L, m = m,
      numBuckets = numBuckets)
  }

  /** The self-scheduled maintenance decision (the [[KeyedStore.maintain]]
    * cadence shape): true when deletion drift crossed `maxDeadFrac` —
    * the caller then runs [[reclusterRebuild]] with the survivors it
    * owns. Kept separate from the rebuild because only the caller can
    * produce the surviving vectors. */
  def needsRecluster(spark: SparkSession, storePath: String,
      maxDeadFrac: Double = 0.5): Boolean = {
    require(maxDeadFrac > 0 && maxDeadFrac < 1,
      s"maxDeadFrac must be in (0, 1), got $maxDeadFrac")
    val (live, dead) = idLiveness(spark, storePath)
    live + dead > 0 && dead.toDouble / (live + dead) > maxDeadFrac
  }

  /** ADC top-k retrieval against the STORED index — bit-identical to
    * [[graft.ext.Similarity.ivfPqTopK]] over the concatenated indexed
    * history with the same frozen `books` (shared core + exact stored
    * sums; see object doc). The code read is BUCKET-PRUNED to the probed
    * cells: the probe stage runs first off the (labels·dim)-sized stats
    * store, its cell set (query-batch · nProbe bounded) prunes the
    * corpus-sized code store to the probed cells' buckets, and the SAME
    * probe frame feeds the scoring core — selection cannot drift. At no
    * point does a float vector of the corpus load, and at no point does
    * the full code table scan. */
  def search(spark: SparkSession, storePath: String, queries: DataFrame,
      books: DataFrame, m: Int = 4, topK: Int = 10,
      nProbe: Int = 2): DataFrame = {
    // g back to numeric — the probe tie-break must order labels as the
    // batch path does (see mergeCodes)
    val cent0 = graft.ext.Similarity.centroidsOf(
      statsLive(spark, s"$storePath/stats").filter(col("kind") === "s")
        .select(col("g").cast("long").as("label"), col("pos"),
          col("csum").as("cv")))
    // lazy on purpose: readPruned's bucket selection materializes the
    // cell set once, and the scoring plan re-derives the same pairs from
    // the same deterministic expressions — a checkpoint here would hide
    // the search plan behind an RDD scan (PlanSpec reads it)
    val probes = graft.ext.Similarity.probePairs(queries, cent0, nProbe)
    val cells = probes.select(col("c_label").as("label")).distinct()
    val codes = StoreFold.livePruned(spark, s"$storePath/codes", cells,
        "vec_id BIGINT, sub BIGINT, label BIGINT, code BIGINT", kind = None)
      // sub pivots against the literal 0..m-1 INT grid in the shared
      // core — hand it back at the batch path's exact type
      .select(col("vec_id"), col("sub").cast("int").as("sub"),
        col("label"), col("code").cast("int").as("code"))
    val labels = codes.filter(col("sub") === 0)
      .select(col("vec_id"), col("label"))
    graft.ext.Similarity.ivfPqCore(queries, cent0, labels, books,
      codes.select(col("vec_id"), col("sub"), col("code")), m, topK,
      nProbe, probesOpt = Some(probes))
  }
}
