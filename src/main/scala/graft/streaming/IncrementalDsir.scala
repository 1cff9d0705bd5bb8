package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch DSIR-style importance screening for CONTINUOUS ingest — the
  * streaming complement to `ext/Curation.dsirScreen`: a batch pipeline
  * contrasts each doc against models of corpora it can see whole, but a
  * crawler pipeline accumulates its raw-distribution model batch by batch
  * (and its target model whenever new exemplar data lands), and must screen
  * each arriving batch against the models as accumulated SO FAR, across
  * restarts.
  *
  * Both unigram models are hashed-bucket count tables (the hashed-feature
  * trick makes model width ≤ `buckets` regardless of corpus size) persisted
  * in a [[KeyedStore]] as per-batch DELTA rows keyed `(b, batch_id)`:
  *   - replay safety falls out of the store's upsert semantics — a restart
  *     that re-delivers a micro-batch rewrites the SAME delta rows, so
  *     counts can never double;
  *   - screening batch N reads the model `WHERE batch_id < N`, so a batch
  *     never influences its own verdict and a replayed batch recomputes the
  *     IDENTICAL verdict from the identical horizon (bit-stable: the
  *     arithmetic is exact integers + DECIMAL(38,0) cross-multiplication,
  *     same as the batch screen).
  * Per-batch cost: one map-side-combined aggregation of the batch's tokens
  * (≤ `buckets` output rows), one model-sized store read, one bucketed
  * upsert of the batch's delta rows, and the screen's broadcast joins — the
  * accumulated corpus NEVER rescans. The delta log grows by ≤ `buckets`
  * rows per batch; a maintenance fold (sum deltas below the replay horizon
  * into one base row, tombstoning the folded ids at a higher seq) bounds it
  * when batch counts grow large — the read path is already
  * fold-indifferent because it only ever sums `ct` per bucket.
  */
object IncrementalDsir {

  /** Screening high-water mark: smallest batch id that has NOT been screened
    * yet (max screened + 1), persisted next to the raw store's buckets.
    * `_`-prefixed so KeyedStore's layout guard ignores it. [[foldModel]]
    * refuses `below` above this mark — folding moves counts into the base
    * row (batch_id = -1, inside every horizon), so folding a batch that
    * could still be (re)screened would let it influence its own verdict
    * silently. */
  private val HwmFile = "_graft_dsir_hwm"

  private def readHwmFile(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[Long] =
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
      finally in.close()
    }

  /** The mark is the MAX over the committed file and a surviving `__new`:
    * [[advanceHwm]]'s replace protocol (write `__new` complete via
    * tmp+rename, delete old, rename into place) can crash between the
    * delete and the final rename, and reading only the main file there
    * would silently reset the mark to "nothing screened" — a restarted
    * stream would then reuse consumed batch ids and corrupt the raw model.
    * The mark is monotone, so max-of-both is always the true value. */
  private[streaming] def readHwm(spark: SparkSession, storePath: String): Option[Long] = {
    val f = KeyedStore.fs(spark, storePath)
    val root = new org.apache.hadoop.fs.Path(storePath)
    val main = readHwmFile(f, new org.apache.hadoop.fs.Path(root, HwmFile))
    val neu = readHwmFile(f, new org.apache.hadoop.fs.Path(root, HwmFile + "__new"))
    if (main.isEmpty && neu.isEmpty) None
    else Some(math.max(main.getOrElse(Long.MinValue), neu.getOrElse(Long.MinValue)))
  }

  private[streaming] def advanceHwm(spark: SparkSession, storePath: String, next: Long): Unit = {
    val cur = readHwm(spark, storePath).getOrElse(Long.MinValue)
    if (next > cur) {
      val f = KeyedStore.fs(spark, storePath)
      val root = new org.apache.hadoop.fs.Path(storePath)
      f.mkdirs(root)
      val neu = new org.apache.hadoop.fs.Path(root, HwmFile + "__new")
      val dst = new org.apache.hadoop.fs.Path(root, HwmFile)
      // Recover interrupted protocol state FIRST: a prior run may have
      // crashed between delete(dst) and rename(neu, dst), leaving `__new`
      // as the only (or newest) surviving copy of the mark. Deleting `__new`
      // below without this promotion would discard that copy, and a crash in
      // the next window could then regress the mark — the exact failure the
      // protocol exists to prevent. After promotion the store is in a clean
      // single-file state and the per-advance argument below holds.
      readHwmFile(f, neu).foreach { nv =>
        if (readHwmFile(f, dst).forall(_ < nv)) {
          f.delete(dst, false)
          if (!f.rename(neu, dst))
            throw new java.io.IOException(s"recovery rename $neu -> $dst failed")
        }
      }
      // KeyedStore.replaceMeta's crash protocol: stage the new value at
      // `__new` (itself via tmp+rename, so it only ever exists complete),
      // delete the old mark, rename `__new` into place. Starting from the
      // clean state the recovery above guarantees, any SINGLE crash window
      // leaves at least one of {mark, __new} holding a value >= the old
      // mark, readHwm takes the max, and the next advance re-runs recovery
      // before touching `__new` — so the mark never regresses.
      val tmp = new org.apache.hadoop.fs.Path(root, HwmFile + "__tmp")
      f.delete(tmp, false)
      val out = f.create(tmp, true)
      try out.write(next.toString.getBytes("UTF-8")) finally out.close()
      f.delete(neu, false)
      if (!f.rename(tmp, neu))
        throw new java.io.IOException(s"rename $tmp -> $neu failed")
      f.delete(dst, false)
      if (!f.rename(neu, dst))
        throw new java.io.IOException(s"rename $neu -> $dst failed")
    }
  }

  /** Where a restarted screening pipeline resumes: the persisted screening
    * high-water mark (max screened batch id + 1), or 0 for a fresh store.
    * Capture this ONCE at query start and screen spark's micro-batch `bid`
    * as `nextBatchId + bid` — a stable mapping, so a replayed micro-batch
    * reuses its original id (idempotent) while a clean restart resumes past
    * everything already screened. Reading it per-batch instead would hand a
    * REPLAYED batch a fresh id and double-count it. */
  def nextBatchId(spark: SparkSession, rawStorePath: String): Long =
    readHwm(spark, rawStorePath).getOrElse(0L)

  private def bucketCounts(df: DataFrame, idCol: Column, textCol: Column,
      buckets: Int): DataFrame =
    df.select(idCol.as("doc_id"), explode(graft.ext.TextStats.toks(textCol)).as("tok"))
      .select((conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
        % buckets).as("b"))
      .groupBy("b").agg(count(lit(1)).as("ct"))

  /** The accumulated (b, ct) model from live deltas with `batch_id < upTo`
    * (fold tombstones excluded); empty if the store does not exist. Folded
    * base rows carry `batch_id = -1`, inside every screening horizon. */
  def readModel(spark: SparkSession, storePath: String,
      upTo: Long = Long.MaxValue): DataFrame =
    StoreFold.live(spark, storePath, "b BIGINT, batch_id BIGINT, ct BIGINT",
        kind = None)
      .filter(col("batch_id") < upTo)
      .groupBy("b").agg(sum(col("ct")).as("ct"))

  /** Append one batch's token-count deltas to the model at `storePath`
    * (creating it on first use). `batchId` must be unique per batch and is
    * part of the row key — a replayed batch overwrites its own identical
    * deltas (idempotent), never accumulates; if the batch was already
    * FOLDED ([[foldModel]]), its retained tombstones outrank the replayed
    * put (`ver` seq), so the replay cannot re-inject folded counts. */
  def updateModel(batch: DataFrame, storePath: String, idCol: Column,
      textCol: Column, buckets: Int, batchId: Long,
      numBuckets: Int = 4): Unit = {
    val delta = bucketCounts(batch, idCol, textCol, buckets)
      .withColumn("batch_id", lit(batchId))
      .withColumn("ver", lit(0L))
      .withColumn("op_type", lit("put"))
    if (!delta.isEmpty)
      KeyedStore.merge(delta, storePath, keys = Seq("b", "batch_id"),
        seqCols = Seq("ver"), numBuckets = numBuckets,
        bucketCols = Seq("b"))
  }

  /** Maintenance fold: sum every live delta with `0 <= batch_id < below`
    * into the per-bucket BASE row (key `(b, -1)` — inside every horizon)
    * and tombstone the folded delta keys, bounding the delta log the
    * scaladoc above prices. Read results are unchanged by construction
    * (readModel only ever sums live `ct` per bucket).
    *
    * Replay safety: by default the tombstones are RETAINED, so a replayed
    * already-folded batch loses to them on the `ver` seq and cannot
    * double-count — fold at any horizon. `dropTombstones = true` also
    * compacts them away (smallest store); the caller then asserts `below`
    * is at or beneath its restart horizon (no batch below it will ever be
    * re-delivered), the same contract KeyedStore documents for tombstone
    * dropping. Folding also COARSENS history: horizons `upTo < below` can
    * no longer be answered (the base row aggregates them) — fold only at or
    * beneath the next batch id you will screen. That contract is ENFORCED
    * when the store carries a screening high-water mark ([[screenBatch]]
    * advances it): `below` above the mark throws instead of silently letting
    * a future screen read its own counts from the base row. Stores fed only
    * by [[updateModel]] (e.g. a target-exemplar model, never screened
    * batch-relative) carry no mark and fold at any horizon. */
  def foldModel(spark: SparkSession, storePath: String, below: Long,
      numBuckets: Int = 4, dropTombstones: Boolean = false,
      lastBatchCommitted: Boolean = false): Unit = {
    readHwm(spark, storePath).foreach { hwm =>
      // Strictly below the LAST screened batch, not just the mark: the mark
      // advances when a batch is SCREENED, but that batch's sink commit may
      // still be pending — Structured Streaming replays it after a crash,
      // and screenBatch(hwm-1) would then read its own folded counts from
      // the base row (batch_id = -1 sits inside the `upTo = hwm-1` horizon
      // that previously EXCLUDED the batch's delta row). Only the caller
      // knows the downstream sink committed (stream stopped cleanly /
      // checkpoint advanced past it) — `lastBatchCommitted = true` asserts
      // exactly that and re-admits below == hwm.
      val cap = if (lastBatchCommitted) hwm else hwm - 1
      require(below <= cap,
        s"foldModel(below=$below) exceeds the fold cap $cap (screening " +
          s"high-water mark $hwm) at $storePath: batches >= $hwm may still " +
          s"be screened, and batch ${hwm - 1} may be REPLAYED if its sink " +
          "commit is pending — either would read its own folded counts " +
          "from the base row. Pass lastBatchCommitted = true only if the " +
          s"sink is known to have committed batch ${hwm - 1}.")
    }
    KeyedStore.readActive(spark, storePath).foreach { live =>
      val toFold = live.filter(col("batch_id") >= 0 && col("batch_id") < below)
      if (!toFold.isEmpty) {
        val oldBase = live.filter(col("batch_id") === -1)
          .select(col("b"), col("ct").as("__bct"), col("ver").as("__bver"))
        val base = toFold.groupBy("b").agg(sum(col("ct")).as("__fct"))
          .join(oldBase, Seq("b"), "left_outer")
          .select(col("b"), lit(-1L).as("batch_id"),
            (coalesce(col("__bct"), lit(0L)) + col("__fct")).as("ct"),
            (coalesce(col("__bver"), lit(0L)) + 1).as("ver"),
            lit("put").as("op_type"))
        val tombs = toFold.select(col("b"), col("batch_id"),
          lit(0L).as("ct"), lit(1L).as("ver"), lit("delete").as("op_type"))
        KeyedStore.merge(base.unionByName(tombs), storePath,
          keys = Seq("b", "batch_id"), seqCols = Seq("ver"),
          numBuckets = numBuckets, bucketCols = Seq("b"))
        if (dropTombstones)
          KeyedStore.compact(spark, storePath, dropTombstones = true)
      }
    }
  }

  /** Screen one micro-batch against the target model and the raw model
    * accumulated over batches BEFORE this one, then fold the batch into the
    * raw model. Returns the batch with (n_toks, tgt_mass, raw_mass, keep)
    * appended — exactly [[graft.ext.Curation.dsirScreen]]'s decision over
    * the accumulated counts. Empty models degenerate gracefully: every
    * token scores the +1 smoothing mass and the totals are the `buckets`
    * normalizer alone. */
  def screenBatch(batch: DataFrame, tgtStorePath: String, rawStorePath: String,
      idCol: Column, textCol: Column, buckets: Int, batchId: Long,
      num: Int = 1, den: Int = 1): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(num >= 1 && den >= 1, s"threshold must be positive, got $num/$den")
    val spark = batch.sparkSession
    val tgtModel = readModel(spark, tgtStorePath)
    val rawModel = readModel(spark, rawStorePath, upTo = batchId)
    val totals = tgtModel.agg((coalesce(sum(col("ct")), lit(0L)) + buckets).as("__tt"))
      .crossJoin(rawModel.agg((coalesce(sum(col("ct")), lit(0L)) + buckets).as("__rt")))
    val toksB = batch
      .select(idCol.as("doc_id"), explode(graft.ext.TextStats.toks(textCol)).as("tok"))
      .select(col("doc_id"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % buckets).as("b"))
    val scored = toksB
      .join(broadcast(tgtModel.withColumnRenamed("ct", "__tc")), Seq("b"), "left_outer")
      .join(broadcast(rawModel.withColumnRenamed("ct", "__rc")), Seq("b"), "left_outer")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_toks"),
        sum(coalesce(col("__tc"), lit(0L)) + 1).as("tgt_mass"),
        sum(coalesce(col("__rc"), lit(0L)) + 1).as("raw_mass"))
      .crossJoin(broadcast(totals))
      .withColumn("keep",
        col("tgt_mass").cast("decimal(38,0)") * col("__rt") * den >=
          col("raw_mass").cast("decimal(38,0)") * col("__tt") * num)
      .select(col("doc_id").as("__sid"), col("n_toks"), col("tgt_mass"),
        col("raw_mass"), col("keep"))
    // pin the verdict BEFORE the raw model absorbs the batch (a lazy plan
    // would re-read the updated store; the horizon filter would still keep
    // the VALUES right, but pinning also makes the caller restart-safe
    // mid-consumption). Docs that produce no token rows (null/empty text)
    // get the degenerate smoothing-only verdict — zero masses, keep = true
    // (0 ≥ 0) — instead of the NULLs the left_outer join would leave, so
    // every row carries a non-null per-doc verdict as documented.
    val out = batch.join(scored, idCol === col("__sid"), "left_outer")
      .drop("__sid")
      .withColumn("n_toks", coalesce(col("n_toks"), lit(0L)))
      .withColumn("tgt_mass", coalesce(col("tgt_mass"), lit(0L)))
      .withColumn("raw_mass", coalesce(col("raw_mass"), lit(0L)))
      .withColumn("keep", coalesce(col("keep"), lit(true)))
      .localCheckpoint(true)
    updateModel(batch, rawStorePath, idCol, textCol, buckets, batchId)
    advanceHwm(spark, rawStorePath, batchId + 1)
    out
  }
}
