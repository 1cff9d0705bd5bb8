package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch histogram quantiles — the fourth member of the persistent-
  * sketch family ([[IncrementalTopK]] Misra-Gries, [[IncrementalKmv]],
  * the DSIR bucket models): per-(group, bin) counts over a CALLER-FIXED
  * frame accumulate in a [[KeyedStore]], and because a fixed-frame
  * histogram is mergeable by construction (bin-wise ADD — the property
  * `ext/Profile.histQuantiles` documents), the fold is LOSSLESS: after any
  * number of folds the store is bit-identical to
  * [[graft.ext.Profile.histQuantilesFramed]] over the concatenated
  * history, at O(groups·bins) state regardless of history length.
  *
  * The frame (lo, hi, bins) is part of the store's identity — it is
  * pinned in the manifest note on first fold and every later fold must pass the
  * SAME frame (re-framing would need the raw history the sketch exists to
  * discard; a mismatch fails fast instead of silently mixing bin spaces).
  * Values outside [lo, hi] clamp into the edge bins, the
  * [[graft.ext.Profile.histQuantilesFramed]] contract.
  *
  * Replay safety is the family contract: `batchId` is the `ver` seq, the
  * manifest note records the high-water mark on every fold (a fold whose
  * batch touches no bins still commits it), and a replayed fold returns the
  * current estimates without touching the store.
  *
  * Per-fold cost: one map-side-combined (g, bin) count over the BATCH, a
  * store read, and a bucketed upsert of ONLY the bins the batch touched. */
object IncrementalHist {

  private def binCounts(spark: SparkSession, storePath: String): DataFrame =
    StoreFold.live(spark, storePath, "g STRING, bin BIGINT, ct BIGINT")

  /** The store's pinned frame (lo, hi, bins) from the manifest note —
    * zero Spark jobs; None on fresh roots. */
  private def storedFrame(spark: SparkSession,
      storePath: String): Option[(Long, Long, Int)] =
    KeyedStore.readFoldNote(spark, storePath).map { m =>
      (m("lo").toLong, m("hi").toLong, m("bins").toInt)
    }

  private def estimateOf(cur: DataFrame, lo: Long, hi: Long, bins: Int,
      qs: Seq[(Int, Int)]): DataFrame = {
    val w = (hi - lo) / bins + 1
    graft.ext.Profile.histEstimates(
      cur.select(col("g"), col("bin").as("__bin"), col("ct").as("__ct")),
      Seq("g"), lo, w, qs)
  }

  /** Fold one micro-batch into the sketch at `storePath` (created on first
    * use, frame pinned then) and return the updated per-group estimates
    * (g, n, est_{num}_{den}...). */
  def mergeBatch(batch: DataFrame, storePath: String, groupCol: Column,
      valueCol: Column, lo: Long, hi: Long, bins: Int, batchId: Long,
      qs: Seq[(Int, Int)] = Seq((1, 2), (9, 10), (99, 100)),
      numBuckets: Int = 4): DataFrame = {
    require(hi >= lo, s"frame must satisfy hi >= lo, got [$lo, $hi]")
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val spark = batch.sparkSession
    // zero-job identity + HWM (the manifest note) and a LAZY store read —
    // the FoldJobsSpec driver-action budget
    val frame = Seq("lo" -> lo, "hi" -> hi, "bins" -> bins)
    val note = StoreFold.pin(spark, storePath, "framed histogram", frame: _*)
    val cur = binCounts(spark, storePath).localCheckpoint(false)
    if (StoreFold.replayed(note, batchId)) {
      // replay: current state IS the post-batch state
      val out = estimateOf(cur, lo, hi, bins, qs).localCheckpoint(true)
      graft.util.Blocks.freeCheckpoint(cur)
      return out
    }
    val w = (hi - lo) / bins + 1
    val batchCts = batch
      .select(groupCol.cast("string").as("g"), valueCol.cast("long").as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("bin",
        expr(s"least(greatest((__v - $lo) div $w, 0L), ${bins - 1}L)"))
      .groupBy("g", "bin").agg(count(lit(1)).as("bct"))
    // bin-wise ADD, writing only the touched (g, bin) rows
    val changed = batchCts
      .join(cur, Seq("g", "bin"), "left_outer")
      .select(lit("v").as("kind"), col("g"), col("bin"),
        (coalesce(col("ct"), lit(0L)) + col("bct")).as("ct"),
        lit(lo).as("lo"), lit(hi).as("hi"), lit(bins.toLong).as("bins"),
        lit(batchId).as("ver"), lit("put").as("op_type"))
      // LAZY pin: the merge's own stage write is the one materialization
      // (it runs before the merge GCs the read generation)
      .localCheckpoint(false)
    StoreFold.commit(changed, storePath, keys = Seq("kind", "g", "bin"),
      numBuckets = numBuckets, note = frame :+ ("ver" -> batchId))
    val merged = cur
      .join(changed.select(col("g"), col("bin")), Seq("g", "bin"),
        "left_anti")
      .unionByName(changed.select(col("g"), col("bin"), col("ct")))
    val out = estimateOf(merged, lo, hi, bins, qs).localCheckpoint(true)
    graft.util.Blocks.freeCheckpoint(cur)
    graft.util.Blocks.freeCheckpoint(changed)
    out
  }

  /** Per-group TOTAL-VARIATION drift between a batch and the STORED
    * histogram — the distribution-shift gate of the sketch family (the
    * [[IncrementalCentroid.drift]] counterpart for scalar columns): the
    * batch is binned with the store's own pinned frame, and
    *
    *   TV(batch, store) = Σ_bins |o_b·n_s − s_b·n_b| / (2·n_b·n_s)
    *
    * is emitted as the EXACT integer pair (tv_num, tv_den) — χ² needs a
    * per-bin division and PSI needs `ln`, both engine-unportable in the
    * last ulp; the TV distance over a common denominator is a plain
    * integer cross-multiplication, so the gate itself hash-oracles
    * (`q_hist_drift`). TV ∈ [0, 1]: 0 = identical binned distributions,
    * 1 = disjoint bin support; gate on e.g. tv_num·5 > tv_den (TV > 0.2).
    * Groups absent from either side are omitted (their denominator is 0 —
    * the centroid-drift contract). Per-bin products are DECIMAL(38,0):
    * ct·n reaches 10¹⁸ per term and the bin sum would wrap a Long.
    * @return (g, n_batch, n_store, tv_num, tv_den) */
  def tvDrift(spark: SparkSession, storePath: String, batch: DataFrame,
      groupCol: Column, valueCol: Column): DataFrame = {
    val meta = storedFrame(spark, storePath)
    require(meta.nonEmpty, s"no frame pinned at $storePath — fold a batch first")
    val (lo, hi, nBins) = meta.get
    val w = (hi - lo) / nBins + 1
    // null groups are dropped on BOTH sides: the bin join's equi keys
    // cannot match null = null, so a null cohort would silently compare
    // its batch bins against nothing (and a drift gate needs a named
    // cohort anyway — route unknowns to a sentinel upstream)
    val stored = binCounts(spark, storePath).filter(col("g").isNotNull)
      .select(col("g"), col("bin"), col("ct").as("__s"))
    val batchCts = batch
      .select(groupCol.cast("string").as("g"), valueCol.cast("long").as("__v"))
      .filter(col("__v").isNotNull && col("g").isNotNull)
      .withColumn("bin",
        expr(s"least(greatest((__v - $lo) div $w, 0L), ${nBins - 1}L)"))
      .groupBy("g", "bin").agg(count(lit(1)).as("__o"))
    val pv = batchCts.join(stored, Seq("g", "bin"), "full_outer")
      .select(col("g"), coalesce(col("__o"), lit(0L)).as("o"),
        coalesce(col("__s"), lit(0L)).as("s"))
    val ns = pv.groupBy("g")
      .agg(sum(col("o")).as("n_b"), sum(col("s")).as("n_s"))
      .filter(col("n_b") > 0 && col("n_s") > 0)
    pv.join(ns, "g")
      .groupBy("g")
      .agg(max(col("n_b")).as("n_batch"), max(col("n_s")).as("n_store"),
        sum(abs(col("o").cast("decimal(38,0)") * col("n_s")
          - col("s").cast("decimal(38,0)") * col("n_b")))
          .cast("decimal(38,0)").as("tv_num"))
      .select(col("g"), col("n_batch"), col("n_store"), col("tv_num"),
        (lit(2).cast("decimal(38,0)") * col("n_batch") * col("n_store"))
          .cast("decimal(38,0)").as("tv_den"))
  }

  /** The current per-group estimates at `storePath` without folding; the
    * frame is read from the store's manifest note. Empty frame (no folds yet)
    * returns an empty two-column-compatible frame via the caller's qs. */
  def readEstimate(spark: SparkSession, storePath: String,
      qs: Seq[(Int, Int)] = Seq((1, 2), (9, 10), (99, 100))): DataFrame = {
    val (lo, hi, nBins) = storedFrame(spark, storePath).getOrElse((0L, 0L, 1))
    estimateOf(binCounts(spark, storePath), lo, hi, nBins, qs)
  }
}
