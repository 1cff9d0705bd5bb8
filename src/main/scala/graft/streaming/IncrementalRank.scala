package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch PageRank for a GROWING graph — a webscale curation pipeline
  * re-ranks as the crawl grows, but rank does not fold like a sketch: the
  * fixed point over the new graph genuinely differs everywhere. What CAN
  * carry over is the iteration count: the damped update is a contraction,
  * so warm-starting from the previous graph's fixed point after a small
  * edge delta converges in a small number of iterations (SCALING.md
  * records the measured saving) while a cold start pays the full depth
  * every time. This operator persists exactly the two things that enable
  * that: the accumulated edge table and the last converged rank vector,
  * both in [[KeyedStore]]s under one root.
  *
  * (unit, dampNum, dampDen) are the store's identity — the family
  * convention ([[IncrementalBloom]]'s (m, k), [[IncrementalHist]]'s
  * frame): the stored vector's VALUES are in `1/unit` fixed-point units,
  * so warm-starting it under a different unit feeds the iteration ranks
  * at the wrong scale (at worst past the overflow guard, which only
  * checks the caller's unit). Pinned in the manifest note on first use; a
  * mismatch fails fast.
  *
  * Deltas take BOTH shapes of the CDC world: `edgeDelta` adds edges and
  * `edgeDeletes` tombstones them (the reference dims' op = 'd' half) —
  * degrees re-derive from the surviving live edge set each update, a
  * departed node's rank row is tombstoned (the batch operator over the
  * surviving edges never lists it), and a deleted edge can be re-added
  * (versions come from the store's commit generation, so the re-add put
  * supersedes the tombstone). Folding the same delta twice is harmless:
  * edge rows merge by (src, dst) key, and the rank re-converges from its
  * own fixed point in one checking iteration.
  *
  * Per-update cost: one edge merge touching the delta's buckets, one full
  * edge-table read (the iteration reads it anyway), and the warm-started
  * [[graft.ops.Graph.pageRankIntConverge]] run — each iteration the
  * canonical Pregel join+agg, node-sized state, per-iteration checkpoints
  * freed. */
object IncrementalRank {

  private def edgePath(root: String) = s"$root/edges"
  private def rankPath(root: String) = s"$root/ranks"

  /** Merge `edgeDelta` (src, dst) into the stored graph, tombstone
    * `edgeDeletes`, re-rank the surviving live edges from the stored
    * vector (warm start; uniform on first use), persist the new vector,
    * and return it with the iteration count the convergence run actually
    * needed. A (src, dst) pair in both frames nets to PRESENT (the add
    * wins — merge order below), matching a CDC upsert-after-delete. */
  def updateAndRank(edgeDelta: DataFrame, storeRoot: String, tol: Long,
      maxIters: Int, unit: Long = 1000000000L, dampNum: Long = 85,
      dampDen: Long = 100, numBuckets: Int = 4,
      edgeDeletes: Option[DataFrame] = None): (DataFrame, Int) = {
    val spark = edgeDelta.sparkSession
    def canon(df: DataFrame) = df.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    // generation-derived versions (metadata, never a row scan): the
    // tombstone beats every older put, a later re-add beats the tombstone
    val delEdges = edgeDeletes.map(canon).filter(!_.isEmpty)
    delEdges.foreach { d =>
      val ver = KeyedStore.latestGeneration(spark, edgePath(storeRoot)) + 1L
      KeyedStore.merge(
        d.withColumn("ver", lit(ver)).withColumn("op_type", lit("delete")),
        edgePath(storeRoot), keys = Seq("src", "dst"), seqCols = Seq("ver"),
        numBuckets = numBuckets, bucketCols = Seq("src"))
    }
    val delta = canon(edgeDelta)
    if (!delta.isEmpty) {
      val ver = KeyedStore.latestGeneration(spark, edgePath(storeRoot)) + 1L
      KeyedStore.merge(
        delta.withColumn("ver", lit(ver)).withColumn("op_type", lit("put")),
        edgePath(storeRoot), keys = Seq("src", "dst"), seqCols = Seq("ver"),
        numBuckets = numBuckets, bucketCols = Seq("src"))
    }
    val edges = StoreFold.live(spark, edgePath(storeRoot),
      "src BIGINT, dst BIGINT", kind = None)
    // (unit, damp, ver) ride the manifest note — zero Spark jobs
    val identity = Seq("unit" -> unit, "dn" -> dampNum, "dd" -> dampDen)
    val note = StoreFold.pin(spark, rankPath(storeRoot), "rank vector",
      identity: _*)
    // LAZY pin: the converge run's first iteration is the one
    // materialization (None on a fresh root: a uniform cold start)
    val start = note.map(_ => readRanks(spark, storeRoot).localCheckpoint(false))
    // the store's seq must be a TOTAL order over re-written keys (same
    // node, new rank): the note pins the last version (every update
    // commits it), so the next version never needs a store-wide max scan
    val nextVer = note.map(_("ver").toLong + 1L).getOrElse(0L)
    // ranks is already backed by the converge run's own final checkpoint
    // and shares nothing with the rank store, so it is returned as-is —
    // a second checkpoint here would copy a node-sized block set per
    // update and orphan the original
    val (ranks, iters) = graft.ops.Graph.pageRankIntConverge(
      edges, start, tol, maxIters, unit, dampNum, dampDen)
    // node-sized upsert: every live node gets its fresh value; a node
    // whose last edge was deleted gets a TOMBSTONE (the batch operator
    // over the surviving edge set never lists it)
    val rows = ranks.select(lit("v").as("kind"), col("node"), col("rank_fp"),
      lit(unit).as("unit"), lit(dampNum).as("dn"), lit(dampDen).as("dd"),
      lit(nextVer).as("ver"), lit("put").as("op_type"))
    val departed = start.map(_.join(ranks.select(col("node")),
        Seq("node"), "left_anti")
      .select(lit("v").as("kind"), col("node"), lit(0L).as("rank_fp"),
        lit(unit).as("unit"), lit(dampNum).as("dn"), lit(dampDen).as("dd"),
        lit(nextVer).as("ver"), lit("delete").as("op_type")))
    val upsert = departed.map(rows.unionByName(_)).getOrElse(rows)
    if (!ranks.isEmpty || departed.exists(!_.isEmpty))
      StoreFold.commit(upsert, rankPath(storeRoot), keys = Seq("kind", "node"),
        numBuckets = numBuckets, note = identity :+ ("ver" -> nextVer),
        bucketCols = Seq("kind", "node"))
    start.foreach(graft.util.Blocks.freeCheckpoint)
    (ranks, iters)
  }

  /** The stored rank vector without updating (empty frame if never run). */
  def readRanks(spark: SparkSession, storeRoot: String): DataFrame =
    StoreFold.live(spark, rankPath(storeRoot), "node BIGINT, rank_fp BIGINT")
}
