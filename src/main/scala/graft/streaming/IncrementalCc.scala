package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch connected components — the missing link of the continuous
  * dedup chain: [[IncrementalLsh]] surfaces near-dup PAIRS as batches
  * arrive, and keeper assignment needs the pairs' transitive closure over
  * EVERYTHING seen so far. Recomputing components over the full
  * accumulated pair log grows without bound; this operator instead
  * persists the LABEL TABLE (node → cluster keeper, O(nodes) rows) and
  * folds each batch by running components over `new pairs ∪ STAR EDGES`
  * (one node→keeper edge per member of each AFFECTED cluster — a cluster
  * no batch node touches cannot change, so its labels pass through
  * without entering the components run at all). Star edges preserve
  * every old cluster's connectivity at diameter ≤ 2, so each fold's
  * pointer-jumping depth is ~log of the NEW merge chain only — the
  * warm-start payoff — while the result is provably identical to the
  * batch operator over the concatenated pair history: min-label over the
  * merged component sees every member node through its star edge, and
  * every historical keeper IS its old cluster's minimum.
  *
  * Store access is BUCKET-PRUNED end to end (the [[IncrementalScd2]]
  * readPruned pattern), which needs both access paths the fold makes:
  *  - node → keeper (which clusters does the batch touch?) — the label
  *    store at `storePath`, bucketed by doc_id;
  *  - keeper → members (which star edges do those clusters contribute?)
  *    — a MEMBER INDEX at `storePath + "__members"`, the same rows
  *    bucketed by keeper_id, maintained with tombstones as labels move.
  * A fold therefore reads O(batch + affected-cluster buckets) files,
  * never O(all nodes) — the label store can hold a billion nodes and a
  * single-pair fold still reads a handful of buckets.
  *
  * The two stores commit separately, so a crash between the label merge
  * and the member merge could leave the index one fold behind; the
  * member store's manifest note pins the label-store GENERATION it
  * reflects, and a fold that finds them out of step rebuilds the index
  * from the label store (O(nodes), crash-recovery only) before proceeding. EVERY
  * fold that writes verifies the pin — folds that read members check it
  * on that read, folds that skip the member read (all-new nodes) audit
  * it with a zero-job note read before re-pinning — so the crash
  * window cannot be papered over by a sparse fold.
  * Housekeeping: `KeyedStore.compact(memberPath, dropTombstones = true)`
  * is safe at any time (winners are already resolved, the note and its
  * pinned generation survive) and bounds the index at O(nodes) live
  * rows on merge-heavy streams; compacting the LABEL store also works
  * but bumps its generation, which the handshake reads as out-of-step —
  * the next touching fold pays one rebuild.
  *
  * Folds are IDEMPOTENT by construction (components are a pure function
  * of the edge set, and re-adding pairs or star edges changes nothing),
  * so no replay high-water mark is needed — the [[IncrementalBloom]]
  * stance, not the counting sketches'. Only CHANGED label rows are
  * written per fold (new nodes + members of clusters that merged).
  *
  * Same output contract as `ext/Dedup.connectedComponents`:
  * (doc_id, keeper_id), keeper = the cluster's minimum doc_id ever seen. */
object IncrementalCc {

  private def memberPath(storePath: String) = storePath + "__members"

  /** Rebuild the member index as an exact mirror of the label store —
    * first use and crash recovery (label merge committed, member merge
    * lost). O(nodes) by necessity; never on the steady-state fold path. */
  private def rebuildMembers(spark: SparkSession, storePath: String,
      labelGen: Long, numBuckets: Int): Unit = {
    val mp = memberPath(storePath)
    val f = KeyedStore.fs(spark, mp)
    f.delete(new org.apache.hadoop.fs.Path(mp), true)
    val rows = KeyedStore.read(spark, storePath).map(liveLabels) match {
      case Some(s) => s.select(lit("v").as("kind"),
        col("keeper_id"), col("doc_id"), col("ver"),
        lit(null).cast("long").as("ngen"), lit("put").as("op_type"))
      case None => return
    }
    commitMembers(rows, mp, labelGen, numBuckets)
  }

  /** The member index's one merge: `rows` mirror label moves, and the
    * note pins the label-store generation `ngen` they reflect. */
  private def commitMembers(rows: DataFrame, mp: String, ngen: Long,
      numBuckets: Int): Unit =
    StoreFold.commit(rows, mp, keys = Seq("kind", "keeper_id", "doc_id"),
      numBuckets = numBuckets, note = Seq("ngen" -> ngen),
      bucketCols = Seq("keeper_id"))

  /** The affected clusters' (doc_id, keeper_id) member lists, read
    * pruned to the `keepers`' buckets of the member index. */
  private def membersOf(spark: SparkSession, mp: String,
      keepers: DataFrame): DataFrame =
    StoreFold.livePruned(spark, mp, keepers, "doc_id BIGINT, keeper_id BIGINT")
      .join(keepers, Seq("keeper_id"), "left_semi")
      .select(col("doc_id"), col("keeper_id"))

  /** The member index's pinned label-store generation: the manifest note
    * (zero Spark jobs). */
  private def memberGen(spark: SparkSession, mp: String): Option[Long] =
    KeyedStore.readFoldNote(spark, mp).map(_("ngen").toLong)

  /** Live label rows — erased nodes (op_type = delete, written by
    * [[deleteNodes]]) are hidden. */
  private def liveLabels(df: DataFrame): DataFrame =
    KeyedStore.liveView(df)

  /** Fold one batch of undirected near-dup pairs (a_id, b_id) into the
    * label store at `storePath` (created on first use) and return the
    * FULL updated label table. */
  def mergePairs(pairs: DataFrame, storePath: String,
      numBuckets: Int = 4, autoMaintain: Boolean = true): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // LAZY pin: the label-store probe collect is the one materialization
    val batch = pairs.select(col("a_id"), col("b_id")).localCheckpoint(false)
    val batchNodes = batch.select(col("a_id").as("doc_id"))
      .unionByName(batch.select(col("b_id").as("doc_id"))).distinct()
    val labelGen = KeyedStore.latestGeneration(spark, storePath)
    // AFFECTED-CLUSTER pruning: a stored cluster with no batch node among
    // its members cannot gain or lose connectivity from the new pairs
    // (every new edge ends on a batch node, and star edges are internal) —
    // so components re-run only over `batch ∪ star edges of clusters a
    // batch node touches`, and every other label passes through verbatim.
    // Read 1 (label store, pruned by the batch nodes' buckets): which
    // keepers the batch touches. The keeper set is batch-bounded, so it
    // collects — the member probe is then a driver-local frame and a
    // no-touch fold (all-new nodes, the sparse steady state) skips the
    // member read entirely.
    val affKeepers: Array[Long] = KeyedStore.readPruned(
        spark, storePath, batchNodes)
      .map(df => liveLabels(df).join(batchNodes, Seq("doc_id"), "left_semi")
        .select(col("keeper_id")).distinct()
        .collect().map(_.getLong(0)))
      .getOrElse(Array.empty)
    // Read 2 (member index, pruned by the affected keepers' buckets):
    // those clusters' full member lists. Only folds that touch stored
    // clusters pay this read — and only they check the index's
    // generation handshake (a stale index is harmless until read).
    val mp = memberPath(storePath)
    val members: Option[DataFrame] = if (affKeepers.isEmpty) None else {
      // generation handshake via the member store's note — zero jobs
      if (!memberGen(spark, mp).contains(labelGen))
        // first fold with an index, or a crash window
        rebuildMembers(spark, storePath, labelGen, numBuckets)
      Some(membersOf(spark, mp, affKeepers.toSeq.toDF("keeper_id"))
        // LAZY pin: the components run's first checkpoint materializes it
        .localCheckpoint(false))
    }
    // The fold's input is O(batch + affected members), not O(all nodes):
    // the sparse-delta regime a long-running stream lives in costs per
    // DELTA, not per corpus (ccfold probe, sparse phase).
    val edges = members match {
      case Some(m) => batch.unionByName(
        m.filter(col("doc_id") =!= col("keeper_id"))
          .select(col("doc_id").as("a_id"), col("keeper_id").as("b_id")))
      case None => batch
    }
    // the union's old-cluster side has diameter <= 2 by construction, so
    // the double-pointer-jumping depth tracks the new merges, not history
    val labels = graft.ext.Dedup.connectedComponents(edges)
      .localCheckpoint(true)
    // monotone version without a store scan: the commit generation the
    // label merge below will create
    val nextVer = labelGen + 1L
    // write only rows that are new or re-labeled — a fold that merges
    // nothing touches nothing (untouched clusters never even compare).
    // Every stored node the components run saw is an affected member
    // (a stored batch node belongs to its own — affected — cluster), so
    // the member list IS the old-label view the diff needs.
    val changed = (members match {
      case Some(m) => labels.join(
        m.select(col("doc_id"), col("keeper_id").as("__old")),
        Seq("doc_id"), "left_outer")
        .filter(col("__old").isNull || col("__old") =!= col("keeper_id"))
        .select(col("doc_id"), col("keeper_id"), col("__old"))
      case None => labels.withColumn("__old", lit(null).cast("long"))
      // LAZY pin over already-pinned inputs (labels eager, members inside
      // it): isEmpty materializes what it needs, the merges the rest —
      // all before either store GCs the read generation
    }).localCheckpoint(false)
    if (!changed.isEmpty) {
      // UNCONDITIONAL handshake before re-pinning: a fold that skipped the
      // member read (no affected keepers — the sparse all-new-nodes steady
      // state) still commits the note below with ngen = nextVer. If a
      // previous fold crashed between its label merge and its member merge,
      // trusting that skip would advance the pin over a stale index and
      // hide the gap FOREVER — a later fold touching the stale cluster
      // would then read incomplete member lists and silently split
      // components. So when the member read (and with it the generation
      // check) did not happen, audit the pin here with the member
      // index's note and rebuild on mismatch — BEFORE the label merge, so
      // the rebuild mirrors exactly the state the crashed fold left.
      // Steady-state cost: one driver metadata read per changed fold.
      if (members.isEmpty && labelGen > 0L &&
          !memberGen(spark, mp).contains(labelGen))
        rebuildMembers(spark, storePath, labelGen, numBuckets)
      KeyedStore.merge(changed.select(col("doc_id"), col("keeper_id"))
          .withColumn("ver", lit(nextVer))
          .withColumn("op_type", lit("put")), storePath,
        keys = Seq("doc_id"), seqCols = Seq("ver"), numBuckets = numBuckets,
        bucketCols = Seq("doc_id"))
      // mirror into the member index: a put under the new keeper, a
      // tombstone under the old (a moved label must leave its old
      // cluster's bucket, or a later probe would resurrect it)
      val puts = changed.select(lit("v").as("kind"), col("keeper_id"),
        col("doc_id"), lit(nextVer).as("ver"),
        lit(null).cast("long").as("ngen"), lit("put").as("op_type"))
      val dels = changed.filter(col("__old").isNotNull &&
          col("__old") =!= col("keeper_id"))
        .select(lit("v").as("kind"), col("__old").as("keeper_id"),
          col("doc_id"), lit(nextVer).as("ver"),
          lit(null).cast("long").as("ngen"), lit("delete").as("op_type"))
      commitMembers(puts.unionByName(dels), mp, nextVer, numBuckets)
      // self-scheduled maintenance: member-index tombstones (labels that
      // moved cluster) are ALWAYS safe to drop — winners are resolved and
      // the generation pin rides the note — so a merge-heavy stream
      // compacts itself when the index turns tombstone-heavy, on the
      // amortized cadence
      if (autoMaintain) KeyedStore.maintain(spark, mp)
    }
    graft.util.Blocks.freeCheckpoint(changed)
    graft.util.Blocks.freeCheckpoint(labels)
    members.foreach(graft.util.Blocks.freeCheckpoint)
    graft.util.Blocks.freeCheckpoint(batch)
    // the full updated table is a LAZY fresh store read: the pruned
    // components output `labels` only covers affected + new nodes; the
    // merge above already holds every row, so returning the lazy read
    // keeps a sparse fold's own cost delta-sized — callers that outlive
    // the store (or delete it) checkpoint at the call site.
    readLabels(spark, storePath)
  }

  /** CDC DELETE half for the components store (round 14 — the erasure
    * pass over the DEDUP CHAIN's transitive closure, completing the
    * family [[IncrementalIvf.deleteBatch]]/[[IncrementalDf.deleteBatch]]
    * opened in round 13): remove nodes from the label table and REPAIR
    * the connectivity their removal breaks.
    *
    * Erasing a node can SPLIT its cluster (connectivity may have run
    * through it) and can MOVE keepers (the erased node may have been the
    * cluster minimum) — neither is derivable from the label table alone,
    * which stores the closure, not the edges. The op therefore takes the
    * SURVIVING PAIRS: the caller re-derives them from its pair source
    * (the [[IncrementalLsh]] signature index, or the pair log) — the
    * production posture, exactly like [[IncrementalIvf.reclusterRebuild]]
    * taking the surviving vectors. A SUPERSET is fine: pairs are filtered
    * to both-endpoints-surviving members of the AFFECTED clusters, so
    * passing the full surviving pair table costs one semi-join, not a
    * recompute.
    *
    * Cost is O(deleted + affected-cluster members + their surviving
    * pairs), bucket-pruned end to end like [[mergePairs]] — clusters no
    * deleted node touches are never read. Keepers are recomputed as the
    * MIN SURVIVING member per connected component (an erased id must not
    * linger as anyone's keeper); members isolated by the deletion become
    * singletons. IDEMPOTENT set-removal: nodes already erased (or never
    * seen) are skipped silently, so replay after a crash re-runs clean —
    * the [[mergePairs]] stance, not the counting sketches'. The
    * label-store generation handshake with the member index is verified
    * on the member read exactly as folds do.
    *
    * Returns the FULL post-erasure label table (lazy store read). Label
    * stores written before round 14 lack the op_type column and fail by
    * name ([[KeyedStore.liveView]]). */
  def deleteNodes(nodes: DataFrame, survivingPairs: DataFrame,
      storePath: String, numBuckets: Int = 4,
      autoMaintain: Boolean = true): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // LAZY pin: the label-probe collect below is the one materialization
    val del = nodes.select(col("doc_id")).distinct().localCheckpoint(false)
    val labelGen = KeyedStore.latestGeneration(spark, storePath)
    // which stored clusters the erasure touches (live rows only —
    // re-deleting an erased node is a silent no-op, the idempotence)
    val affKeepers: Array[Long] = KeyedStore.readPruned(spark, storePath, del)
      .map(df => liveLabels(df).join(del, Seq("doc_id"), "left_semi")
        .select(col("keeper_id")).distinct()
        .collect().map(_.getLong(0)))
      .getOrElse(Array.empty)
    if (affKeepers.isEmpty) {
      graft.util.Blocks.freeCheckpoint(del)
      return readLabels(spark, storePath)
    }
    // affected clusters' member lists, with the generation handshake
    // (the mergePairs read-2 discipline; rebuild heals a crash window)
    val mp = memberPath(storePath)
    if (!memberGen(spark, mp).contains(labelGen))
      rebuildMembers(spark, storePath, labelGen, numBuckets)
    val members = membersOf(spark, mp, affKeepers.toSeq.toDF("keeper_id"))
      .localCheckpoint(true) // feeds dead, survivors, and both diffs
    val dead = members.join(del, Seq("doc_id"), "left_semi")
    val survivors = members.join(del, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("keeper_id").as("__old"))
      .localCheckpoint(true) // read on both sides of the repair diff
    // connectivity repair: components over the CALLER's surviving pairs,
    // restricted to surviving members of the affected clusters (the
    // superset filter); members no surviving pair reaches are singletons
    val edges = survivingPairs.select(col("a_id"), col("b_id"))
      .join(survivors.select(col("doc_id").as("a_id")), Seq("a_id"), "left_semi")
      .join(survivors.select(col("doc_id").as("b_id")), Seq("b_id"), "left_semi")
    val cc = graft.ext.Dedup.connectedComponents(edges)
    // every survivor keeps a label: its component's keeper when some
    // surviving pair reaches it, itself otherwise (a singleton) — one
    // outer join, no union (a cc-lineage union trips Spark's union
    // constraint rewrite on shared attribute ids)
    val repaired = survivors.select(col("doc_id"))
      .join(cc.select(col("doc_id"), col("keeper_id").as("__cck")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("__cck"), col("doc_id")).as("keeper_id"))
      .localCheckpoint(true)
    val nextVer = labelGen + 1L
    // label store: tombstone the dead; re-label survivors whose keeper
    // moved (split, or the erased node WAS the minimum)
    val moved = repaired
      .join(survivors, Seq("doc_id"))
      .filter(col("__old") =!= col("keeper_id"))
      .localCheckpoint(true) // feeds the label merge AND the member diff
    KeyedStore.merge(
      moved.select(col("doc_id"), col("keeper_id"))
        .withColumn("op_type", lit("put"))
        .unionByName(dead.select(col("doc_id"), col("keeper_id"))
          .withColumn("op_type", lit("delete")))
        .withColumn("ver", lit(nextVer)),
      storePath, keys = Seq("doc_id"), seqCols = Seq("ver"),
      numBuckets = numBuckets, bucketCols = Seq("doc_id"))
    // member-index mirror: dead rows leave their keeper's bucket; moved
    // rows put under the new keeper and tombstone under the old
    def mrow(d: DataFrame, keeper: Column, op: String) =
      d.select(lit("v").as("kind"), keeper.as("keeper_id"), col("doc_id"),
        lit(nextVer).as("ver"), lit(null).cast("long").as("ngen"),
        lit(op).as("op_type"))
    commitMembers(
      mrow(moved, col("keeper_id"), "put")
        .unionByName(mrow(moved, col("__old"), "delete"))
        .unionByName(mrow(dead, col("keeper_id"), "delete")),
      mp, nextVer, numBuckets)
    if (autoMaintain) KeyedStore.maintain(spark, mp)
    graft.util.Blocks.freeCheckpoint(moved)
    graft.util.Blocks.freeCheckpoint(repaired)
    graft.util.Blocks.freeCheckpoint(survivors)
    graft.util.Blocks.freeCheckpoint(members)
    graft.util.Blocks.freeCheckpoint(del)
    readLabels(spark, storePath)
  }

  /** The stored label table without folding (empty frame if never run);
    * erased nodes are hidden. */
  def readLabels(spark: SparkSession, storePath: String): DataFrame =
    KeyedStore.read(spark, storePath)
      .map(df => liveLabels(df).select(col("doc_id"), col("keeper_id")))
      .getOrElse(StoreFold.empty(spark, "doc_id BIGINT, keeper_id BIGINT"))
}
