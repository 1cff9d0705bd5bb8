package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Stateful

/** Cross-batch SCD Type-2 history — the persistent-fold form of
  * [[graft.ops.Stateful.scd2History]], the shape a production dimension
  * layer actually runs (the reference's dim apps maintain point state in
  * HBase, `DimHBaseSinkFunction.invoke:39-75`; a warehouse keeps the full
  * version history): CDC micro-batches fold into a versioned-interval
  * store, and after any number of folds the history equals the batch
  * operator over the concatenated changelog.
  *
  * The seam argument: version boundaries only ever compare a row against
  * the key's immediately-previous changelog row, and every previous row
  * carries either the OPEN version's attributes (boundary rows open it,
  * absorbed rows repeat it) or a delete (then no version is open). So the
  * only cross-batch state a fold needs is each key's open version — it is
  * re-injected as a synthetic SEED row ordered before the batch (typ
  * `__seed`, ts = its `effective_from`), the batch operator runs over
  * `seed ∪ batch` for the touched keys only, local version numbers shift
  * by the key's stored max, and the store receives ONLY closed-seed
  * updates and new versions (an all-absorbed fold writes no rows, only
  * the high-water mark in the manifest note). Closed versions are
  * immutable, and the fold's store read is BUCKET-PRUNED to the batch's
  * touched keys (one [[KeyedStore.readPruned]] covers the touched version
  * lists; only those rows are pinned) — a fold costs O(batch + touched
  * versions), never O(history).
  *
  * Contract (standard CDC offset order): a key's rows in batch N all
  * order after its rows in every batch < N, and `ordCols` totally order
  * rows within a key; null key components are the caller's to route.
  * Replay safety is the counting-sketch stance: `batchId` must increase,
  * the manifest note records the high-water mark every fold, and a
  * replayed fold returns the current history without touching the store. */
object IncrementalScd2 {

  /** Unit separator for the composite key (empty would collide "ab"+"c"
    * with "a"+"bc"). */
  private val Sep = "\u001f"

  /** The stored row schema (DDL): the batch's key and attribute columns,
    * the version interval, and `extra`. */
  private def historyDdl(batch: DataFrame, keys: Seq[String],
      attrNames: Seq[String], extra: String = ""): String =
    ((keys ++ attrNames).map(n => s"`$n` ${batch.schema(n).dataType.sql}") ++
      Seq("effective_from BIGINT, effective_to BIGINT, is_current BOOLEAN, " +
        "ver BIGINT" + extra)).mkString(", ")

  /** The stored history without folding (empty, schema-compatible frame if
    * never run). Feed directly to [[graft.ops.Stateful.scd2Lookup]]. */
  def readHistory(spark: SparkSession, storePath: String, batch: DataFrame,
      keys: Seq[String], attrNames: Seq[String]): DataFrame =
    StoreFold.live(spark, storePath, historyDdl(batch, keys, attrNames))

  /** Fold one CDC micro-batch into the history at `storePath` (created on
    * first use) and return the FULL updated history (a lazy store read —
    * the [[IncrementalCc]] idiom; callers that outlive the store
    * checkpoint at the call site).
    *
    * `batch` must carry `keys ++ ordCols ++ attrNames`, a string `typ`
    * column, and a long `ts` column (interval timestamps). */
  def mergeBatch(batch: DataFrame, storePath: String, keys: Seq[String],
      ordCols: Seq[String], attrNames: Seq[String], batchId: Long,
      deleteType: String = "delete", numBuckets: Int = 4): DataFrame = {
    val spark = batch.sparkSession
    // replay HWM rides the manifest note (zero Spark jobs)
    if (StoreFold.replayed(KeyedStore.readFoldNote(spark, storePath),
        batchId, key = "bver"))
      // replay: current state IS the post-batch state
      return readHistory(spark, storePath, batch, keys, attrNames)
    val kExpr = concat_ws(Sep, keys.map(k => col(k).cast("string")): _*)
    val batchKeys = batch.select(kExpr.as("__k")).distinct()
      // LAZY pin: the pruned read's bucket-probe collect materializes it
      .localCheckpoint(false)
    // ONE bucket-pruned read covers everything the fold needs from the
    // store: the TOUCHED keys' full version lists, pinned ONCE (seeds and
    // the version offsets both fold over it) — O(batch-touched buckets)
    // file reads + O(touched versions) pinned, never O(history).
    val storedV = StoreFold.livePruned(spark, storePath, batchKeys,
        historyDdl(batch, keys, attrNames, extra = ", __k STRING"))
      .join(batchKeys, Seq("__k"), "left_semi")
      // LAZY pin: one materialization inside the merge's stage write,
      // still before the merge GCs the read generation
      .localCheckpoint(false)
    // working-frame columns keep their batch names (ordCols may overlap
    // keys/attrs/ts/typ); "ts"/"typ" are reserved by the contract
    val payload = (keys ++ attrNames ++ ordCols).distinct
      .filterNot(Set("ts", "typ").contains)
    val batchProj = batch.withColumn("__k", kExpr)
      .select(Seq(col("__k"), lit(1).as("__seed"), col("typ"),
        col("ts").cast("long").as("ts")) ++ payload.map(col): _*)
    // seeds: each TOUCHED key's open version, ordered before the batch
    // (storedV is already pruned to batch-touched keys)
    val seeds = storedV
      .filter(col("is_current"))
      .select(Seq(col("__k"), lit(0).as("__seed"), lit("__seed").as("typ"),
        col("effective_from").as("ts")) ++
        payload.map(n =>
          if (keys.contains(n) || attrNames.contains(n)) col(n)
          else lit(null).cast(batch.schema(n).dataType).as(n)): _*)
    val all = seeds.unionByName(batchProj)
    val local = Stateful.scd2History(all, Seq(col("__k")),
      col("__seed") +: ordCols.map(col), col("ts"),
      (keys ++ attrNames).map(col), keys ++ attrNames,
      col("typ"), deleteType)
    // per-key version offset: the seed keeps its stored number (it IS the
    // key's max — later versions would have closed it), fresh keys and
    // post-delete keys continue from their stored max
    val offsets = storedV
      .groupBy("__k").agg(max(col("ver")).as("__maxv"),
        max(when(col("is_current"), lit(1)).otherwise(lit(0))).as("__has_open"))
    val shifted = local.join(offsets, Seq("__k"), "left_outer")
      .withColumn("__off", coalesce(col("__maxv"), lit(0L)) -
        coalesce(col("__has_open"), lit(0)).cast("long"))
    val changed = shifted
      // an untouched-open seed (still current at local ver 1) is already
      // in the store verbatim — everything else is closed-seed or new.
      // __has_open is NULL (not 0) for keys absent from the store — a bare
      // === would null the predicate and silently drop fresh keys' rows
      .filter(!(coalesce(col("__has_open"), lit(0)) === 1 &&
        col("ver") === 1 && col("is_current")))
      .select(Seq(lit("v").as("kind"), col("__k")) ++
        (keys ++ attrNames).map(col) ++ Seq(
        col("effective_from"), col("effective_to"), col("is_current"),
        (col("ver").cast("long") + col("__off")).as("ver"),
        lit(batchId).as("bver"), lit("put").as("op_type")): _*)
      // LAZY pin: the merge's own stage write is the one materialization
      .localCheckpoint(false)
    StoreFold.commit(changed, storePath, keys = Seq("kind", "__k", "ver"),
      numBuckets = numBuckets, note = Seq("bver" -> batchId),
      seqCols = Seq("bver"), bucketCols = Seq("__k"))
    graft.util.Blocks.freeCheckpoint(changed)
    graft.util.Blocks.freeCheckpoint(storedV)
    graft.util.Blocks.freeCheckpoint(batchKeys)
    readHistory(spark, storePath, batch, keys, attrNames)
  }
}
