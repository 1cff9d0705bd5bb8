package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import java.util.concurrent.atomic.AtomicLong

/** Executor-cached lookup against a dim TOO LARGE TO BROADCAST — the Spark
  * analog of the reference's Redis-cached HBase dim reads (`DimUtil.java`
  * jedis cache + `HBaseUtil.getRow`, reserved by `pom.xml:211,217` for the
  * DWS sku path): when the dim fits in a broadcast, use
  * [[graft.ops.Joins.broadcastDim]]; when it doesn't, this class keeps the
  * dim in a bucketed [[KeyedStore]] and serves each batch by
  *
  *  1. **bucket pruning** — hash the batch's keys to the store's bucket ids
  *     (a ≤ numBuckets metadata collect, never data-sized) and scan ONLY
  *     those bucket directories;
  *  2. **executor-local caching** — each pruned bucket scan is pinned via
  *     `persist(MEMORY_AND_DISK)`, so its blocks live in the EXECUTORS'
  *     block managers and later batches hitting the same bucket read
  *     process-local memory, not storage (the Spark-native seat of the
  *     reference's per-taskmanager Redis/LRU cache);
  *  3. **generation invalidation** — every lookup resolves the store's
  *     current committed generation; a [[KeyedStore.merge]] between batches
  *     bumps it, and a stale cached bucket is unpersisted and re-read on
  *     next touch (the reference invalidates its Redis entries on dim
  *     change the same way — per write, not per TTL);
  *  4. **LRU capping** — at most `maxCachedBuckets` buckets stay pinned;
  *     the least-recently-touched is unpersisted when the cap overflows, so
  *     a 10^9-row dim never accumulates unboundedly in cluster memory.
  *
  * The join itself is hinted `SHUFFLE_MERGE`: the planner must never flip a
  * "big dim" fixture to a broadcast at test scale — the whole point of the
  * operator is the no-broadcast plan shape (`PlanSpec` pins it).
  *
  * Driver-side bookkeeping (this registry) is metadata-sized: bucket id →
  * (generation, pinned frame). The data itself is distributed. Thread-safe
  * via a plain monitor — lookups from concurrent micro-batches serialize on
  * the registry, not on the scans.
  */
class DimCache(path: String, dimKeys: Seq[String],
    maxCachedBuckets: Int = 64,
    opCol: String = "op_type", deleteOp: String = "delete") {
  require(maxCachedBuckets >= 1, s"maxCachedBuckets must be >= 1, got $maxCachedBuckets")

  /** accessOrder=true: iteration order is least-recently-used first. */
  private val cached = new java.util.LinkedHashMap[Int, (Long, DataFrame)](16, 0.75f, true)

  /** Dim schema for stores whose meta carries none: every bucket file of a
    * store carries the same schema (merge canonicalizes types before the
    * write), so per-bucket `spark.read.parquet` inference would pay one
    * footer-reading Spark job PER BUCKET PER GENERATION — measured ~40 ms
    * each, the bulk of a cold lookup's driver overhead. Inferred ONCE from
    * the first bucket touched; later reads pass it explicitly. Stores with a
    * persisted `StoreMeta.schemaDdl` never infer. */
  @volatile private var inferredSchema: StructType = _

  // observability for specs and ops: how often the cache actually worked
  val hits = new AtomicLong
  val misses = new AtomicLong
  val refreshes = new AtomicLong

  /** Join `facts` against the stored dim on `factKeys` (zipped positionally
    * with the store's key columns). Only buckets the batch's keys hash to
    * are read; reads come from executor memory when cached.
    *
    * @param factKeys join keys on the fact side, one per store key column
    * @param joinType inner (reference lookup join) or left_outer */
  def lookupJoin(facts: DataFrame, factKeys: Seq[Column],
      joinType: String = "inner"): DataFrame = synchronized {
    require(factKeys.size == dimKeys.size,
      s"factKeys arity ${factKeys.size} != store keys ${dimKeys.size}")
    val spark = facts.sparkSession
    val f = KeyedStore.fs(spark, path)
    val root = new Path(path)
    val meta = KeyedStore.readMeta(f, root).getOrElse(
      throw new IllegalStateException(s"$path is not an initialized KeyedStore"))
    val n = meta.n
    // an EMPTY committed manifest (tombstone-only compact) is as unusable as
    // no commit: with zero bucket files there is no dim schema to shape even
    // the empty/left-null join result — fail with the real reason instead of
    // a NoSuchElementException downstream
    val (gen, manifest) = KeyedStore.readCommit(f, root).filter(_._2.nonEmpty).getOrElse(
      throw new IllegalStateException(
        s"$path has no committed state (never merged, or compacted to empty " +
          "with dropTombstones) — an empty dim has no readable schema"))
    // Batch's touched buckets: the fact keys hashed EXACTLY as the store
    // hashes its dim keys — through the PERSISTED derivation: the store's
    // bucket columns (possibly a subset of the keys) mapped positionally to
    // their fact-side columns, each cast to the persisted type. A raw
    // hash(factKeys) here would silently read the wrong buckets whenever the
    // store has bucketCols ⊂ keys or the fact column's type drifted from the
    // dim's (hash() is type-sensitive) — missing matches with no error.
    // Bounded by n — metadata, not data.
    val bucketExprs = meta.cols.zip(meta.types).map { case (c, t) =>
      val di = dimKeys.indexOf(c)
      require(di >= 0, s"store bucket column $c is not one of dimKeys $dimKeys")
      factKeys(di).cast(t)
    }
    val needed = facts
      .select(KeyedStore.bucketOfExprs(bucketExprs, n).as("__b")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
      .filter(manifest.contains) // a bucket with no dim state joins empty
    val persisted = meta.schemaDdl.map(StructType.fromDDL)
    val dims = needed.map(b => bucketFrame(spark, root, manifest, gen, b, persisted))
    if (dims.isEmpty) {
      // no overlap: inner join yields nothing; left join keeps facts with
      // nulls — express both through an empty dim of the right schema
      val empty = KeyedStore.read(spark, path).get.filter(lit(false))
      return joined(facts, factKeys, empty, joinType)
    }
    joined(facts, factKeys, dims.reduce(_ unionByName _), joinType)
  }

  private def joined(facts: DataFrame, factKeys: Seq[Column],
      dim: DataFrame, joinType: String): DataFrame = {
    val live = dim.filter(KeyedStore.isLive(col(opCol), deleteOp)).drop(opCol)
    val cond = factKeys.zip(dimKeys).map { case (fk, dk) => fk === live(dk) }
      .reduce(_ && _)
    facts.join(live.hint("SHUFFLE_MERGE"), cond, joinType)
  }

  /** Serve one bucket: cached frame if its generation is current, else
    * (re-)pin the bucket's scan. LRU-evict beyond the cap. */
  private def bucketFrame(spark: SparkSession, root: Path,
      manifest: Map[Int, String], gen: Long, b: Int,
      persisted: Option[StructType]): DataFrame = {
    Option(cached.get(b)) match {
      case Some((cachedGen, df)) if cachedGen == gen =>
        hits.incrementAndGet(); df
      case stale =>
        if (stale.isDefined) { refreshes.incrementAndGet(); stale.get._2.unpersist() }
        else misses.incrementAndGet()
        val dir = new Path(root, manifest(b)).toString
        val schema = persisted.getOrElse {
          if (inferredSchema == null) inferredSchema = spark.read.parquet(dir).schema
          inferredSchema
        }
        val df = spark.read.schema(schema).parquet(dir)
          .persist(StorageLevel.MEMORY_AND_DISK)
        cached.put(b, (gen, df))
        evictOverCap()
        df
    }
  }

  private def evictOverCap(): Unit =
    while (cached.size() > maxCachedBuckets) {
      val eldest = cached.entrySet().iterator().next()
      eldest.getValue._2.unpersist()
      cached.remove(eldest.getKey)
    }

  /** Unpin everything (end of stream / store retirement). */
  def invalidateAll(): Unit = synchronized {
    cached.values().forEach { case (_, df) => df.unpersist() }
    cached.clear()
  }
}
