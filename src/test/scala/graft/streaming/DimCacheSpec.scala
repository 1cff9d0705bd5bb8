package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** DimCache — executor-cached big-dim lookup: hit/miss accounting, bucket
  * pruning, generation invalidation after a store merge, LRU capping, and
  * the no-broadcast plan shape. */
class DimCacheSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val p = s"/tmp/graft_dimcache_spec_$tag"
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    p
  }

  private def dimBatch(rows: Seq[(Long, String)], v: Long) =
    rows.toDF("k", "name")
      .withColumn("op_type", lit("put")).withColumn("__v", lit(v))

  test("lookup equals a plain join; second batch hits the cache") {
    val root = freshRoot("basic")
    KeyedStore.merge(dimBatch((1L to 200L).map(i => (i, s"n$i")), 1L),
      root, keys = Seq("k"), seqCols = Seq("__v"), numBuckets = 8)
    val cache = new DimCache(root, Seq("k"))
    val facts = (1L to 300L).map(i => (i, i % 200 + 1)).toDF("fact_id", "fk")

    val got = cache.lookupJoin(facts, Seq(col("fk")))
      .select(col("fact_id"), col("fk"), col("name"))
    val want = facts.join(dimBatch((1L to 200L).map(i => (i, s"n$i")), 1L),
        col("fk") === col("k"))
      .select(col("fact_id"), col("fk"), col("name"))
    assert(got.collect().toSet == want.collect().toSet)
    val missesAfterFirst = cache.misses.get()
    assert(missesAfterFirst > 0 && cache.hits.get() == 0)

    // steady state: same key range again — every bucket already pinned
    cache.lookupJoin(facts, Seq(col("fk"))).count()
    assert(cache.misses.get() == missesAfterFirst, "second batch re-read buckets")
    assert(cache.hits.get() > 0)
    cache.invalidateAll()
  }

  test("bucket pruning: a narrow batch touches fewer buckets than the store") {
    val root = freshRoot("prune")
    KeyedStore.merge(dimBatch((1L to 400L).map(i => (i, s"n$i")), 1L),
      root, keys = Seq("k"), seqCols = Seq("__v"), numBuckets = 16)
    val cache = new DimCache(root, Seq("k"))
    // one key → exactly one bucket scanned
    cache.lookupJoin(Seq((10L, 7L)).toDF("fact_id", "fk"), Seq(col("fk"))).count()
    assert(cache.misses.get() == 1,
      s"one-key batch should touch 1 bucket, touched ${cache.misses.get()}")
    cache.invalidateAll()
  }

  test("a store merge between batches invalidates and refreshes") {
    val root = freshRoot("refresh")
    KeyedStore.merge(dimBatch(Seq((1L, "old")), 1L),
      root, keys = Seq("k"), seqCols = Seq("__v"), numBuckets = 4)
    val cache = new DimCache(root, Seq("k"))
    val facts = Seq((100L, 1L)).toDF("fact_id", "fk")
    val first = cache.lookupJoin(facts, Seq(col("fk"))).select("name").as[String].collect()
    assert(first.toSeq == Seq("old"))

    KeyedStore.merge(dimBatch(Seq((1L, "new")), 2L),
      root, keys = Seq("k"), seqCols = Seq("__v"))
    val second = cache.lookupJoin(facts, Seq(col("fk"))).select("name").as[String].collect()
    assert(second.toSeq == Seq("new"), "stale cached bucket served after merge")
    assert(cache.refreshes.get() == 1)
    cache.invalidateAll()
  }

  test("LRU cap bounds pinned buckets; evicted buckets re-miss") {
    val root = freshRoot("lru")
    KeyedStore.merge(dimBatch((1L to 400L).map(i => (i, s"n$i")), 1L),
      root, keys = Seq("k"), seqCols = Seq("__v"), numBuckets = 8)
    val cache = new DimCache(root, Seq("k"), maxCachedBuckets = 2)
    val wide = (1L to 400L).map(i => (i, i)).toDF("fact_id", "fk")
    cache.lookupJoin(wide, Seq(col("fk"))).count() // touches all 8 buckets
    val m1 = cache.misses.get()
    assert(m1 == 8)
    cache.lookupJoin(wide, Seq(col("fk"))).count() // ≥6 were evicted → re-miss
    assert(cache.misses.get() > m1)
    cache.invalidateAll()
  }

  test("deleted dim keys and absent keys behave (inner drops, left nulls)") {
    val root = freshRoot("ops")
    KeyedStore.merge(
      dimBatch(Seq((1L, "a"), (2L, "b")), 1L)
        .unionByName(Seq((2L, "b")).toDF("k", "name")
          .withColumn("op_type", lit("delete")).withColumn("__v", lit(2L))),
      root, keys = Seq("k"), seqCols = Seq("__v"))
    val cache = new DimCache(root, Seq("k"))
    val facts = Seq((10L, 1L), (20L, 2L), (30L, 99L)).toDF("fact_id", "fk")
    val inner = cache.lookupJoin(facts, Seq(col("fk")))
      .select("fact_id").as[Long].collect().toSet
    assert(inner == Set(10L))
    val left = cache.lookupJoin(facts, Seq(col("fk")), joinType = "left_outer")
      .select(col("fact_id"), col("name")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(left == Map(10L -> Some("a"), 20L -> None, 30L -> None))
    cache.invalidateAll()
  }

  test("a store compacted to empty fails loudly, not with NoSuchElementException") {
    val root = freshRoot("empty")
    KeyedStore.merge(dimBatch(Seq((1L, "a"), (2L, "b")), 1L),
      root, keys = Seq("k"), seqCols = Seq("__v"), numBuckets = 4)
    // delete every key, then drop the tombstones: the committed manifest is
    // now empty — no bucket files, no schema to shape even an empty join
    KeyedStore.merge(
      Seq((1L, "a"), (2L, "b")).toDF("k", "name")
        .withColumn("op_type", lit("delete")).withColumn("__v", lit(2L)),
      root, keys = Seq("k"), seqCols = Seq("__v"))
    KeyedStore.compact(spark, root, dropTombstones = true)
    val cache = new DimCache(root, Seq("k"))
    val facts = Seq((1L, 1L)).toDF("fact_id", "fk")
    val e = intercept[IllegalStateException] {
      cache.lookupJoin(facts, Seq(col("fk")))
    }
    assert(e.getMessage.contains("compacted to empty"), e.getMessage)
  }

  test("fact-key type drift still reads the right buckets (persisted-type cast)") {
    val root = freshRoot("drift")
    // dim keys are BIGINT; the store persists that type at creation
    KeyedStore.merge(dimBatch((1L to 200L).map(i => (i, s"n$i")), 1L),
      root, keys = Seq("k"), seqCols = Seq("__v"), numBuckets = 8)
    val cache = new DimCache(root, Seq("k"))
    // facts arrive with the join key as INT: hash(int) != hash(bigint), so
    // an uncast bucket derivation would open the wrong buckets and silently
    // drop matching facts
    val facts = (1L to 100L).map(i => (i, (i % 200 + 1).toInt))
      .toDF("fact_id", "fk")
      .withColumn("fk", col("fk").cast("int"))
    val got = cache.lookupJoin(facts, Seq(col("fk")))
      .select(col("fact_id"), col("name")).collect()
    assert(got.length == 100, s"drifted fact keys dropped: ${got.length}/100 matched")
    cache.invalidateAll()
  }

  test("the plan never broadcasts the dim side") {
    val root = freshRoot("plan")
    KeyedStore.merge(dimBatch((1L to 50L).map(i => (i, s"n$i")), 1L),
      root, keys = Seq("k"), seqCols = Seq("__v"))
    val cache = new DimCache(root, Seq("k"))
    val facts = (1L to 50L).map(i => (i, i)).toDF("fact_id", "fk")
    val df = cache.lookupJoin(facts, Seq(col("fk")))
    df.count() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      "a DimCache join must stay shuffle-side even when the dim is small:\n" +
        plan.take(1200))
    cache.invalidateAll()
  }

  test("the first lookup reads the store's persisted schema, no footer inference") {
    val root = freshRoot("schema")
    KeyedStore.merge(dimBatch((1L to 50L).map(i => (i, s"n$i")), 1L),
      root, keys = Seq("k"), seqCols = Seq("__v"), numBuckets = 4)
    val cache = new DimCache(root, Seq("k"))
    val facts = (1L to 50L).map(i => (i, i)).toDF("fact_id", "fk")
    val inferred = jobSitesDuring { cache.lookupJoin(facts, Seq(col("fk"))); () }
      .filter(_.contains("parquet at DimCache.scala"))
    assert(inferred.isEmpty, s"footer-inference jobs: ${inferred.mkString(", ")}")
    assert(cache.lookupJoin(facts, Seq(col("fk"))).select("fact_id", "name")
      .collect().length == 50)
    cache.invalidateAll()
  }
}
