package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Cross-batch exact dedup over a persistent fingerprint store: unlike
  * `dropDuplicatesWithinWatermark` (horizon = watermark, state = query-local),
  * the accepted set is unbounded, survives restarts, and is shared across
  * queries. */
class IncrementalDedupSpec extends SparkSpec {

  private def fp = graft.ext.TextStats.fingerprint(col("text"))

  test("within-batch and cross-batch duplicates are rejected; restart resumes") {
    val s = spark
    import s.implicits._
    val store = Files.createTempDirectory("inc_dedup").toString + "/store"

    // batch 0: "x" twice within the batch — lowest id wins; "y" unique
    val b0 = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "text")
    val out0 = IncrementalDedup.dedupBatch(b0, store, fp, col("id"), 0L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out0 == Set(1L, 3L))

    // batch 1: "x" re-arrives (cross-batch dup), "z" is new
    val b1 = Seq((4L, "x"), (5L, "z")).toDF("id", "text")
    val out1 = IncrementalDedup.dedupBatch(b1, store, fp, col("id"), 1L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out1 == Set(5L))

    // "restart": a fresh caller over the same store still remembers batch 0
    val b2 = Seq((6L, "y"), (7L, "w")).toDF("id", "text")
    val out2 = IncrementalDedup.dedupBatch(b2, store, fp, col("id"), 2L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out2 == Set(7L))

    // the store is an inspectable table of accepted fingerprints
    val fps = KeyedStore.read(s, store).get
    assert(fps.count() == 4) // x, y, z, w
  }

  test("deleteBatch: erased content reads as never-seen; guards and replay hold") {
    val s = spark
    import s.implicits._
    val store = Files.createTempDirectory("inc_dedup_del").toString + "/store"
    val b0 = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "text")
    assert(IncrementalDedup.dedupBatch(b0, store, fp, col("id"), 0L)
      .count() == 3)
    // "x" re-arrives pre-erasure: rejected
    assert(IncrementalDedup.dedupBatch(
      Seq((4L, "x")).toDF("id", "text"), store, fp, col("id"), 1L)
      .count() == 0)
    // erase the accepted "x" (right-to-erasure): its fingerprint dies
    assert(IncrementalDedup.deleteBatch(
      Seq((1L, "x")).toDF("id", "text"), store, fp, 2L) == 1L)
    // the re-crawled replacement is ACCEPTED again — erasure means the
    // screen no longer remembers the content
    assert(IncrementalDedup.dedupBatch(
      Seq((5L, "x")).toDF("id", "text"), store, fp, col("id"), 3L)
      .count() == 1)
    // and re-erasing content that is no longer live aborts loudly
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.deleteBatch(
        Seq((9L, "w")).toDF("id", "text"), store, fp, 4L)
    }
    assert(e.getMessage.contains("not live"))
    // same-batchId replay (crashed attempt) is exempt and idempotent
    assert(IncrementalDedup.deleteBatch(
      Seq((5L, "x")).toDF("id", "text"), store, fp, 5L) == 1L)
    assert(IncrementalDedup.deleteBatch(
      Seq((5L, "x")).toDF("id", "text"), store, fp, 5L) == 1L)
    // a replay of an OLDER erase no-ops with 0 — the note slot holds only
    // the latest batch's count, so echoing it for batch 2 would lie
    // (ADVICE r14); the store is untouched either way
    val genBefore = KeyedStore.latestGeneration(s, store)
    assert(IncrementalDedup.deleteBatch(
      Seq((1L, "x")).toDF("id", "text"), store, fp, 2L) == 0L)
    assert(KeyedStore.latestGeneration(s, store) == genBefore)
    // the store's live view holds y, z (x erased twice, re-accepted once)
    val live = KeyedStore.read(s, store).get
      .filter(col("op_type") =!= "delete").count()
    assert(live == 2)
  }

  test("drives a foreachBatch stream end-to-end") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val store = Files.createTempDirectory("inc_dedup_s").toString + "/store"
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        IncrementalDedup.dedupBatch(batch, store, fp, col("id"), bid)
          .select("id").collect().foreach(r => sink.add(r.getLong(0)))
        ()
      }
      .start()
    try {
      mem.addData((1L, "a"), (2L, "a"))
      q.processAllAvailable()
      mem.addData((3L, "a"), (4L, "b"))
      q.processAllAvailable()
      assert(sink.toArray(Array.empty[java.lang.Long]).map(Long2long).sorted.toSeq
        == Seq(1L, 4L))
    } finally q.stop()
  }
}
