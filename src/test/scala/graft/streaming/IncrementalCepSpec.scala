package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Store-backed CEP: concatenated folds equal the batch automaton at every
  * horizon (the fold IS the batch step function seeded from storage),
  * replay is a no-op behind the high-water mark, the loop counter persists
  * across folds, and state is O(keys ever seen). */
class IncrementalCepSpec extends SparkSpec {

  private def evDf(rows: (Long, Long, Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("k", "tms", "oid", "ty")
  }

  private def got(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq

  private val vcp = Seq(("view", 1, 1), ("click", 1, 1), ("purchase", 1, 1))

  test("folds across time-cut batches equal the batch operator; runs span folds") {
    val store = Files.createTempDirectory("inc_cep").toString + "/cep"
    // run 1 spans folds 1-2; run 2 spans folds 2-3
    val b1 = evDf((1, 10, 1, "view"), (1, 20, 2, "click"), (2, 15, 3, "view"))
    val b2 = evDf((1, 30, 4, "purchase"), (1, 40, 5, "view"), (2, 25, 6, "click"))
    val b3 = evDf((1, 50, 7, "click"), (1, 60, 8, "purchase"), (2, 35, 9, "purchase"))
    val m1 = got(IncrementalCep.foldBatch(b1, store, vcp, 1000, batchId = 1))
    val m2 = got(IncrementalCep.foldBatch(b2, store, vcp, 1000, batchId = 2))
    val m3 = got(IncrementalCep.foldBatch(b3, store, vcp, 1000, batchId = 3))
    assert(m1.isEmpty)
    assert(m2 == Seq((1L, 10L, 30L)))
    assert(m3 == Seq((1L, 40L, 60L), (2L, 15L, 35L)))
    // state table: one row per key (the HWM rides the manifest note)
    assert(KeyedStore.read(spark, store).get.count() == 2)
  }

  test("foldBatchGroup: the unroll delegation spans folds and replays safely") {
    val store = Files.createTempDirectory("inc_cep_g").toString + "/cep"
    // (view click) x 2: the second repetition arrives in later folds
    val b1 = evDf((1, 10, 1, "view"), (1, 20, 2, "click"))
    val b2 = evDf((1, 30, 3, "view"))
    val b3 = evDf((1, 40, 4, "click"), (2, 45, 5, "view"))
    val m1 = got(IncrementalCep.foldBatchGroup(b1, store,
      Seq("view", "click"), 2, 1000, batchId = 1))
    val m2 = got(IncrementalCep.foldBatchGroup(b2, store,
      Seq("view", "click"), 2, 1000, batchId = 2))
    val m3 = got(IncrementalCep.foldBatchGroup(b3, store,
      Seq("view", "click"), 2, 1000, batchId = 3))
    assert(m1.isEmpty && m2.isEmpty)
    assert(m3 == Seq((1L, 10L, 40L)))
    // equals the batch operator over the concatenation
    val all = evDf((1, 10, 1, "view"), (1, 20, 2, "click"),
      (1, 30, 3, "view"), (1, 40, 4, "click"), (2, 45, 5, "view"))
    val batchGot = graft.ops.Cep.patternMatchesGroup(all, col("k"),
        col("tms"), col("oid"), col("ty"), Seq("view", "click"), 2, 1000)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq
    assert(m3 == batchGot)
    // replay no-op
    assert(got(IncrementalCep.foldBatchGroup(b3, store,
      Seq("view", "click"), 2, 1000, batchId = 3)).isEmpty)
  }

  test("foldBatchNfa: the branch family spans folds; equals the batch opt-in") {
    val store = Files.createTempDirectory("inc_cep_n").toString + "/cep"
    val pat = Seq(("view", 1, 1), ("click", 0, 1), ("click", 1, 1))
    // fold 1 opens the family; fold 2's click completes via the skip
    // branch (the greedy fold would have parked it in the optional slot)
    val b1 = evDf((1, 10, 1, "view"), (2, 15, 2, "view"))
    val b2 = evDf((1, 20, 3, "click"), (2, 2000, 4, "click")) // key 2 timed out
    val b3 = evDf((2, 2010, 5, "view"), (2, 2020, 6, "click"))
    val m1 = got(IncrementalCep.foldBatchNfa(b1, store, pat, 1000, batchId = 1))
    val m2 = got(IncrementalCep.foldBatchNfa(b2, store, pat, 1000, batchId = 2))
    val m3 = got(IncrementalCep.foldBatchNfa(b3, store, pat, 1000, batchId = 3))
    assert(m1.isEmpty)
    assert(m2 == Seq((1L, 10L, 20L)))
    assert(m3 == Seq((2L, 2010L, 2020L)))
    // equals the batch opt-in over the concatenation
    val all = evDf((1, 10, 1, "view"), (2, 15, 2, "view"),
      (1, 20, 3, "click"), (2, 2000, 4, "click"),
      (2, 2010, 5, "view"), (2, 2020, 6, "click"))
    val batchGot = graft.ops.Cep.patternMatchesTimesNfa(all, col("k"),
        col("tms"), col("oid"), col("ty"), pat, 1000)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq
    assert((m1 ++ m2 ++ m3).sorted == batchGot)
    // replay no-op; then expiry parity on the new layout: idle rows prune
    assert(got(IncrementalCep.foldBatchNfa(b3, store, pat, 1000,
      batchId = 3)).isEmpty)
    val expired = IncrementalCep.expire(spark, store,
      watermarkMs = 10000, withinMs = 1000)
    assert(expired >= 1) // both keys idle after their emits
    // a fresh run on the expired store still works
    assert(got(IncrementalCep.foldBatchNfa(
      evDf((3, 10000, 7, "view"), (3, 10010, 8, "click")), store, pat,
      1000, batchId = 4)) == Seq((3L, 10000L, 10010L)))
  }

  test("replayed fold (batchId <= mark) emits nothing and touches nothing") {
    val store = Files.createTempDirectory("inc_cep_rp").toString + "/cep"
    val b1 = evDf((1, 10, 1, "view"), (1, 20, 2, "click"))
    IncrementalCep.foldBatch(b1, store, vcp, 1000, batchId = 1).count()
    val gen = KeyedStore.latestGeneration(spark, store)
    val replay = got(IncrementalCep.foldBatch(
      evDf((1, 30, 3, "purchase")), store, vcp, 1000, batchId = 1))
    assert(replay.isEmpty)
    assert(KeyedStore.latestGeneration(spark, store) == gen)
    // the real batch 2 then completes the stored partial
    assert(got(IncrementalCep.foldBatch(
      evDf((1, 30, 3, "purchase")), store, vcp, 1000, batchId = 2))
      == Seq((1L, 10L, 30L)))
  }

  test("the quantifier counter persists: a loop begun in fold 1 completes in fold 2") {
    val store = Files.createTempDirectory("inc_cep_q").toString + "/cep"
    val pat = Seq(("view", 3, graft.ops.Cep.Unbounded), ("purchase", 1, 1))
    val b1 = evDf((1, 10, 1, "view"), (1, 20, 2, "view"))
    val b2 = evDf((1, 30, 3, "view"), (1, 40, 4, "purchase"))
    assert(got(IncrementalCep.foldBatch(b1, store, pat, 1000, 1)).isEmpty)
    assert(got(IncrementalCep.foldBatch(b2, store, pat, 1000, 2))
      == Seq((1L, 10L, 40L)))
  }

  test("cross-fold timeout: a stale stored partial is abandoned by the next fold's event") {
    val store = Files.createTempDirectory("inc_cep_to").toString + "/cep"
    val b1 = evDf((1, 10, 1, "view"), (1, 20, 2, "click"))
    val b2 = evDf((1, 5000, 3, "purchase"), (1, 5010, 4, "view"),
      (1, 5020, 5, "click"), (1, 5030, 6, "purchase"))
    IncrementalCep.foldBatch(b1, store, vcp, 100, 1).count()
    assert(got(IncrementalCep.foldBatch(b2, store, vcp, 100, 2))
      == Seq((1L, 5010L, 5030L)))
  }

  test("predicate stages (foldBatchWhere): value conditions fold across batches") {
    val s = spark
    import s.implicits._
    val store = Files.createTempDirectory("inc_cep_w").toString + "/cep"
    val stages = Seq(("e.ty = 'view' AND e.value > 50.0", 1, 1),
      ("e.ty = 'purchase' AND e.value > 100.0", 1, 1))
    def ev(rows: (Long, Long, Long, String, Double)*) =
      rows.toSeq.toDF("k", "tms", "oid", "ty", "value")
    val payload = Seq("ty" -> col("ty"), "value" -> col("value"))
    // batch 1 opens on the high-value view only; batch 2 completes on the
    // high-value purchase only
    val m1 = IncrementalCep.foldBatchWhere(
      ev((1, 10, 1, "view", 20.0), (1, 20, 2, "view", 80.0)),
      store, stages, 1000, batchId = 1, payload)
    val m2 = IncrementalCep.foldBatchWhere(
      ev((1, 30, 3, "purchase", 50.0), (1, 40, 4, "purchase", 150.0)),
      store, stages, 1000, batchId = 2, payload)
    assert(got(m1).isEmpty)
    assert(got(m2) == Seq((1L, 20L, 40L)))
    // equals the batch predicate operator over the concatenation
    val all = ev((1, 10, 1, "view", 20.0), (1, 20, 2, "view", 80.0),
      (1, 30, 3, "purchase", 50.0), (1, 40, 4, "purchase", 150.0))
    val want = graft.ops.Cep.patternMatchesWhere(all, col("k"), col("tms"),
        col("oid"), stages, 1000, payload)
      .select(col("k"), col("start_tms"), col("end_tms"))
    assert((got(m1) ++ got(m2)).sorted == got(want))
  }

  test("expire drops idle and timed-out state; later folds still equal the batch operator") {
    val store = Files.createTempDirectory("inc_cep_exp").toString + "/cep"
    // EPOCH-STYLE batch ids on purpose: expire must not play version
    // games against the caller's ver space (a generation-derived
    // tombstone would tie with or lose to these — the pruning rewrite
    // cannot)
    val bid1 = 1700000000001L
    val bid2 = 1700000000002L
    // k1 completes (idle after), k2 holds a LIVE partial, k3 a STALE one
    val b1 = evDf((1, 10, 1, "view"), (1, 20, 2, "click"),
      (1, 30, 3, "purchase"), (2, 990, 4, "view"), (3, 50, 5, "view"))
    val m1 = got(IncrementalCep.foldBatch(b1, store, vcp, 100, batchId = bid1))
    assert(m1 == Seq((1L, 10L, 30L)))
    assert(KeyedStore.read(spark, store).get.count() == 3) // 3 keys
    // watermark 1000: k1 idle (dead), k3 timed out (1000-50 >= 100, dead),
    // k2 alive (1000-990 < 100, kept)
    assert(IncrementalCep.expire(spark, store, watermarkMs = 1000,
      withinMs = 100) == 2)
    // dead rows are PHYSICALLY gone: k2 only, no tombstones
    assert(KeyedStore.read(spark, store).get.count() == 1)
    assert(KeyedStore.readActive(spark, store).get
      .filter(col("kind") === "v").count() == 1)
    // the next fold: k2 completes from its kept partial; k1/k3 re-open
    // from absent exactly as the batch operator replays them
    val b2 = evDf((2, 1000, 6, "click"), (2, 1010, 7, "purchase"),
      (3, 1005, 8, "view"), (3, 1010, 9, "click"), (3, 1020, 10, "purchase"),
      (1, 1001, 11, "view"), (1, 1002, 12, "click"), (1, 1003, 13, "purchase"))
    val m2 = got(IncrementalCep.foldBatch(b2, store, vcp, 100, batchId = bid2))
    val want = graft.ops.Cep.patternMatches(
        b1.unionByName(b2), col("k"), col("tms"), col("oid"), col("ty"),
        vcp.map(_._1), 100)
      .select(col("k"), col("start_tms"), col("end_tms"))
    assert((m1 ++ m2).sorted == got(want))
  }

  test("iterative conditions (foldBatchIter): the capture crosses a batch boundary") {
    val s = spark
    import s.implicits._
    val store = Files.createTempDirectory("inc_cep_it").toString + "/cep"
    val stages = Seq(("e.ty = 'view'", 1, 1),
      ("e.ty = 'purchase' AND e.value > 2 * first.value", 1, 1))
    def ev(rows: (Long, Long, Long, String, Double)*) =
      rows.toSeq.toDF("k", "tms", "oid", "ty", "value")
    val payload = Seq("ty" -> col("ty"), "value" -> col("value"))
    // fold 1 OPENS (captures view value 30); fold 2 evaluates first.value
    // against the CAPTURE FROM THE EARLIER BATCH: 50 fails (needs > 60),
    // 70 completes — the r10 layout (no f0 slot) could not express this
    val m1 = IncrementalCep.foldBatchIter(
      ev((1, 10, 1, "view", 30.0), (2, 15, 2, "view", 10.0)),
      store, stages, 1000, batchId = 1, payload)
    val m2 = IncrementalCep.foldBatchIter(
      ev((1, 20, 3, "purchase", 50.0), (1, 30, 4, "purchase", 70.0),
        (2, 25, 5, "purchase", 25.0)),
      store, stages, 1000, batchId = 2, payload)
    assert(got(m1).isEmpty)
    assert(got(m2) == Seq((1L, 10L, 30L), (2L, 15L, 25L)))
    // equals the batch iterative operator over the concatenation — the
    // q_cep_iter twin contract, wherever the cut falls
    val all = ev((1, 10, 1, "view", 30.0), (2, 15, 2, "view", 10.0),
      (1, 20, 3, "purchase", 50.0), (1, 30, 4, "purchase", 70.0),
      (2, 25, 5, "purchase", 25.0))
    val want = graft.ops.Cep.patternMatchesIter(all, col("k"), col("tms"),
        col("oid"), stages, 1000, payload)
      .select(col("k"), col("start_tms"), col("end_tms"))
    assert((got(m1) ++ got(m2)).sorted == got(want))
    // a string literal containing `first.` survives the rewrite unharmed
    val litStore = Files.createTempDirectory("inc_cep_itl").toString + "/cep"
    val litStages = Seq(("e.ty = 'view'", 1, 1), ("e.ty = 'first.home'", 1, 1))
    val mLit = IncrementalCep.foldBatchIter(
      ev((3, 10, 1, "view", 1.0), (3, 20, 2, "first.home", 1.0)),
      litStore, litStages, 1000, batchId = 1, payload)
    assert(got(mLit) == Seq((3L, 10L, 20L)))
  }

  test("strict contiguity (foldBatchNext): adjacency holds across a fold boundary") {
    val store = Files.createTempDirectory("inc_cep_nx").toString + "/cep"
    def nx(df: org.apache.spark.sql.DataFrame, id: Long) =
      got(IncrementalCep.foldBatchNext(df, store, Seq("view", "click"),
        1000, batchId = id, nextStages = Set(1)))
    // key 1: view ends fold 1, click opens fold 2 — STRICTLY ADJACENT in
    // the concatenation, so it matches; key 2: view ends fold 1 but an
    // error opens fold 2 — the cross-boundary adjacency is broken
    val m1 = nx(evDf((1, 10, 1, "view"), (2, 15, 2, "view")), 1)
    val m2 = nx(evDf((1, 20, 3, "click"), (2, 25, 4, "error"),
      (2, 30, 5, "click")), 2)
    assert(m1.isEmpty)
    assert(m2 == Seq((1L, 10L, 20L)))
    // equals the batch strict operator over the concatenation
    val all = evDf((1, 10, 1, "view"), (2, 15, 2, "view"),
      (1, 20, 3, "click"), (2, 25, 4, "error"), (2, 30, 5, "click"))
    val want = graft.ops.Cep.patternMatchesNext(all, col("k"), col("tms"),
        col("oid"), col("ty"), Seq("view", "click"), 1000, Set(1))
      .select(col("k"), col("start_tms"), col("end_tms"))
    assert((m1 ++ m2).sorted == got(want))
    // the open notNext slot crosses a boundary too
    val store2 = Files.createTempDirectory("inc_cep_nn").toString + "/cep"
    def nn(df: org.apache.spark.sql.DataFrame, id: Long) =
      got(IncrementalCep.foldBatchNext(df, store2, Seq("view", "purchase"),
        1000, batchId = id, nextStages = Set.empty,
        notNext = Map(1 -> Seq("error"))))
    nn(evDf((3, 10, 1, "view")), 1)
    // the banned error lands in the VERY-NEXT slot, in the next fold
    assert(nn(evDf((3, 20, 2, "error"), (3, 30, 3, "purchase")), 2).isEmpty)
  }

  test("negation (foldBatchNeg): the watch spans folds; flushBatchNeg emits it") {
    val s = spark
    val store = Files.createTempDirectory("inc_cep_ng").toString + "/cep"
    val pat = Seq("view", "purchase")
    def ng(df: org.apache.spark.sql.DataFrame, id: Long) =
      got(IncrementalCep.foldBatchNeg(df, store, pat, 1000, batchId = id,
        notBetween = Map(1 -> Seq("error")), notAfter = Seq("click")))
    // key 1 completes view→purchase in fold 1 → WATCH opens; fold 2's
    // click (inside the window) kills it. key 2's watch survives fold 2
    // and emits at the flush. key 3's purchase is killed by an error
    // BETWEEN, across the boundary.
    val m1 = ng(evDf((1, 10, 1, "view"), (1, 20, 2, "purchase"),
      (2, 15, 3, "view"), (2, 25, 4, "purchase"), (3, 12, 5, "view")), 1)
    val m2 = ng(evDf((1, 30, 6, "click"), (3, 30, 7, "error"),
      (3, 40, 8, "purchase")), 2)
    assert(m1.isEmpty && m2.isEmpty)
    val flushed = got(IncrementalCep.flushBatchNeg(s, store, pat,
      watermarkMs = 5000, withinMs = 1000, batchId = 3L))
    assert(flushed == Seq((2L, 15L, 25L)))
    // flush is idempotent once landed: the watch row went idle
    assert(got(IncrementalCep.flushBatchNeg(s, store, pat,
      watermarkMs = 5000, withinMs = 1000, batchId = 4L)).isEmpty)
    // equals the batch operator (its input-end flush emits key 2 too)
    val all = evDf((1, 10, 1, "view"), (1, 20, 2, "purchase"),
      (2, 15, 3, "view"), (2, 25, 4, "purchase"), (3, 12, 5, "view"),
      (1, 30, 6, "click"), (3, 30, 7, "error"), (3, 40, 8, "purchase"))
    val want = graft.ops.Cep.patternMatchesNeg(all, col("k"), col("tms"),
        col("oid"), col("ty"), pat, 1000,
        notBetween = Map(1 -> Seq("error")), notAfter = Seq("click"))
      .select(col("k"), col("start_tms"), col("end_tms"))
    assert(flushed == got(want))
  }

  test("match payload (foldBatchSelect): stage captures cross fold boundaries") {
    val store = Files.createTempDirectory("inc_cep_sel").toString + "/cep"
    val pat = Seq("view", "click", "purchase")
    def sel(df: org.apache.spark.sql.DataFrame, id: Long) =
      IncrementalCep.foldBatchSelect(df, store, pat, 1000, batchId = id)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
          r.getLong(4), r.getLong(5)))
        .sortBy(identity).toSeq
    // view+click land in fold 1, the purchase in fold 2 — the emitted
    // payload must include all three stage events with their oids
    val m1 = sel(evDf((1, 10, 1, "view"), (1, 15, 2, "error"),
      (1, 20, 3, "click")), 1)
    val m2 = sel(evDf((1, 30, 4, "purchase"), (1, 40, 5, "view")), 2)
    val m3 = sel(evDf((1, 50, 6, "click"), (1, 60, 7, "purchase")), 3)
    assert(m1.isEmpty)
    assert(m2 == Seq((1L, 10L, 30L, 1, 10L, 1L), (1L, 10L, 30L, 2, 20L, 3L),
      (1L, 10L, 30L, 3, 30L, 4L)))
    assert(m3 == Seq((1L, 40L, 60L, 1, 40L, 5L), (1L, 40L, 60L, 2, 50L, 6L),
      (1L, 40L, 60L, 3, 60L, 7L)))
    // equals the batch select operator over the concatenation
    val all = evDf((1, 10, 1, "view"), (1, 15, 2, "error"), (1, 20, 3, "click"),
      (1, 30, 4, "purchase"), (1, 40, 5, "view"), (1, 50, 6, "click"),
      (1, 60, 7, "purchase"))
    val want = graft.ops.Cep.patternMatchesSelect(all, col("k"), col("tms"),
        col("oid"), col("ty"), pat, 1000)
      .collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(3), r.getLong(4)))
      .sortBy(identity).toSeq
    val gotFlat = (m2 ++ m3).map(t => (t._1, t._4, t._5, t._6))
      .sortBy(identity)
    assert(gotFlat == want)
    // replay behind the mark is a no-op
    assert(sel(evDf((1, 70, 8, "view")), 2).isEmpty)
  }

  test("foldBatchSelect: m_oid disambiguates matches whose envelopes tie exactly") {
    val store = Files.createTempDirectory("inc_cep_tie").toString + "/cep"
    val pat = Seq("view", "click", "purchase")
    // ALL six events at one timestamp: two complete matches whose
    // (start_tms, end_tms) envelopes are IDENTICAL (10, 10) — only the
    // per-match m_oid (the stage-1 event's oid, unique under skip past
    // last row) tells them apart for cross-fold match numbering
    val out = IncrementalCep.foldBatchSelect(
      evDf((1, 10, 1, "view"), (1, 10, 2, "click"), (1, 10, 3, "purchase"),
        (1, 10, 4, "view"), (1, 10, 5, "click"), (1, 10, 6, "purchase")),
      store, pat, 1000, batchId = 1)
    val rows = out.collect()
      .map(r => (r.getLong(r.fieldIndex("m_oid")),
        r.getInt(r.fieldIndex("stage_n")),
        r.getLong(r.fieldIndex("ev_oid"))))
      .sortBy(identity).toSeq
    assert(rows == Seq((1L, 1, 1L), (1L, 2, 2L), (1L, 3, 3L),
      (4L, 1, 4L), (4L, 2, 5L), (4L, 3, 6L)))
    // an envelope-only dense_rank would collapse the tie to ONE match_n;
    // ranking over (start, end, m_oid) recovers both matches in emission
    // order — the q_cep_select_stream drive's contract
    val ranked = out.withColumn("match_n", dense_rank().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
          .orderBy(col("start_tms"), col("end_tms"), col("m_oid"))))
      .select(col("match_n")).distinct().collect().map(_.getInt(0)).sorted
    assert(ranked.toSeq == Seq(1, 2))
  }

  test("flushBatchNeg: a stale batchId is rejected; its mark makes later equal ids replays") {
    val s = spark
    val store = Files.createTempDirectory("inc_cep_fhwm").toString + "/cep"
    val pat = Seq("view", "purchase")
    val w = 100L
    // fold 1 completes a watch (trailing ban pending)
    val m1 = got(IncrementalCep.foldBatchNeg(
      evDf((1, 10, 1, "view"), (1, 20, 2, "purchase")), store, pat,
      withinMs = w, batchId = 1, notAfter = Seq("click")))
    assert(m1.isEmpty)
    // a flush with batchId <= the stored mark is REJECTED loudly — its
    // idle rows would tie with fold 1's state rows nondeterministically
    val err = intercept[IllegalArgumentException] {
      IncrementalCep.flushBatchNeg(s, store, pat, watermarkMs = 500,
        withinMs = w, batchId = 1)
    }
    assert(err.getMessage.contains("high-water"))
    // a proper flush emits the watch AND bumps the mark...
    val f = got(IncrementalCep.flushBatchNeg(s, store, pat,
      watermarkMs = 500, withinMs = w, batchId = 2))
    assert(f == Seq((1L, 10L, 20L)))
    // ...so a later fold reusing the flush's id is a REPLAY no-op (the
    // documented contract: all later folds exceed every flush's id)
    val replay = got(IncrementalCep.foldBatchNeg(
      evDf((1, 600, 3, "view"), (1, 610, 4, "purchase")), store, pat,
      withinMs = w, batchId = 2, notAfter = Seq("click")))
    assert(replay.isEmpty)
    // and the next legitimate fold proceeds from clean flushed state
    val m3 = got(IncrementalCep.foldBatchNeg(
      evDf((1, 700, 5, "view"), (1, 710, 6, "purchase")), store, pat,
      withinMs = w, batchId = 3, notAfter = Seq("click")))
    assert(m3.isEmpty) // new watch pending, not yet flushed
    val f2 = got(IncrementalCep.flushBatchNeg(s, store, pat,
      watermarkMs = 2000, withinMs = w, batchId = 4))
    assert(f2 == Seq((1L, 700L, 710L)))
  }

  test("skip-to-next (foldBatchSkipNext): overlapping runs span folds; cap and replay hold") {
    val store = Files.createTempDirectory("inc_cep_skip").toString + "/cep"
    val pat = Seq("view", "click", "purchase")
    def skip(df: org.apache.spark.sql.DataFrame, id: Long, cap: Int = 0) =
      got(IncrementalCep.foldBatchSkipNext(df, store, pat, 1000,
        batchId = id, maxActiveRuns = cap))
    // two overlapping runs open in fold 1 (views at 10 and 20); the click
    // lands in fold 2 and the purchase in fold 3 — BOTH runs complete,
    // each timing its own window from its own start
    assert(skip(evDf((1, 10, 1, "view"), (1, 20, 2, "view")), 1).isEmpty)
    assert(skip(evDf((1, 30, 3, "click")), 2).isEmpty)
    assert(skip(evDf((1, 40, 4, "purchase")), 3) ==
      Seq((1L, 10L, 40L), (1L, 20L, 40L)))
    // equals the batch operator over the concatenation
    val all = evDf((1, 10, 1, "view"), (1, 20, 2, "view"),
      (1, 30, 3, "click"), (1, 40, 4, "purchase"))
    val want = graft.ops.Cep.patternMatchesSkipNext(all, col("k"),
        col("tms"), col("oid"), col("ty"), pat, 1000)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq
    assert(want == Seq((1L, 10L, 40L), (1L, 20L, 40L)))
    // replay behind the mark is a no-op
    assert(skip(evDf((1, 50, 5, "view")), 2).isEmpty)
    // per-run windows across folds: the older run times out, the younger
    // completes (fresh store)
    val store2 = Files.createTempDirectory("inc_cep_skip2").toString + "/cep"
    def skip2(df: org.apache.spark.sql.DataFrame, id: Long) =
      got(IncrementalCep.foldBatchSkipNext(df, store2, pat, 25, batchId = id))
    assert(skip2(evDf((2, 10, 1, "view"), (2, 20, 2, "view")), 1).isEmpty)
    assert(skip2(evDf((2, 30, 3, "click"), (2, 41, 4, "purchase")), 2) ==
      Seq((2L, 20L, 41L)))
    // maxActiveRuns = 1 evicts the OLDEST stored run across the boundary
    val store3 = Files.createTempDirectory("inc_cep_skip3").toString + "/cep"
    def skip3(df: org.apache.spark.sql.DataFrame, id: Long) =
      got(IncrementalCep.foldBatchSkipNext(df, store3, pat, 1000,
        batchId = id, maxActiveRuns = 1))
    assert(skip3(evDf((3, 10, 1, "view"), (3, 20, 2, "view")), 1).isEmpty)
    assert(skip3(evDf((3, 30, 3, "click"), (3, 40, 4, "purchase")), 2) ==
      Seq((3L, 20L, 40L)))
  }

  test("skip-to-next fixture replay: three time-cut folds equal the batch operator") {
    val s = spark
    val store = Files.createTempDirectory("inc_cep_skipfx").toString + "/cep"
    val pat = Seq("view", "click", "purchase")
    val w = 604800000L
    val ev = graft.model.Envelopes.events(s, sfDir())
      .filter(col("event_type").isin(pat: _*))
      .select(col("user_id").as("k"), expr("unix_millis(ts)").as("tms"),
        col("event_id").as("oid"), col("event_type").as("ty"))
      .localCheckpoint(true)
    val bounds = ev.agg(min(col("tms")), max(col("tms"))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val (cut1, cut2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
    val folds = Seq(
      ev.filter(col("tms") <= cut1),
      ev.filter(col("tms") > cut1 && col("tms") <= cut2),
      ev.filter(col("tms") > cut2)).zipWithIndex.map { case (p, i) =>
      IncrementalCep.foldBatchSkipNext(p, store, pat, w, batchId = i + 1L)
    }
    val gotAll = folds.map(got).reduce(_ ++ _).sortBy(identity)
    val want = graft.ops.Cep.patternMatchesSkipNext(ev, col("k"),
        col("tms"), col("oid"), col("ty"), pat, w)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq
    assert(want.nonEmpty && gotAll == want)
    folds.foreach(graft.util.Blocks.freeCheckpoint)
    graft.util.Blocks.freeCheckpoint(ev)
  }

  test("consecutive loops (foldBatchConsec): adjacency and the closed flag span folds") {
    val store = Files.createTempDirectory("inc_cep_cs").toString + "/cep"
    val pat = Seq(("view", 2, graft.ops.Cep.Unbounded), ("purchase", 1, 1))
    def cs(df: org.apache.spark.sql.DataFrame, id: Long) =
      got(IncrementalCep.foldBatchConsec(df, store, pat, 1000,
        batchId = id, consecutive = Set(0)))
    // two views + a closing error in fold 1; the fold-2 view cannot
    // extend the CLOSED loop, the purchase completes from the original
    // start — the cl flag crossed the fold boundary
    assert(cs(evDf((1, 10, 1, "view"), (1, 15, 2, "view"),
      (1, 20, 3, "error")), 1).isEmpty)
    assert(cs(evDf((1, 25, 4, "view"), (1, 30, 5, "purchase")), 2) ==
      Seq((1L, 10L, 30L)))
    // a break right AFTER a below-floor fold kills the carried partial
    assert(cs(evDf((2, 40, 6, "view")), 3).isEmpty)
    assert(cs(evDf((2, 45, 7, "error"), (2, 50, 8, "view"),
      (2, 55, 9, "view"), (2, 60, 10, "purchase")), 4) ==
      Seq((2L, 50L, 60L)))
    // replay behind the mark is a no-op
    assert(cs(evDf((1, 70, 11, "view")), 2).isEmpty)
    // fixture parity: three time-cut folds equal the batch operator
    val s = spark
    val store2 = Files.createTempDirectory("inc_cep_csfx").toString + "/cep"
    val w = 604800000L
    val ev = graft.model.Envelopes.events(s, sfDir())
      .select(col("user_id").as("k"), expr("unix_millis(ts)").as("tms"),
        col("event_id").as("oid"), col("event_type").as("ty"))
      .localCheckpoint(true)
    val bounds = ev.agg(min(col("tms")), max(col("tms"))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val (cut1, cut2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
    val folds = Seq(
      ev.filter(col("tms") <= cut1),
      ev.filter(col("tms") > cut1 && col("tms") <= cut2),
      ev.filter(col("tms") > cut2)).zipWithIndex.map { case (p, i) =>
      IncrementalCep.foldBatchConsec(p, store2, pat, w, batchId = i + 1L,
        consecutive = Set(0))
    }
    val gotAll = folds.map(got).reduce(_ ++ _).sortBy(identity)
    val want = graft.ops.Cep.patternMatchesTimesConsecutive(ev, col("k"),
        col("tms"), col("oid"), col("ty"), pat, w, Set(0))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq
    assert(want.nonEmpty && gotAll == want)
    folds.foreach(graft.util.Blocks.freeCheckpoint)
    graft.util.Blocks.freeCheckpoint(ev)
  }

  test("skip-to-first/last (foldBatchSkipTo): the rewind buffer spans folds") {
    val store = Files.createTempDirectory("inc_cep_st").toString + "/cep"
    val pat = Seq("view", "click", "purchase")
    def sk(df: org.apache.spark.sql.DataFrame, id: Long) =
      got(IncrementalCep.foldBatchSkipTo(df, store, pat, 1000,
        batchId = id, skipToStage = 1))
    // the click buffered in fold 1 replays when the match completes in
    // fold 2, and the rewound run (opened by the buffered view) closes
    // in fold 3 — buffer and mid-replay partial cross both cuts
    assert(sk(evDf((1, 10, 1, "view"), (1, 20, 2, "click")), 1).isEmpty)
    assert(sk(evDf((1, 25, 3, "view"), (1, 30, 4, "purchase")), 2) ==
      Seq((1L, 10L, 30L)))
    assert(sk(evDf((1, 35, 5, "click"), (1, 40, 6, "purchase")), 3) ==
      Seq((1L, 25L, 40L)))
    // replay behind the mark is a no-op
    assert(sk(evDf((1, 50, 7, "view")), 3).isEmpty)
    // percent-escaping round-trips hostile event-type strings through
    // the buffer (a ty containing the encoding's own separators)
    val store2 = Files.createTempDirectory("inc_cep_st2").toString + "/cep"
    val hostile = Seq("a:b;c%d", "e;f", "g:h")
    def sk2(df: org.apache.spark.sql.DataFrame, id: Long) =
      got(IncrementalCep.foldBatchSkipTo(df, store2, hostile, 1000,
        batchId = id, skipToStage = 1))
    assert(sk2(evDf((3, 10, 1, "a:b;c%d"), (3, 20, 2, "e;f")), 1).isEmpty)
    assert(sk2(evDf((3, 25, 3, "a:b;c%d"), (3, 30, 4, "g:h")), 2) ==
      Seq((3L, 10L, 30L)))
    assert(sk2(evDf((3, 35, 5, "e;f"), (3, 40, 6, "g:h")), 3) ==
      Seq((3L, 25L, 40L)))
    // fixture parity: three time-cut folds equal the batch operator
    val s = spark
    val store3 = Files.createTempDirectory("inc_cep_stfx").toString + "/cep"
    val w = 604800000L
    val ev = graft.model.Envelopes.events(s, sfDir())
      .filter(col("event_type").isin(pat: _*))
      .select(col("user_id").as("k"), expr("unix_millis(ts)").as("tms"),
        col("event_id").as("oid"), col("event_type").as("ty"))
      .localCheckpoint(true)
    val bounds = ev.agg(min(col("tms")), max(col("tms"))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val (cut1, cut2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
    val folds = Seq(
      ev.filter(col("tms") <= cut1),
      ev.filter(col("tms") > cut1 && col("tms") <= cut2),
      ev.filter(col("tms") > cut2)).zipWithIndex.map { case (p, i) =>
      IncrementalCep.foldBatchSkipTo(p, store3, pat, w, batchId = i + 1L,
        skipToStage = 1)
    }
    val gotAll = folds.map(got).reduce(_ ++ _).sortBy(identity)
    val want = graft.ops.Cep.patternMatchesSkipTo(ev, col("k"), col("tms"),
        col("oid"), col("ty"), pat, w, 1)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq
    assert(want.nonEmpty && gotAll == want)
    folds.foreach(graft.util.Blocks.freeCheckpoint)
    graft.util.Blocks.freeCheckpoint(ev)
  }

  test("expiry-enabled folds emit byte-identical matches on every layout (dead ≡ absent)") {
    // VERDICT r11 item 8: drive each store layout (times/where, iter,
    // next, neg, select) twice — with and without expireWatermarkMs wired
    // through every fold (checkEvery=1 via maintainExpire's own cadence
    // would need 16 folds; instead call expire() between folds directly
    // AND pass expireWatermarkMs, proving dead-row pruning never changes
    // emissions) — and require identical outputs.
    val w = 50L
    // three folds: fold 1 completes key 1 (idle after) and opens key 2;
    // fold 2 is far in the future (key 2's partial is timed out — dead);
    // fold 3 re-drives both keys
    val b1 = Seq((1L, 10L, 1L, "view"), (1L, 15L, 2L, "click"),
      (1L, 20L, 3L, "purchase"), (2L, 12L, 4L, "view"))
    val b2 = Seq((1L, 200L, 5L, "view"), (2L, 210L, 6L, "view"),
      (2L, 215L, 7L, "click"))
    val b3 = Seq((1L, 220L, 8L, "click"), (1L, 230L, 9L, "purchase"),
      (2L, 240L, 10L, "purchase"))
    val batches = Seq(b1, b2, b3)
    def drive(expire: Boolean)(
        fold: (org.apache.spark.sql.DataFrame, String, Long, Option[Long]) =>
          org.apache.spark.sql.DataFrame): Seq[Seq[org.apache.spark.sql.Row]] = {
      val store = Files.createTempDirectory("inc_cep_exm").toString + "/cep"
      batches.zipWithIndex.map { case (b, i) =>
        val wm = if (expire) Some(b.map(_._2).max) else None
        val out = fold(evDf(b: _*), store, i + 1L, wm).collect().toSeq
          .sortBy(_.toString)
        // force the O(keys) prune after EVERY fold (maintainExpire's own
        // cadence is 16 folds — too long for a 3-fold fixture): idle and
        // timed-out rows physically drop, and the next fold must not care
        wm.foreach(m => IncrementalCep.expire(spark, store, m, w))
        out
      }
    }
    def parity(label: String)(
        fold: (org.apache.spark.sql.DataFrame, String, Long, Option[Long]) =>
          org.apache.spark.sql.DataFrame): Unit = {
      val plain = drive(expire = false)(fold)
      val pruned = drive(expire = true)(fold)
      assert(plain == pruned, s"$label: expiry changed emissions")
      assert(plain.flatten.nonEmpty, s"$label: fixture emitted nothing")
    }
    parity("times") { (df, store, id, wm) =>
      IncrementalCep.foldBatch(df, store, vcp, w, id,
        expireWatermarkMs = wm)
    }
    parity("iter") { (df, store, id, wm) =>
      IncrementalCep.foldBatchIter(
        df.withColumn("v", col("oid").cast("double")), store,
        Seq(("e.ty = 'view'", 1, 1),
          ("e.ty = 'purchase' AND e.value >= first.value", 1, 1)), w, id,
        payload = Seq("ty" -> col("ty"), "value" -> col("v")),
        expireWatermarkMs = wm)
    }
    parity("next") { (df, store, id, wm) =>
      IncrementalCep.foldBatchNext(df, store, Seq("view", "click"), w, id,
        nextStages = Set(1), expireWatermarkMs = wm)
    }
    parity("neg") { (df, store, id, wm) =>
      IncrementalCep.foldBatchNeg(df, store, Seq("view", "purchase"), w, id,
        notBetween = Map(1 -> Seq("error")), expireWatermarkMs = wm)
    }
    parity("select") { (df, store, id, wm) =>
      IncrementalCep.foldBatchSelect(df, store,
        Seq("view", "click", "purchase"), w, id, expireWatermarkMs = wm)
    }
    // skip-to-next rows carry t0 = the YOUNGEST run's start, so expire
    // drops a row only when every run is dead — parity must still hold
    parity("skipnext") { (df, store, id, wm) =>
      IncrementalCep.foldBatchSkipNext(df, store,
        Seq("view", "click", "purchase"), w, id, expireWatermarkMs = wm)
    }
    parity("consec") { (df, store, id, wm) =>
      IncrementalCep.foldBatchConsec(df, store,
        Seq(("view", 1, graft.ops.Cep.Unbounded), ("purchase", 1, 1)),
        w, id, consecutive = Set(0), expireWatermarkMs = wm)
    }
    parity("skipto") { (df, store, id, wm) =>
      IncrementalCep.foldBatchSkipTo(df, store,
        Seq("view", "click", "purchase"), w, id, skipToStage = 1,
        expireWatermarkMs = wm)
    }
  }

  test("self-scheduled expiry: maintainExpire fires on the cadence; folds stay equivalent") {
    val store = Files.createTempDirectory("inc_cep_me").toString + "/cep"
    // folds 1-2: keys 1..3 complete (idle, dead under any later watermark),
    // key 4 holds a live partial
    val b1 = evDf((1, 10, 1, "view"), (1, 11, 2, "click"), (1, 12, 3, "purchase"),
      (2, 10, 4, "view"), (2, 11, 5, "click"), (2, 12, 6, "purchase"))
    val b2 = evDf((3, 20, 7, "view"), (3, 21, 8, "click"), (3, 22, 9, "purchase"),
      (4, 995, 10, "view"))
    IncrementalCep.foldBatch(b1, store, vcp, 100, batchId = 1,
      expireWatermarkMs = Some(12L)).count()
    IncrementalCep.foldBatch(b2, store, vcp, 100, batchId = 2,
      expireWatermarkMs = Some(995L)).count()
    // nothing expired yet (default cadence 16 generations) — 4 keys
    assert(KeyedStore.read(spark, store).get.count() == 4)
    // explicit maintain at cadence 1: idle rows 1..3 are 3/4 > 0.5 → fires
    assert(IncrementalCep.maintainExpire(spark, store, watermarkMs = 995L,
      withinMs = 100, checkEvery = 1))
    assert(KeyedStore.readActive(spark, store).get
      .filter(col("kind") === "v").count() == 1) // key 4's live partial only
    // below the fraction threshold it does NOT fire
    assert(!IncrementalCep.maintainExpire(spark, store, watermarkMs = 995L,
      withinMs = 100, checkEvery = 1))
    // the next fold completes key 4 from its kept partial; key 1 re-opens
    // from absent — concatenated folds still equal the batch operator
    val b3 = evDf((4, 1000, 11, "click"), (4, 1010, 12, "purchase"),
      (1, 1001, 13, "view"), (1, 1002, 14, "click"), (1, 1003, 15, "purchase"))
    val m3 = got(IncrementalCep.foldBatch(b3, store, vcp, 100, batchId = 3,
      expireWatermarkMs = Some(1010L)))
    val want = graft.ops.Cep.patternMatches(
        b1.unionByName(b2).unionByName(b3), col("k"), col("tms"), col("oid"),
        col("ty"), vcp.map(_._1), 100)
      .select(col("k"), col("start_tms"), col("end_tms"))
      .filter(col("end_tms") >= 1000) // fold-3 matches only
    assert(m3 == got(want))
  }

  test("fixture parity: three time-cut folds equal the batch operator") {
    val s = spark
    import s.implicits._
    val store = Files.createTempDirectory("inc_cep_fx").toString + "/cep"
    val ev = graft.model.Envelopes.events(s, sfDir())
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id").as("k"), expr("unix_millis(ts)").as("tms"),
        col("event_id").as("oid"), col("event_type").as("ty"))
      .localCheckpoint(true)
    val b = ev.agg(min(col("tms")), max(col("tms"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
    val w = 604800000L
    val folds = Seq(ev.filter(col("tms") <= c1),
      ev.filter(col("tms") > c1 && col("tms") <= c2),
      ev.filter(col("tms") > c2)).zipWithIndex.map { case (p, i) =>
      got(IncrementalCep.foldBatch(p, store, vcp, w, i + 1L))
    }
    val want = graft.ops.Cep.patternMatches(ev, col("k"), col("tms"),
        col("oid"), col("ty"), vcp.map(_._1), w)
      .select(col("k"), col("start_tms"), col("end_tms"))
    assert(folds.flatten.sorted == got(want))
    graft.util.Blocks.freeCheckpoint(ev)
  }
}
