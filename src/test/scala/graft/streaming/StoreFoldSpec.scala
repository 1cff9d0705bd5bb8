package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The [[StoreFold]] layout contract across every store-backed fold: a
  * fold writes no `kind = "m"` meta row (identity, high-water mark and
  * running scalars ride the manifest note), and for the folds with a
  * replay high-water mark, re-folding the last batch id commits nothing. */
class StoreFoldSpec extends SparkSpec {

  test("no fold writes a meta row; replaying the last batch id moves no store") {
    val s = spark
    import s.implicits._
    def root(tag: String) = Files.createTempDirectory(s"storefold_$tag").toString
    val ev1 = Seq((1L, 10L, 1L, "view"), (1L, 20L, 2L, "click"),
      (2L, 15L, 3L, "view")).toDF("k", "tms", "oid", "ty")
    val ev2 = Seq((2L, 30L, 4L, "click"), (3L, 31L, 5L, "view"))
      .toDF("k", "tms", "oid", "ty")
    val pat3 = Seq(("view", 1, 1), ("click", 1, 1))
    val pat = Seq("view", "click")
    val kv = (off: Int) => (0 until 12).map(i => (s"g${i % 2}", s"u${i + off}"))
      .toDF("g", "u")
    val nums = (off: Int) => (0 until 12).map(i => (s"g${i % 2}", (i * 7 + off) % 50L))
      .toDF("g", "v")
    val emb = (ids: Range) => ids.map(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 3 + j) % 5).toFloat), (i % 2).toLong))
      .toDF("vec_id", "embedding", "label")
    lazy val books = graft.ext.Similarity.pqCodebooks(emb(0 until 8), m = 4, k = 4,
      iters = 1)
    val scd = (rows: Seq[(String, Long, Long, String, String)]) =>
      rows.toDF("k", "seq", "ts", "typ", "attr")
    val docs = (ids: Range) => ids.map(i => (i.toLong, s"tok$i common words"))
      .toDF("doc_id", "text")

    // (fold, store root it creates, the kind-bearing sub-store, folds
    // batch `id` into the root, whether batch ids are a replay HWM)
    case class Fold(name: String, sub: String, run: (String, Long) => Unit,
        hwm: Boolean)
    def cep(name: String, f: (DataFrame, String, Long) => DataFrame) =
      Fold(name, "", (r, id) => f(if (id == 0L) ev1 else ev2, r, id).count(),
        hwm = true)
    val folds = Seq(
      Fold("Bloom", "", (r, id) => IncrementalBloom.addEval(
        Seq((id, s"shingle$id")).toDF("doc_id", "s"), r, m = 64, batchId = id),
        hwm = false),
      Fold("Cc", "__members", (r, id) => IncrementalCc.mergePairs(
        Seq((1L, 2L + id), (2L + id, 9L)).toDF("a_id", "b_id"), r).count(),
        hwm = false),
      Fold("Centroid", "", (r, id) => IncrementalCentroid.mergeBatch(
        emb(id.toInt * 4 until id.toInt * 4 + 4), r, col("label"),
        col("embedding"), id).count(), hwm = true),
      cep("Cep.foldBatch", IncrementalCep.foldBatch(_, _, pat3, 1000, _)),
      cep("Cep.foldBatchNfa", IncrementalCep.foldBatchNfa(_, _, pat3, 1000, _)),
      cep("Cep.foldBatchNext", IncrementalCep.foldBatchNext(_, _, pat, 1000, _,
        nextStages = Set(1))),
      cep("Cep.foldBatchNeg", IncrementalCep.foldBatchNeg(_, _, pat, 1000, _,
        notAfter = Seq("error"))),
      Fold("Cep.flushBatchNeg", "", (r, id) => {
        IncrementalCep.foldBatchNeg(if (id == 0L) ev1 else ev2, r, pat, 5, 2 * id,
          notAfter = Seq("error")).count()
        IncrementalCep.flushBatchNeg(s, r, pat, watermarkMs = 100,
          withinMs = 5, batchId = 2 * id + 1).count()
      }, hwm = false),
      cep("Cep.foldBatchSelect", IncrementalCep.foldBatchSelect(_, _, pat, 1000, _)),
      cep("Cep.foldBatchSkipNext",
        IncrementalCep.foldBatchSkipNext(_, _, pat, 1000, _)),
      cep("Cep.foldBatchConsec", IncrementalCep.foldBatchConsec(_, _, pat3, 1000,
        _, consecutive = Set(0))),
      cep("Cep.foldBatchSkipTo",
        IncrementalCep.foldBatchSkipTo(_, _, pat, 1000, _, skipToStage = 1)),
      Fold("Cms", "", (r, id) => IncrementalCms.mergeBatch(kv(id.toInt), r,
        col("g"), col("u"), id, w = 16).count(), hwm = true),
      Fold("Decay", "", (r, id) => IncrementalDecay.mergeBatch(kv(id.toInt), r,
        col("u"), id).count(), hwm = true),
      Fold("Df", "", (r, id) => IncrementalDf.mergeBatch(
        docs(id.toInt * 3 until id.toInt * 3 + 3), r, col("doc_id"),
        col("text"), id).count(), hwm = true),
      Fold("Hist", "", (r, id) => IncrementalHist.mergeBatch(nums(id.toInt), r,
        col("g"), col("v"), 0L, 49L, 5, id).count(), hwm = true),
      Fold("Hll", "", (r, id) => IncrementalHll.mergeBatch(kv(id.toInt), r,
        col("g"), col("u"), p = 4, batchId = id).count(), hwm = false),
      Fold("Ids", "", (r, id) => IncrementalIds.mergeBatch(kv(id.toInt), r,
        col("u")).count(), hwm = false),
      Fold("Ivf", "/stats", (r, id) => IncrementalIvf.mergeBatch(
        emb(id.toInt * 4 until id.toInt * 4 + 4), r, books, id).count(),
        hwm = true),
      Fold("Ivf.deleteBatch", "/stats", (r, id) =>
        if (id == 0L) IncrementalIvf.mergeBatch(emb(0 until 6), r, books, 0L)
        else IncrementalIvf.deleteBatch(emb(0 until 2), r, books, id),
        hwm = true),
      Fold("Kmv", "", (r, id) => IncrementalKmv.mergeBatch(kv(id.toInt), r,
        col("g"), col("u"), k = 4, batchId = id).count(), hwm = true),
      Fold("Rank", "/ranks", (r, id) => IncrementalRank.updateAndRank(
        Seq((1L, 2L), (2L, 3L + id)).toDF("src", "dst"), r, tol = 10L,
        maxIters = 5)._1.count(), hwm = false),
      Fold("Sample", "", (r, id) => IncrementalSample.mergeBatch(kv(id.toInt)
        .withColumn("id", abs(hash(col("u"))).cast("long")), r, col("id"),
        col("g"), k = 3).count(), hwm = false),
      Fold("Scd2", "", (r, id) => IncrementalScd2.mergeBatch(
        if (id == 0L) scd(Seq(("A", 1L, 1L, "insert", "x")))
        else scd(Seq(("A", 2L, 3L, "update", "y"), ("B", 1L, 4L, "insert", "z"))),
        r, Seq("k"), Seq("seq"), Seq("attr"), id).count(), hwm = true),
      Fold("TopK", "", (r, id) => IncrementalTopK.mergeBatch(kv(id.toInt), r,
        col("u"), k = 3, batchId = id).count(), hwm = true),
      Fold("Triangles", "/counts", (r, id) => IncrementalTriangles.mergeEdges(
        (if (id == 0L) Seq((1L, 2L), (2L, 3L)) else Seq((1L, 3L), (3L, 4L)))
          .toDF("a", "b"), r, id).count(), hwm = true))

    folds.foreach { case Fold(name, sub, run, hwm) =>
      val r = root(name.replace('.', '_')) + "/st"
      run(r, 0L)
      run(r, 1L)
      val store = r + sub
      val meta = KeyedStore.read(s, store).map(_.filter(col("kind") === "m")
        .count()).getOrElse(0L)
      assert(meta == 0L, s"$name wrote $meta meta row(s) into $store")
      if (hwm) {
        val gen = KeyedStore.latestGeneration(s, store)
        run(r, 1L)
        assert(KeyedStore.latestGeneration(s, store) == gen,
          s"$name: replaying batch 1 committed a new generation of $store")
      }
    }
  }
}
