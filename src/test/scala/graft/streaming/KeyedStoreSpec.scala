package graft.streaming

import java.nio.file.Files
import graft.SparkSpec

/** K3/K4 — keyed upsert store across micro-batches: last write wins, deletes
  * tombstone keys, and final state is independent of batch boundaries (a
  * late-arriving LOWER-seq put must not resurrect a deleted key). */
class KeyedStoreSpec extends SparkSpec {

  test("multi-batch merge applies put/delete semantics in version order") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("keyedstore").toString + "/t"

    def active(): Map[String, (String, Long)] =
      KeyedStore.readActive(s, dir, opCol = "op").get.collect()
        .map(r => r.getAs[String]("k") -> ((r.getAs[String]("v"), r.getAs[Long]("seq"))))
        .toMap

    // batch 1: two puts + an older duplicate of k1 that must lose
    KeyedStore.merge(
      Seq(("k1", "v1", 10L, "put"), ("k2", "v2", 10L, "put"), ("k1", "v0", 5L, "put"))
        .toDF("k", "v", "seq", "op"),
      dir, keys = Seq("k"), seqCols = Seq("seq"))
    assert(active() == Map("k1" -> (("v1", 10L)), "k2" -> (("v2", 10L))))

    // batch 2: update k1, delete k2
    KeyedStore.merge(
      Seq(("k1", "v9", 20L, "put"), ("k2", "x", 20L, "delete")).toDF("k", "v", "seq", "op"),
      dir, keys = Seq("k"), seqCols = Seq("seq"))
    assert(active() == Map("k1" -> (("v9", 20L))))

    // batch 3: LATE put for k2 below the tombstone's seq — must stay deleted
    // (would wrongly resurrect if tombstones were physically dropped)
    KeyedStore.merge(
      Seq(("k2", "late", 15L, "put")).toDF("k", "v", "seq", "op"),
      dir, keys = Seq("k"), seqCols = Seq("seq"))
    assert(active() == Map("k1" -> (("v9", 20L))))

    // batch 4: re-insert k2 above the tombstone — resurrects
    KeyedStore.merge(
      Seq(("k2", "vNew", 30L, "put")).toDF("k", "v", "seq", "op"),
      dir, keys = Seq("k"), seqCols = Seq("seq"))
    assert(active() == Map("k1" -> (("v9", 20L)), "k2" -> (("vNew", 30L))))
  }

  test("incremental merge rewrites only the buckets the batch touches") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("keyedstore_bkt").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

    // bucket index -> generation, parsed from the immutable dir names
    val re = """__b=(\d+)__g(\d+)""".r
    def bucketGens(): Map[Int, Long] = fs
      .listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath.getName)
      .collect { case re(i, g) => i.toInt -> g.toLong }.toMap

    // seed enough keys to populate several of the 8 buckets
    val seed = (1 to 64).map(i => (s"k$i", s"v$i", 10L, "put"))
    KeyedStore.merge(seed.toDF("k", "v", "seq", "op"),
      dir, keys = Seq("k"), seqCols = Seq("seq"), numBuckets = 8)
    val before = bucketGens()
    assert(before.size > 1, "seed should span multiple buckets")

    // single-key batch: exactly one bucket may move to the new generation
    KeyedStore.merge(Seq(("k1", "v1b", 20L, "put")).toDF("k", "v", "seq", "op"),
      dir, keys = Seq("k"), seqCols = Seq("seq"))
    val after = bucketGens()
    assert(after.keySet == before.keySet, "bucket layout must stay stable")
    val changed = before.keySet.filter(b => after(b) != before(b))
    assert(changed.size == 1, s"only k1's bucket may be rewritten, got $changed")

    // the merged value won, everything else survived untouched
    val got = KeyedStore.readActive(s, dir, opCol = "op").get.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("v")).toMap
    assert(got("k1") == "v1b" && got.size == 64)
  }

  test("final state is independent of micro-batch boundaries") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // random put/delete history over a few keys; seq is globally unique so
    // the version order is total
    val rows = rnd.shuffle((1 to 40).map { seq =>
      (s"k${rnd.nextInt(6)}", s"v$seq", seq.toLong,
        if (rnd.nextInt(4) == 0) "delete" else "put")
    })

    def finalState(batches: Seq[Seq[(String, String, Long, String)]]): Map[String, String] = {
      val dir = Files.createTempDirectory("keyedstore_prop").toString + "/t"
      batches.foreach(b => KeyedStore.merge(b.toDF("k", "v", "seq", "op"),
        dir, keys = Seq("k"), seqCols = Seq("seq"), numBuckets = 4))
      KeyedStore.readActive(s, dir, opCol = "op").get.collect()
        .map(r => r.getAs[String]("k") -> r.getAs[String]("v")).toMap
    }

    val single = finalState(Seq(rows))
    val even = finalState(rows.grouped(10).toSeq)
    val ragged = finalState(Seq(rows.take(3), rows.slice(3, 4), rows.drop(4)))
    assert(even == single, "10-row batches diverged from single batch")
    assert(ragged == single, "ragged batches diverged from single batch")
  }

  test("an existing store keeps its bucket count even if merge is called with another") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("keyedstore_meta").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

    KeyedStore.merge(Seq(("k1", "v1", 1L, "put")).toDF("k", "v", "seq", "op"),
      dir, keys = Seq("k"), seqCols = Seq("seq"), numBuckets = 4)
    // a different numBuckets on a later merge must NOT re-bucket (the key→
    // bucket mapping would drift and strand existing state)
    KeyedStore.merge(Seq(("k1", "v2", 2L, "put")).toDF("k", "v", "seq", "op"),
      dir, keys = Seq("k"), seqCols = Seq("seq"), numBuckets = 16)
    val got = KeyedStore.readActive(s, dir, opCol = "op").get.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("v")).toMap
    assert(got == Map("k1" -> "v2"), s"stranded state: $got")
    // exactly one committed bucket dir for k1 — no drifted duplicate
    val buckets = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("__b="))
    assert(buckets.size == 1, s"bucket drift: $buckets")
  }

  test("a root holding non-bucket data files is refused, not silently ignored") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("keyedstore_flat").toString + "/t"
    // a legacy flat-layout store: parquet files directly under the root
    Seq(("k1", "v1")).toDF("k", "v").write.parquet(dir)
    intercept[IllegalStateException] {
      KeyedStore.read(s, dir)
    }
    intercept[IllegalStateException] {
      KeyedStore.merge(Seq(("k2", "v2", 1L, "put")).toDF("k", "v", "seq", "op"),
        dir, keys = Seq("k"), seqCols = Seq("seq"))
    }
  }

  test("a crash after staging but before manifest publish is invisible — all-or-nothing") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("keyedstore_crash").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

    // committed generation 1: keys spanning several of the 4 buckets
    val seed = (1 to 32).map(i => (s"k$i", s"v$i", 10L, "put"))
    KeyedStore.merge(seed.toDF("k", "v", "seq", "op"),
      dir, keys = Seq("k"), seqCols = Seq("seq"), numBuckets = 4)
    def state(): Map[String, String] =
      KeyedStore.readActive(s, dir, opCol = "op").get.collect()
        .map(r => r.getAs[String]("k") -> r.getAs[String]("v")).toMap
    val committed = state()

    // simulate a merge that crashed after staging EVERY bucket's next
    // generation but before publishing the manifest: poisoned generation-2
    // dirs exist for all four buckets, no manifest references them
    for (i <- 0 until 4)
      Seq((s"POISON$i", "POISON", 99L, "put")).toDF("k", "v", "seq", "op")
        .write.parquet(s"$dir/__b=${i}__g2")

    // readers stay on generation 1 for ALL buckets — no torn view, no poison
    assert(state() == committed, "uncommitted staging leaked into reads")

    // the next merge reuses generation 2: it must replace the stale staged
    // dirs it touches, GC the rest, and publish only real data
    KeyedStore.merge(Seq(("k1", "v1b", 20L, "put")).toDF("k", "v", "seq", "op"),
      dir, keys = Seq("k"), seqCols = Seq("seq"))
    val got = state()
    assert(got("k1") == "v1b" && got.size == 32 &&
      !got.valuesIterator.contains("POISON"), s"stale staging survived: $got")
    val leftovers = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("__b=")).sorted
    assert(leftovers.count(_.endsWith("__g2")) <= 1,
      s"unreferenced staged dirs must be GC'd: $leftovers")
  }

  test("retained generations give consistent time-travel snapshots; GC honors the window") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("keyedstore_snap").toString + "/t"

    def mergeB(rows: Seq[(String, String, Long, String)]): Unit =
      KeyedStore.merge(rows.toDF("k", "v", "seq", "op"), dir,
        keys = Seq("k"), seqCols = Seq("seq"), numBuckets = 4, keepGenerations = 2)
    def snap(g: Long): Option[Map[String, String]] =
      KeyedStore.readSnapshot(s, dir, g).map(
        _.filter(org.apache.spark.sql.functions.col("op") =!= "delete")
          .collect().map(r => r.getAs[String]("k") -> r.getAs[String]("v")).toMap)

    mergeB(Seq(("k1", "v1", 10L, "put"), ("k2", "v2", 10L, "put")))   // gen 1
    mergeB(Seq(("k1", "v1b", 20L, "put")))                            // gen 2
    mergeB(Seq(("k2", "x", 30L, "delete"), ("k3", "v3", 30L, "put"))) // gen 3

    assert(KeyedStore.generations(s, dir) == Seq(2L, 3L),
      "keepGenerations=2 must retain exactly the last two snapshots")
    // gen 2 is the FULL pre-delete state — including buckets merge 2 never
    // touched (its manifest pins gen-1 dirs for those)
    assert(snap(2L).contains(Map("k1" -> "v1b", "k2" -> "v2")))
    assert(snap(3L).contains(Map("k1" -> "v1b", "k3" -> "v3")))
    assert(snap(1L).isEmpty, "GC'd generation must read as absent, not wrong")
    // the default read is the latest generation
    val latest = KeyedStore.readActive(s, dir, opCol = "op").get.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("v")).toMap
    assert(latest == Map("k1" -> "v1b", "k3" -> "v3"))
  }

  test("a store whose meta file was deleted out-of-band fails loudly, not silently") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("keyedstore_meta_gone").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    KeyedStore.merge(Seq(("k1", "v1", 1L, "put")).toDF("k", "v", "seq", "op"),
      dir, keys = Seq("k"), seqCols = Seq("seq"), numBuckets = 4)
    assert(fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_buckets"), false))
    // adopting the caller's numBuckets here would silently re-bucket new rows
    // away from existing winners
    intercept[java.io.IOException] {
      KeyedStore.merge(Seq(("k2", "v2", 2L, "put")).toDF("k", "v", "seq", "op"),
        dir, keys = Seq("k"), seqCols = Seq("seq"), numBuckets = 8)
    }
  }

  test("compaction folds generations, preserves state, drops tombstones only on request") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("keyedstore_cp").toString + "/t"
    def merge(rows: Seq[(String, String, Long, String)]): Unit =
      KeyedStore.merge(rows.toDF("k", "v", "seq", "op"), dir,
        keys = Seq("k"), seqCols = Seq("seq"), numBuckets = 4, keepGenerations = 3)
    merge(Seq(("a", "v1", 1L, "put"), ("b", "v1", 1L, "put"), ("c", "v1", 1L, "put")))
    merge(Seq(("a", "v2", 2L, "put"), ("b", "", 2L, "delete")))
    merge(Seq(("d", "v1", 3L, "put")))
    assert(KeyedStore.generations(s, dir).size == 3)

    def state(): Set[(String, String, Long, String)] =
      KeyedStore.read(s, dir).get.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    val before = state()
    assert(before.exists(_._4 == "delete")) // the tombstone is stored

    KeyedStore.compact(s, dir, opCol = "op", deleteOp = "delete")
    // identical state (tombstone RETAINED), history folded to one generation
    assert(state() == before)
    assert(KeyedStore.generations(s, dir).size == 1)
    // one file per bucket after the fold
    val files = KeyedStore.read(s, dir).get.inputFiles
    assert(files.length == files.map(_.replaceAll("/[^/]*$", "")).distinct.length)

    // a merge on the compacted store keeps working
    merge(Seq(("e", "v1", 4L, "put")))
    assert(state().exists(_._1 == "e"))

    // explicit tombstone drop: the delete row disappears, actives unchanged
    val activeBefore = KeyedStore.readActive(s, dir, opCol = "op").get
      .select("k").collect().map(_.getString(0)).toSet
    KeyedStore.compact(s, dir, dropTombstones = true, opCol = "op", deleteOp = "delete")
    assert(!state().exists(_._4 == "delete"))
    assert(KeyedStore.readActive(s, dir, opCol = "op").get
      .select("k").collect().map(_.getString(0)).toSet == activeBefore)
  }

  test("maintain: tombstone-heavy store compacts itself on the cadence; put-only never fires") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("keyedstore_mt").toString + "/t"
    def merge(rows: Seq[(String, String, Long, String)]): Unit =
      KeyedStore.merge(rows.toDF("k", "v", "seq", "op_type"), dir,
        keys = Seq("k"), seqCols = Seq("seq"), numBuckets = 4)
    merge((1 to 10).map(i => (s"k$i", "v", 1L, "put")))
    // generation 1, no tombstones: an immediate check must not fire
    assert(!KeyedStore.maintain(s, dir, checkEvery = 1))
    // delete 8 of 10 → fraction 8/10 > 0.5
    merge((1 to 8).map(i => (s"k$i", "", 2L, "delete")))
    // generation 2 is NOT on a checkEvery=3 cadence: no scan, no compact
    assert(!KeyedStore.maintain(s, dir, checkEvery = 3))
    assert(KeyedStore.read(s, dir).get
      .filter(col("op_type") === "delete").count() == 8)
    val activeBefore = KeyedStore.readActive(s, dir).get
      .select("k").collect().map(_.getString(0)).toSet
    // on-cadence check fires, drops tombstones, preserves live state
    assert(KeyedStore.maintain(s, dir, checkEvery = 1))
    assert(KeyedStore.read(s, dir).get
      .filter(col("op_type") === "delete").count() == 0)
    assert(KeyedStore.readActive(s, dir).get
      .select("k").collect().map(_.getString(0)).toSet == activeBefore)
    // freshly compacted (generation bumped, frac 0): does not re-fire
    assert(!KeyedStore.maintain(s, dir, checkEvery = 1))
    // merges keep working after auto-maintenance
    merge(Seq(("z", "v", 9L, "put")))
    assert(KeyedStore.readActive(s, dir).get.count() == 3)
  }

  test("prefix bucketCols enable pruned probe reads equal to a full-read join") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("keyedstore_bc").toString + "/t"
    val rows = (0L until 200L).map(i => (i % 10, s"g${i % 10}_m$i", i, i))
      .toDF("grp", "member", "payload", "seq")
    KeyedStore.merge(rows, dir, keys = Seq("grp", "member"),
      seqCols = Seq("seq"), numBuckets = 8, bucketCols = Seq("grp"))

    // probe two groups: pruned read returns exactly the full-read subset
    val probe = Seq(3L, 7L).toDF("grp")
    val pruned = KeyedStore.readPruned(s, dir, probe).get
      .join(probe, Seq("grp")).select("member").collect().map(_.getString(0)).toSet
    val full = KeyedStore.read(s, dir).get
      .join(probe, Seq("grp")).select("member").collect().map(_.getString(0)).toSet
    assert(pruned == full && pruned.size == 40)

    // and it really pruned: the frame reads fewer bucket dirs than the store has
    val prunedFiles = KeyedStore.readPruned(s, dir, probe).get.inputFiles
      .map(_.replaceAll("/[^/]*$", "")).toSet
    val allFiles = KeyedStore.read(s, dir).get.inputFiles
      .map(_.replaceAll("/[^/]*$", "")).toSet
    assert(prunedFiles.size < allFiles.size,
      s"pruned ${prunedFiles.size} vs ${allFiles.size} bucket dirs")

    // a later merge must keep the persisted derivation (and reject drift)
    KeyedStore.merge(Seq((3L, "g3_new", 999L, 999L)).toDF("grp", "member", "payload", "seq"),
      dir, keys = Seq("grp", "member"), seqCols = Seq("seq"))
    assert(KeyedStore.readPruned(s, dir, Seq(3L).toDF("grp")).get
      .filter($"member" === "g3_new").count() == 1)
    intercept[IllegalArgumentException] {
      KeyedStore.merge(Seq((1L, "x", 1L, 1L)).toDF("grp", "member", "payload", "seq"),
        dir, keys = Seq("grp", "member"), seqCols = Seq("seq"),
        bucketCols = Seq("member"))
    }
  }

  test("pruned probe is type-robust: an INT probe against BIGINT bucket cols still hits") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("keyedstore_ty").toString + "/t"
    // grp is BIGINT in the stored rows
    val rows = (0L until 100L).map(i => (i % 10, s"m$i", i)).toDF("grp", "member", "seq")
    KeyedStore.merge(rows, dir, keys = Seq("grp", "member"), seqCols = Seq("seq"),
      numBuckets = 8, bucketCols = Seq("grp"))
    // the probe arrives as INT: hash(int 3) != hash(bigint 3), so without
    // the persisted-type cast this would open the WRONG buckets and silently
    // miss every match
    val probe = Seq(3, 7).toDF("grp") // IntegerType
    val hit = KeyedStore.readPruned(s, dir, probe).get
      .filter($"grp".isin(3L, 7L)).select("member")
      .collect().map(_.getString(0)).toSet
    val want = KeyedStore.read(s, dir).get
      .filter($"grp".isin(3L, 7L)).select("member")
      .collect().map(_.getString(0)).toSet
    assert(hit == want && hit.size == 20, s"pruned probe missed: ${hit.size}")
  }

  test("DEFAULT (keys-bucketed) store casts drifted key types: no split-brain winners") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("keyedstore_drift").toString + "/t"
    // created with a BIGINT key — types persisted even without bucketCols
    KeyedStore.merge(Seq((3L, "old", 0L)).toDF("k", "v", "seq"),
      root, keys = Seq("k"), seqCols = Seq("seq"), numBuckets = 8)
    // a later batch arrives with the key as INT (upstream schema drift):
    // hash(int 3) != hash(bigint 3), so an uncast derivation would write
    // key 3 into a DIFFERENT bucket and read() would return two winners
    KeyedStore.merge(
      Seq((3, "new", 1L)).toDF("k", "v", "seq")
        .withColumn("k", $"k".cast("int")),
      root, keys = Seq("k"), seqCols = Seq("seq"))
    val winners = KeyedStore.read(s, root).get
      .filter($"k" === 3L).select("v").collect().map(_.getString(0)).toSeq
    assert(winners == Seq("new"), s"split-brain winners: $winners")
  }

  test("an empty meta beside committed state is corrupt, loudly") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("keyedstore_emptymeta").toString + "/t"
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val f = KeyedStore.fs(s, root)
    KeyedStore.merge((0L until 40L).map(i => (i, s"v$i", 0L)).toDF("k", "v", "seq"),
      root, keys = Seq("k"), seqCols = Seq("seq"), numBuckets = 8)
    // a zero-byte meta beside committed state is corruption — IOException
    // with the diagnostic, not a NoSuchElementException
    val metaPath = new org.apache.hadoop.fs.Path(rootPath, "_graft_buckets")
    f.delete(metaPath, false)
    f.create(metaPath, true).close()
    val e = intercept[java.io.IOException] { KeyedStore.readMeta(f, rootPath) }
    assert(e.getMessage.contains("corrupt"), e.getMessage)
  }

  test("old store shapes fail by name with the rebuild instruction") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    def root(tag: String) = Files.createTempDirectory(s"keyedstore_old_$tag").toString + "/t"
    def kv(root: String) = KeyedStore.merge(
      (0L until 20L).map(i => (i, s"v$i", 0L)).toDF("k", "v", "seq"),
      root, keys = Seq("k"), seqCols = Seq("seq"), numBuckets = 4)
    def setMeta(root: String, content: String): Unit = {
      val f = KeyedStore.fs(s, root)
      val p = new org.apache.hadoop.fs.Path(root, "_graft_buckets")
      f.delete(p, false)
      val out = f.create(p, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    // (shape, hand-written old root, the operation that used to read
    // through, heal or degrade on it)
    val cases: Seq[(String, String, String => Unit)] = Seq(
      ("count-only meta with state", {
        val r = root("count"); kv(r); setMeta(r, "4"); r
      }, r => KeyedStore.readPruned(s, r, Seq(3L).toDF("k"))),
      ("count-only meta, merged into", {
        val r = root("countm"); kv(r); setMeta(r, "4"); r
      }, r => kv(r)),
      ("cols without types", {
        val r = root("cols"); kv(r); setMeta(r, "4\ncols:k"); r
      }, r => kv(r)),
      ("noted fold root without a note", {
        // an IncrementalHll root as folds wrote it before the manifest note
        val r = root("hll")
        KeyedStore.merge(Seq(("m", "", -1L, 0L, 11L, 0L, "put"))
            .toDF("kind", "g", "idx", "rank", "p", "ver", "op_type"),
          r, keys = Seq("kind", "g", "idx"), seqCols = Seq("rank"), numBuckets = 4)
        r
      }, r => IncrementalHll.mergeBatch(Seq(("a", 1L)).toDF("g", "u"), r,
        col("g"), col("u"), batchId = 1L)),
      ("Dedup root without op_type", {
        // a fingerprint store as dedupBatch wrote it before erasure existed
        val r = root("dedup")
        KeyedStore.merge(Seq(("x", 0L)).toDF("text", "batch_id")
            .select(graft.ext.TextStats.fingerprint(col("text")).as("fp"),
              col("batch_id")),
          r, keys = Seq("fp"), seqCols = Seq("batch_id"), bucketCols = Seq("fp"))
        r
      }, r => IncrementalDedup.dedupBatch(Seq((1L, "x")).toDF("id", "text"), r,
        graft.ext.TextStats.fingerprint(col("text")), col("id"), 1L)))
    cases.foreach { case (shape, r, op) =>
      val gen = KeyedStore.latestGeneration(s, r)
      val e = intercept[IllegalStateException](op(r))
      assert(e.getMessage.contains(r) && e.getMessage.contains("Rebuild the store"),
        s"$shape: ${e.getMessage}")
      assert(KeyedStore.latestGeneration(s, r) == gen, s"$shape: the store moved")
    }
  }

  test("meta replace survives a crash between delete and rename (__new recovery)") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("keyedstore_metarec").toString + "/t"
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val f = KeyedStore.fs(s, root)
    KeyedStore.merge(Seq((1L, "v", 0L)).toDF("k", "v", "seq"),
      root, keys = Seq("k"), seqCols = Seq("seq"), numBuckets = 8)
    // simulate the replaceMeta crash window: stage the new content at
    // __new, delete the live meta, crash before the final rename
    val metaPath = new org.apache.hadoop.fs.Path(rootPath, "_graft_buckets")
    val content = "8\ncols:k\ntypes:bigint"
    val out = f.create(new org.apache.hadoop.fs.Path(rootPath, "_graft_buckets__new"), true)
    out.write(content.getBytes("UTF-8")); out.close()
    f.delete(metaPath, false)
    // a READER resolves the store through __new WITHOUT promoting it — the
    // read path must not need write permission on the store directory
    val meta = KeyedStore.readMeta(f, rootPath)
    assert(meta.map(_.n).contains(8) && meta.map(_.cols).contains(Seq("k")))
    assert(!f.exists(metaPath) &&
      f.exists(new org.apache.hadoop.fs.Path(rootPath, "_graft_buckets__new")))
    // the next WRITER promotes __new back to the live meta name
    KeyedStore.merge(Seq((2L, "w", 1L)).toDF("k", "v", "seq"),
      root, keys = Seq("k"), seqCols = Seq("seq"), numBuckets = 8)
    assert(f.exists(metaPath) &&
      !f.exists(new org.apache.hadoop.fs.Path(rootPath, "_graft_buckets__new")))
    assert(KeyedStore.readMeta(f, rootPath).map(_.n).contains(8))
    assert(KeyedStore.read(s, root).get.count() == 2)
  }

  test("layout stamp: a store written under an older layout fails loudly and NAMED") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("keyedstore_layout").toString + "/t"
    // round-N code writes the store stamped 'demo-v1'
    KeyedStore.merge(Seq((1L, "a", 0L)).toDF("k", "v", "seq"),
      dir, keys = Seq("k"), seqCols = Seq("seq"), layoutId = Some("demo-v1"))
    // same stamp keeps working; unstamped tooling (compact/maintain path)
    // also keeps working
    KeyedStore.merge(Seq((2L, "b", 1L)).toDF("k", "v", "seq"),
      dir, keys = Seq("k"), seqCols = Seq("seq"), layoutId = Some("demo-v1"))
    KeyedStore.merge(Seq((3L, "c", 2L)).toDF("k", "v", "seq"),
      dir, keys = Seq("k"), seqCols = Seq("seq"))
    // round-(N+1) code whose layout changed must get the NAMED error with
    // the rebuild instruction — not a cryptic schema/bucketCols failure
    val e = intercept[IllegalStateException] {
      KeyedStore.merge(Seq((4L, "d", 3L, 9L)).toDF("k", "v", "seq", "extra"),
        dir, keys = Seq("k"), seqCols = Seq("seq"), layoutId = Some("demo-v2"))
    }
    assert(e.getMessage.contains("demo-v1") && e.getMessage.contains("demo-v2")
      && e.getMessage.contains("Rebuild"))
    assert(KeyedStore.read(s, dir).get.count() == 3, "failed merge must not land")
  }

  test("layout stamp: a PRE-STAMP store with committed state is rejected; an empty one adopts") {
    val s = spark
    import s.implicits._
    // pre-stamp fixture: committed state, meta has no layout line (what a
    // round-9 store looks like on disk)
    val old = Files.createTempDirectory("keyedstore_prestamp").toString + "/t"
    KeyedStore.merge(Seq((1L, "a", 0L)).toDF("k", "v", "seq"),
      old, keys = Seq("k"), seqCols = Seq("seq"))
    val e = intercept[IllegalStateException] {
      KeyedStore.merge(Seq((2L, "b", 1L)).toDF("k", "v", "seq"),
        old, keys = Seq("k"), seqCols = Seq("seq"), layoutId = Some("demo-v2"))
    }
    assert(e.getMessage.contains("predates layout stamping")
      && e.getMessage.contains("demo-v2"))
    // an EMPTY unstamped store (meta written, nothing committed — the
    // create-then-crash window) adopts the caller's stamp instead
    val fresh = Files.createTempDirectory("keyedstore_adopt").toString + "/t"
    KeyedStore.merge(Seq((1L, "a", 0L)).toDF("k", "v", "seq"),
      fresh, keys = Seq("k"), seqCols = Seq("seq"), layoutId = Some("demo-v3"))
    val f = KeyedStore.fs(s, fresh)
    assert(KeyedStore.readMeta(f, new org.apache.hadoop.fs.Path(fresh))
      .flatMap(_.layout).contains("demo-v3"))
  }

  test("merge conflict guards: staged + collided-stored predicates abort before publish") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("keyedstore_guard").toString + "/t"
    KeyedStore.merge(Seq((1L, 10L), (2L, 10L)).toDF("k", "ver"),
      dir, keys = Seq("k"), seqCols = Seq("ver"))
    // staged guard: a batch row failing its own invariant aborts
    val e1 = intercept[IllegalArgumentException] {
      KeyedStore.merge(Seq((3L, -1L)).toDF("k", "ver"),
        dir, keys = Seq("k"), seqCols = Seq("ver"),
        rejectStaged = Some((col("ver") < 0, "negative version")),
        rejectMsg = "guard demo")
    }
    assert(e1.getMessage.contains("guard demo")
      && e1.getMessage.contains("negative version"))
    // stored guard: a committed row colliding with the batch aborts —
    // and the store is untouched afterwards
    val e2 = intercept[IllegalArgumentException] {
      KeyedStore.merge(Seq((1L, 20L)).toDF("k", "ver"),
        dir, keys = Seq("k"), seqCols = Seq("ver"),
        rejectStored = Some((col("ver") < 20L, "stale committed row")),
        rejectMsg = "guard demo")
    }
    assert(e2.getMessage.contains("stale committed row"))
    assert(KeyedStore.read(s, dir).get.agg(max(col("ver"))).head().getLong(0)
      == 10L, "aborted merges must leave the committed view unchanged")
    // a NON-violating guarded merge lands normally
    KeyedStore.merge(Seq((1L, 30L)).toDF("k", "ver"),
      dir, keys = Seq("k"), seqCols = Seq("ver"),
      rejectStored = Some((col("ver") > 10L, "future row")))
    assert(KeyedStore.read(s, dir).get.agg(max(col("ver"))).head().getLong(0)
      == 30L)
  }

  test("compact dropTombstones is null-safe: NULL-op rows are LIVE and survive") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("keyedstore_nullop").toString + "/t"
    // rows whose op reads NULL (a pre-erasure file read through a unioned
    // schema, or a caller that never set op on puts) are LIVE per liveView;
    // the tombstone drop must agree — a bare =!= would silently drop them
    val rows = Seq(
      ("a", "v1", 1L, Option.empty[String]),
      ("b", "v1", 1L, Some("put")),
      ("c", "v1", 1L, Some("delete"))).toDF("k", "v", "seq", "op_type")
    KeyedStore.merge(rows, dir, keys = Seq("k"), seqCols = Seq("seq"),
      numBuckets = 4)
    KeyedStore.compact(s, dir, dropTombstones = true)
    val kept = KeyedStore.read(s, dir).get
      .select("k").collect().map(_.getString(0)).toSet
    assert(kept == Set("a", "b"),
      s"NULL-op live rows must survive the tombstone drop, kept: $kept")
  }

  test("readActive is null-safe: a NULL-op put is live") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("keyedstore_nullread").toString + "/t"
    KeyedStore.merge(Seq(
        ("a", 1L, Option.empty[String]), ("b", 1L, Some("put")),
        ("c", 1L, Some("delete"))).toDF("k", "seq", "op_type"),
      dir, keys = Seq("k"), seqCols = Seq("seq"), numBuckets = 4)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("k").collect().map(_.getString(0)).toSet
    assert(keys(KeyedStore.readActive(s, dir).get) == Set("a", "b"))
    // the frame-level view agrees with the path-level read
    assert(keys(KeyedStore.liveView(KeyedStore.read(s, dir).get)) == Set("a", "b"))
  }

  test("duplicate-generation commit twins: deterministic winner, whole-generation gc") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("keyedstore_twin").toString + "/t"
    def merge(rows: Seq[(String, Long)], keep: Int): Unit =
      KeyedStore.merge(rows.toDF("k", "seq"), dir, keys = Seq("k"),
        seqCols = Seq("seq"), numBuckets = 4, keepGenerations = keep)
    merge((0 until 8).map(i => (s"k$i", 1L)), 3)
    merge((0 until 8).map(i => (s"m$i", 2L)), 3)
    assert(KeyedStore.read(s, dir).get.count() == 16)

    // Forge a SAME-GENERATION twin of the latest commit (a violated
    // single-writer contract — nonce'd names make it representable):
    // name-maximal nonce so the forged twin must win the tie, content
    // missing the last bucket line so the winner is observable.
    val root = new org.apache.hadoop.fs.Path(dir)
    val f = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val commits = f.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("_graft_commit_g")).sorted
    val latest = commits.max
    val content = {
      val in = f.open(new org.apache.hadoop.fs.Path(root, latest))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val bucketLines = content.split("\n").filter(_.nonEmpty)
    assert(bucketLines.length >= 2, "need >= 2 buckets to drop one")
    val droppedDir = bucketLines.last.split(" ", 2)(1)
    val droppedRows = s.read.parquet(
      new org.apache.hadoop.fs.Path(root, droppedDir).toString).count()
    val gen = latest.stripPrefix("_graft_commit_g").takeWhile(_.isDigit)
    val twinName = s"_graft_commit_g${gen}_ffffffff"
    val out = f.create(new org.apache.hadoop.fs.Path(root, twinName), false)
    try out.write(bucketLines.dropRight(1).mkString("\n").getBytes("UTF-8"))
    finally out.close()

    // deterministic tie-break: every reader resolves the NAME-max twin,
    // never filesystem listing order
    assert(KeyedStore.read(s, dir).get.count() == 16 - droppedRows)

    // gc retains WHOLE generations: after the next merge, both twins of
    // the superseded generation survive (keepGenerations = 3), so the
    // bucket dir only the losing twin references is still pinned
    merge(Seq(("z9", 3L)), 3)
    val gens = KeyedStore.generations(s, dir)
    assert(gens.count(_ == gen.toLong) == 2,
      s"both twins of generation $gen must survive gc, got $gens")
    assert(f.exists(new org.apache.hadoop.fs.Path(root, droppedDir)),
      "a dir referenced only by the losing twin must be retained")
  }
}
