package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The one skeleton every store-backed `Incremental*` fold runs on — the
  * keyed-state split of Flink's state backend (one snapshot/restore path;
  * operators supply only their state transitions) over [[KeyedStore]]:
  *
  *  - [[live]] / [[livePruned]]: the committed LIVE rows of one `kind`
  *    (the one [[KeyedStore.isLive]] predicate), projected to the fold's
  *    columns — or an empty frame of that schema on a fresh root;
  *  - [[pin]]: the fold's identity parameters checked against the
  *    manifest note (zero Spark jobs);
  *  - [[replayed]]: the replay high-water-mark test on that note;
  *  - [[commit]]: the fold's one merge, its note carrying identity + `ver`
  *    + the fold's running scalars.
  *
  * Folds write no meta rows: the note rides every merge's manifest, and a
  * merge with an empty batch still commits it, so an all-evicted or
  * no-change fold keeps its identity and high-water mark. A leftover
  * `kind = "m"` row in an older root is inert — every read here selects
  * its own kind. */
private[streaming] object StoreFold {

  /** Committed live rows of `kind` (every row when None) at `path`,
    * projected to `ddl`'s columns; an empty frame of `ddl` on a fresh
    * root. Lazy — callers pin as their fold needs. */
  def live(spark: SparkSession, path: String, ddl: String,
      kind: Option[String] = Some("v")): DataFrame =
    project(spark, path, KeyedStore.readActive(spark, path), ddl, kind, None)

  /** [[live]] over only the buckets `probe`'s key values hash into
    * ([[KeyedStore.readPruned]]). `layout` names the store layout in the
    * rebuild error an older row shape fails with. */
  def livePruned(spark: SparkSession, path: String, probe: DataFrame,
      ddl: String, kind: Option[String] = Some("v"),
      layout: Option[String] = None): DataFrame =
    project(spark, path,
      KeyedStore.readPruned(spark, path, probe).map(KeyedStore.active(_)),
      ddl, kind, layout)

  private def project(spark: SparkSession, path: String,
      stored: Option[DataFrame], ddl: String, kind: Option[String],
      layout: Option[String]): DataFrame = {
    val schema = StructType.fromDDL(ddl)
    stored.map { df =>
      val missing = (kind.map(_ => "kind") ++ schema.fieldNames)
        .filterNot(df.columns.contains)
      if (missing.nonEmpty)
        throw KeyedStore.rebuildError(path, s"holds rows without the " +
          s"column(s) ${missing.mkString(", ")} this fold reads" +
          layout.fold("")(l => s" — it predates store layout '$l'"))
      kind.fold(df)(k => df.filter(col("kind") === k))
        .select(schema.fieldNames.map(col): _*)
    }.getOrElse(empty(spark, ddl))
  }

  /** The empty frame of `ddl` — what a fold reads from a fresh root. */
  def empty(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType.fromDDL(ddl))

  /** The decoded note at `path` after checking the fold's `identity`
    * pairs against it (None on a fresh root). A mismatch throws naming
    * the store, both values and the word "identity": mixing parameters
    * would silently corrupt the stored state. */
  def pin(spark: SparkSession, path: String, what: String,
      identity: (String, Any)*): Option[Map[String, String]] = {
    val note = KeyedStore.readFoldNote(spark, path)
    note.foreach { n =>
      def show(vs: Seq[(String, Any)]) =
        vs.map { case (k, v) => s"$k=$v" }.mkString("(", ", ", ")")
      val stored = identity.map { case (k, _) => k -> n.getOrElse(k, "?") }
      if (stored != identity.map { case (k, v) => k -> v.toString })
        throw new IllegalArgumentException(s"store $path holds a $what " +
          s"${show(stored)}; the fold passed ${show(identity)} — those " +
          "parameters are the store's identity")
    }
    note
  }

  /** True when `batchId` is at or below the note's high-water mark `key`
    * — the fold already committed it, so the current state IS the
    * post-batch state and the store must not be touched. */
  def replayed(note: Option[Map[String, String]], batchId: Long,
      key: String = "ver"): Boolean =
    note.exists(n => batchId <= n(key).toLong)

  /** The fold's one merge: `rows` upsert last-write-wins on `keys` by
    * `seqCols`, and the manifest note (identity, high-water mark, running
    * scalars) commits atomically with them — also for an empty `rows`. */
  def commit(rows: DataFrame, path: String, keys: Seq[String],
      numBuckets: Int, note: Seq[(String, Any)],
      seqCols: Seq[String] = Seq("ver"), bucketCols: Seq[String] = Nil,
      layoutId: Option[String] = None): Unit =
    KeyedStore.merge(rows, path, keys, seqCols, numBuckets,
      bucketCols = bucketCols, layoutId = layoutId,
      note = Some(KeyedStore.Note.encode(
        note.map { case (k, v) => k -> v.toString }: _*)))
}
