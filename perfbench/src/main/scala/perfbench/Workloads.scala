package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.dim.DimRouter
import graft.model.Envelopes
import graft.ops.{Joins, Project, Stateful}
import graft.streaming.{DimCache, IncrementalHll, KeyedStore, Streams, TxnSink}

/** What every workload gets: the session, the tracer, the generated inputs
  * (read-only), a fresh work root for its stores, and whether the expected
  * side of each correctness gate is deliberately corrupted (self-test). */
final case class Ctx(spark: SparkSession, tr: Tracer, input: String,
    work: String, corrupt: Boolean)

/** A closed-loop workload. `setup` runs before the timed window; each `op`
  * is timed on its own and returns the input rows it completed; `check` and
  * `finalCheck` are correctness gates run outside the timed ops. */
trait Workload {
  def setup(): Unit
  def hasOp(i: Int): Boolean
  def op(i: Int): Long
  def check(i: Int): Boolean = true
  def finalCheck(): Boolean = true
  /** Name and family of op `i`, for per-query checks and breakdowns. */
  def name(i: Int): String = ""
  def family(i: Int): String = ""
  /** Whether the run may stop after op `i`: runs end on whole passes (a
    * fixed number of batches, or the query list), so every run covers the
    * same ops whatever the machine's speed. */
  def boundary(i: Int): Boolean = true
  /** Trace counters read after op `i`, outside its timed window. */
  def traceCounters(i: Int): Unit = ()
  /** Store roots whose files and live rows the trace reports. */
  def stores: Seq[String] = Nil
  /** Failures per named gate, for the self-test's report. */
  val gateFailures = scala.collection.mutable.Map.empty[String, Int]
  protected def gate(name: String, ok: Boolean): Boolean = {
    gateFailures(name) = gateFailures.getOrElse(name, 0) + (if (ok) 0 else 1)
    ok
  }
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "cdc_ingest" => new CdcIngest(c)
    case "batch_query" => new BatchQuery(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Multiset equality of two frames with the same columns. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** The self-test's corruption of an expected result: one row missing. */
  def dropOne(df: DataFrame): DataFrame = df.exceptAll(df.limit(1))

  def sortedStrings(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  def dirBytesAndFiles(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0L, 0L)
    val it = fs.listFiles(p, true)
    var bytes = 0L
    var files = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { bytes += f.getLen; files += 1 }
    }
    (bytes, files)
  }
}

/** The reference's real-time path, one Maxwell micro-batch per op: decode,
  * route into the DIM stores, build and commit the DWD cart-add facts (with
  * a broadcast dictionary lookup), fold the DWS cart-add unique users, and
  * enrich the facts with the sku dim through a [[DimCache]] over a
  * [[KeyedStore]], the reference's Redis-cached HBase lookup. Every few
  * batches a sku dim update is merged into that store first. */
final class CdcIngest(c: Ctx) extends Workload {
  import c._
  private val cdcDir = s"$input/cdc"
  private val dimRoot = s"$work/dim"
  private val dwdOut = s"$work/dwd_trade_cart_add"
  private val hllPath = s"$work/dws_cart_add_uu"
  private val skuPath = s"$work/dim_sku"
  private val shape = Shape.read(input)
  private val updateEvery = shape.int("sku_update_every")
  private val passBatches = shape.int("pass_batches")
  private var config: DataFrame = _
  private var dic: DataFrame = _
  private var cache: DimCache = _
  private var done = 0 // batches consumed so far
  private var lastEnriched: Array[Row] = Array.empty
  private def batchFile(i: Int) = f"$cdcDir/batch_$i%04d.json"
  private val enrichedCols = Seq("id", "user_id", "sku_id", "sku_num", "ts",
    "payment_name", "sku_name", "brand", "price", "version")

  private def decode(paths: String*): DataFrame =
    Streams.decodeMaxwell(spark.read.text(paths: _*))

  /** DWD cart-add: increase-only cart rows with the payment status name from
    * the broadcast dictionary. Lazy. */
  private def dwd(decoded: DataFrame): DataFrame = {
    val cart = Project.cartIncreaseOnly(
        Project.routeFilter(decoded, "cart_info", Seq("insert", "update")))
      .select(element_at(col("data"), "id").as("id"),
        element_at(col("data"), "user_id").as("user_id"),
        element_at(col("data"), "sku_id").as("sku_id"),
        Project.cartAddDelta.as("sku_num"), col("ts"),
        element_at(col("data"), "payment_status").as("payment_status"))
    Joins.lookup(cart, dic, col("payment_status") === col("dic_code"))
      .select(col("id"), col("user_id"), col("sku_id"), col("sku_num"),
        col("ts"), col("dic_name").as("payment_name"))
  }
  private val hllGroup = date_format(timestamp_seconds(col("ts")), "yyyy")

  private def mergeSku(df: DataFrame): Unit =
    KeyedStore.merge(df.withColumn("op_type", lit("put")), skuPath,
      keys = Seq("sku_key"), seqCols = Seq("version"),
      numBuckets = shape.int("sku_buckets"))

  override def stores: Seq[String] =
    Seq("dim_cart_info", "dim_user_info").map(t => s"$dimRoot/$t") :+ hllPath :+ skuPath

  def setup(): Unit = {
    config = Envelopes.configDim(spark)
    dic = spark.read.parquet(s"$cdcDir/base_dic.parquet").cache()
    dic.count()
    DimRouter.applyBatch(decode(s"$cdcDir/bootstrap.json"), config, dimRoot)
    mergeSku(spark.read.parquet(s"$input/part.parquet")
      .select(col("p_partkey").as("sku_key"), col("p_name").as("sku_name"),
        col("p_brand").as("brand"), col("p_retailprice").as("price"),
        lit(0L).as("version")))
    cache = new DimCache(skuPath, Seq("sku_key"), maxCachedBuckets = shape.int("cache_cap"))
  }

  def hasOp(i: Int): Boolean = Files.exists(Paths.get(batchFile(i)))
  override def boundary(i: Int): Boolean = (i + 1) % passBatches == 0

  def op(i: Int): Long = {
    done = i + 1
    // decode and pin the batch once; every later step reads the pinned rows
    val (decoded, rows) = tr.span("model.decode") {
      val d = decode(batchFile(i)).persist()
      (d, d.count())
    }
    tr.count("model.rows", rows.toDouble)
    val tables = tr.span("dim.apply") { DimRouter.applyBatch(decoded, config, dimRoot) }
    tr.count("dim.tables", tables.size.toDouble)
    val facts = tr.span("ops.plan") { dwd(decoded) }
    tr.span("streaming.txnsink.commit") { TxnSink.commitBatch(facts, dwdOut, i.toLong) }
    val regs = tr.span("streaming.hll.fold") {
      IncrementalHll.mergeBatch(facts, hllPath, hllGroup, col("user_id"), batchId = i.toLong)
    }
    graft.util.Blocks.freeCheckpoint(regs)
    if (i % updateEvery == updateEvery - 1) {
      val upd = f"$cdcDir/sku_updates_${i / updateEvery}%04d.parquet"
      tr.span("streaming.keyedstore.merge") { mergeSku(spark.read.parquet(upd)) }
    }
    val (h0, m0, r0) = (cache.hits.get, cache.misses.get, cache.refreshes.get)
    lastEnriched = tr.span("streaming.dimcache.lookup") {
      cache.lookupJoin(facts, Seq(col("sku_id")), "left_outer")
        .select(enrichedCols.map(col): _*).collect()
    }
    tr.count("dimcache.hits", (cache.hits.get - h0).toDouble)
    tr.count("dimcache.misses", (cache.misses.get - m0).toDouble)
    tr.count("dimcache.refreshes", (cache.refreshes.get - r0).toDouble)
    decoded.unpersist()
    rows
  }

  /** The cached enrichment equals a plain join against the sku store's live
    * rows (no merge runs between the op and this check). */
  override def traceCounters(i: Int): Unit =
    tr.count("streaming.txnsink.bytes",
      Workload.dirBytesAndFiles(spark, s"$dwdOut/batch=$i")._1.toDouble)

  override def check(i: Int): Boolean = {
    val sku = KeyedStore.readActive(spark, skuPath).get.drop("op_type")
    val facts = dwd(decode(batchFile(i)))
    val exp0 = facts.join(sku, facts("sku_id").cast("long") === sku("sku_key"), "left_outer")
      .select(enrichedCols.map(col): _*)
    val expected = (if (corrupt) Workload.dropOne(exp0) else exp0).collect()
    gate("sku_lookup", Workload.sortedStrings(expected) == Workload.sortedStrings(lastEnriched))
  }

  /** Final stores, committed facts and sketch registers equal the batch
    * operators over the whole row multiset. */
  override def finalCheck(): Boolean = {
    val files = (0 until done).map(batchFile)
    val all = decode(files: _*)
    val withBoot = decode(files :+ s"$cdcDir/bootstrap.json": _*)
    val fix: DataFrame => DataFrame = if (corrupt) Workload.dropOne else identity
    val routed = DimRouter.route(withBoot, config)
    val winners = Stateful.lastWriteWins(routed, Seq(col("sink_table"), col("row_key")),
        Seq(col("ts"), col("op_type"), col("payload")))
      .filter(col("op_type") =!= "delete")
    val cols = Seq("row_key", "op_type", "ts", "payload")
    val tables = winners.select("sink_table").distinct().collect().map(_.getString(0))
    val dimsOk = gate("dims", tables.forall { t =>
      KeyedStore.readActive(spark, s"$dimRoot/$t").exists { stored =>
        Workload.sameRows(stored.select(cols.map(col): _*),
          fix(winners.filter(col("sink_table") === t).select(cols.map(col): _*)))
      }
    })
    val dwdOk = gate("dwd", TxnSink.read(spark, dwdOut).exists(got =>
      Workload.sameRows(got.select(dwd(all).columns.map(col): _*), fix(dwd(all)))))
    val expRegs = graft.ext.Profile.hllRegisters(
        dwd(all).select(hllGroup.cast("string").as("g"), col("user_id").as("__val")),
        Seq("g"), col("__val"))
      .select(col("g"), col("idx"), col("rank"))
    val hllOk = gate("hll",
      Workload.sameRows(IncrementalHll.readRegisters(spark, hllPath), fix(expRegs)))
    dimsOk && dwdOk && hllOk
  }
}

/** A seeded-order, read-only mix of `SparkEntry.queries`, run in whole
  * passes over the query list (`queries.txt` holds the passes in order).
  * Every later run of a query must return the same rows as its first; the
  * first results are written out after the timed ops for the DuckDB
  * oracle. */
final class BatchQuery(c: Ctx) extends Workload {
  import c._
  private var order: IndexedSeq[(String, String)] = IndexedSeq.empty
  private var passLen = 1
  private val digests = scala.collection.mutable.Map.empty[String, Int]
  private val firsts = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
  private var last: (String, DataFrame, Array[Row]) = _

  def setup(): Unit = {
    order = Files.readAllLines(Paths.get(s"$input/queries.txt")).asScala
      .filter(_.nonEmpty).map { l => val Array(q, f) = l.split(" "); (q, f) }
      .toIndexedSeq
    val missing = order.map(_._1).filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    passLen = order.map(_._1).distinct.size
  }

  def hasOp(i: Int): Boolean = i < order.size
  override def name(i: Int): String = order(i)._1
  override def family(i: Int): String = order(i)._2
  override def boundary(i: Int): Boolean = (i + 1) % passLen == 0

  def op(i: Int): Long = {
    val (name, fam) = order(i)
    val df = tr.span("queries.plan", fam) {
      val d = SparkEntry.queries(name)(spark, input)
      d.queryExecution.executedPlan
      d
    }
    val rows = tr.span("queries.exec", fam) { df.collect() }
    last = (name, df, rows)
    rows.length.toLong
  }

  /** A digest comparison only, so that the gate costs next to nothing
    * between timed ops. */
  override def check(i: Int): Boolean = {
    val (name, df, rows) = last
    val h = Workload.sortedStrings(rows).hashCode
    digests.get(name) match {
      case Some(d) => gate("repeat", d == h)
      case None =>
        // the self-test corrupts the remembered result, so repeats must fail
        digests(name) = if (corrupt) h + 1 else h
        firsts(name) = spark.createDataFrame(rows.toSeq.asJava, df.schema)
        true
    }
  }

  /** The first result of each query that ran, and its oracle statement,
    * for the DuckDB gate. */
  override def finalCheck(): Boolean = {
    firsts.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$work/results/$name")
    }
    Files.writeString(Paths.get(s"$work/results/oracle_sql.json"),
      Json.value(SparkEntry.oracleSql.filter { case (k, _) => firsts.contains(k) }))
    true
  }
}

/** The generator's `shape.json`, read for the few numbers the program
  * needs (bucket count, cache cap, update cadence). */
final case class Shape(raw: String) {
  def int(key: String): Int = {
    val m = ("\"" + key + "\":\\s*(\\d+)").r.findFirstMatchIn(raw)
      .getOrElse(throw new IllegalArgumentException(s"shape.json has no $key"))
    m.group(1).toInt
  }
}
object Shape {
  def read(input: String): Shape = Shape(Files.readString(Paths.get(s"$input/shape.json")))
}
