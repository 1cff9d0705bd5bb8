package graft.streaming

import scala.concurrent.duration._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.streaming.IsNewFix.LogEvent

/** The keyed-state dispatcher: AUTO follows the session's state-store
  * provider (tws needs RocksDB), the explicit conf overrides, and the
  * auto-dispatched operator produces the pinned outputs end to end. */
class StateImplSpec extends SparkSpec {

  private def withConf[A](kvs: (String, Option[String])*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val provider = "spark.sql.streaming.stateStore.providerClass"
  private val impl = "spark.graft.state.impl"

  test("AUTO follows the provider; explicit conf wins; junk is refused") {
    withConf(provider -> None, impl -> None) {
      assert(!StateImpl.useTws(spark), "default provider has no tws support")
    }
    withConf(provider -> Some(StateImpl.RocksDbProvider), impl -> None) {
      assert(StateImpl.useTws(spark), "RocksDB provider should auto-select tws")
    }
    withConf(provider -> Some(StateImpl.RocksDbProvider), impl -> Some("fmgws")) {
      assert(!StateImpl.useTws(spark), "explicit fmgws must win over AUTO")
    }
    withConf(provider -> None, impl -> Some("tws")) {
      assert(StateImpl.useTws(spark), "explicit tws must win over AUTO")
    }
    withConf(provider -> None, impl -> Some("bogus")) {
      intercept[IllegalArgumentException] { StateImpl.useTws(spark) }
    }
  }

  test("auto-dispatched is_new repair runs the tws twin under RocksDB, pinned outputs") {
    val s = spark
    import s.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = s
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val d1 = 1700000000000L
    val d2 = d1 + 86400000L
    withConf(provider -> Some(StateImpl.RocksDbProvider), impl -> None) {
      val mem = MemoryStream[LogEvent]
      val q = IsNewFix.auto(mem.toDS()).writeStream
        .format("memory").queryName("isnew_auto_out").outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("auto_ckpt").toString)
        .start()
      try {
        Seq(
          Seq(LogEvent("A", "1", d1, 1), LogEvent("B", "0", d1, 2)),
          Seq(LogEvent("A", "1", d2, 3), LogEvent("C", "1", d2, 4))
        ).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        val got = s.table("isnew_auto_out").collect()
          .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("is_new_fixed")).toMap
        assert(got == Map(1L -> "1", 2L -> "0", 3L -> "0", 4L -> "1"))
      } finally q.stop()
    }
  }

  test("auto-dispatched TTL join picks the twin by provider and joins end to end") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def nodes(ds: org.apache.spark.sql.Dataset[_]): Seq[String] =
      ds.queryExecution.logical.collect { case p => p.nodeName }
    def autoJoin() = {
      val (l, r) = (MemoryStream[(Long, String)], MemoryStream[(Long, String)])
      (l, r, TtlState.ttlJoinAuto(l.toDS(), r.toDS(), ttl = 1.hour))
    }
    withConf(provider -> None, impl -> None) {
      val ops = nodes(autoJoin()._3)
      assert(ops.contains("FlatMapGroupsWithState") && !ops.contains("TransformWithState"), ops)
    }
    withConf(provider -> Some(StateImpl.RocksDbProvider), impl -> None) {
      val (left, right, joined) = autoJoin()
      assert(nodes(joined).contains("TransformWithState"), nodes(joined))
      // timer-driven queries re-trigger continuously (processAllAvailable
      // never settles), so poll the sink with a deadline as TtlStateTwsSpec does
      val q = joined.toDF("k", "l", "r").writeStream
        .format("memory").queryName("ttl_auto_out").outputMode("append")
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ttl_auto_ckpt").toString)
        .start()
      def rows = s.table("ttl_auto_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val want = Set((1L, "a", "x"), (2L, "b", "y"))
      try {
        left.addData((1L, "a"), (2L, "b"))
        right.addData((1L, "x"), (2L, "y"), (3L, "z"))
        val deadline = System.currentTimeMillis + 30000
        while (System.currentTimeMillis < deadline && rows != want) Thread.sleep(200)
        assert(rows == want)
      } finally q.stop()
    }
  }
}
