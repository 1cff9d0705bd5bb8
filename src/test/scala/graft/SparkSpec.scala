package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (tests fork one JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir(sf: String = "sf0.001"): String = s"/root/testdata/$sf"

  /** Call sites of the Spark jobs started while running `body`, one entry
    * per job: its stage names joined by "+", then — for a job that runs
    * inside a Dataset action — " @ " and that action's call site (adaptive
    * execution names its stages after its own thread pool, so the action's
    * site is the one that points at engine code). Job-start events are
    * posted at submission, inside the blocking actions `body` runs; the
    * async listener bus is then drained DETERMINISTICALLY — a fixed sleep
    * is flaky on a loaded box (late-posted events undercount or leak into
    * the next measurement). waitUntilEmpty is private[spark] in Scala but
    * public bytecode, so reflect. */
  def jobSitesDuring(body: => Unit): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val actions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            actions.put(s.executionId.toString, s.description)
          case _ =>
        }
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val action = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(actions.get(id)))
        sites.add(j.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString("+") +
          action.map(" @ " + _.takeWhile(_ != '\n')).getOrElse(""))
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(30000L))
    } finally spark.sparkContext.removeSparkListener(l)
    sites.toArray(Array.empty[String]).toSeq
  }

  /** Poll a memory-sink streaming query until `table` holds at least
    * `atLeast` rows or the deadline passes: watermark-driven emission lands
    * in the batch AFTER the watermark advances, so a single
    * processAllAvailable is not enough. */
  def drainSink(q: org.apache.spark.sql.streaming.StreamingQuery,
      table: String, atLeast: Int,
      timeoutMs: Long = 30000): Array[org.apache.spark.sql.Row] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var got = spark.table(table).collect()
    while (got.length < atLeast && System.currentTimeMillis() < deadline) {
      q.processAllAvailable()
      got = spark.table(table).collect()
      if (got.length < atLeast) Thread.sleep(100)
    }
    got
  }
}

object SparkSpec {
  /** Built through the engine's own recipe, so the plans and the local
    * FileSystem the suite exercises are the ones the engine ships with. */
  lazy val session: SparkSession = GraftSession.builder(Some("local[4]"), Some(4))
    .appName("graft-tests")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
