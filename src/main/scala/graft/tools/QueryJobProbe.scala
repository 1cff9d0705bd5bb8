package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._

import graft.SparkEntry

/** Generic per-query job-attribution probe (optimization round 15, guide
  * §1/§7): runs named `SparkEntry.queries` twice (pass 1 absorbs JIT) and
  * prints, for each pass, the wall seconds, the number of Spark jobs the
  * query fired, the summed in-job wall (job submit → job end, overlaps not
  * de-duped — local mode runs bench queries' jobs sequentially), and the
  * derived DRIVER GAP (wall − in-job time: planning, FS metadata, commit
  * protocol, AQE stage scheduling latency between jobs).
  *
  * Env:
  *   SPARK_GRAFT_SF_DIR  data dir (default sf0.1)
  *   SPARK_GRAFT_CPUS    cores (default 32)
  *   SPARK_GRAFT_AQE     "0" disables AQE for the whole run (A/B lever)
  *   SPARK_GRAFT_CONF    extra session confs, "k=v;k=v" (A/B lever)
  *
  * Run: sbt -batch "runMain graft.tools.QueryJobProbe q_scd2_stream ..."
  */
object QueryJobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "1") != "0"
    val extra = sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(";")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
    // the production recipe (see GraftSession) so probe walls are the walls
    // the bench pays; SPARK_GRAFT_AQE=0 overrides its AQE setting
    val b0 = graft.GraftSession.builder(Some(s"local[$cpus]"), Some(cpus.toInt))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", aqe.toString)
    val spark = extra.foldLeft(b0) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger(0)
    val inJobMs = new AtomicLong(0)
    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val slow = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val name = j.stageInfos.sortBy(-_.numTasks).take(2)
          .map(s => s.name.takeWhile(_ != '\n').take(60) + s"[${s.numTasks}t]")
          .mkString("+")
        starts.put(j.jobId, (j.time, name))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(starts.remove(j.jobId)).foreach { case (t0, name) =>
          val d = j.time - t0
          inJobMs.addAndGet(d)
          if (d >= 200) slow.add(f"      job ${j.jobId}%-5d ${d / 1e3}%6.2f s  $name")
        }
      }
    })
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // whole-stage-codegen cache misses: classes compiled + Janino wall —
    // a fold chain whose per-fold plans differ only by a batchId literal
    // recompiles every stage per fold if literals end up inlined
    def codegen: (Long, Long) = {
      val m = org.apache.spark.metrics.source.CodegenMetrics
      (m.METRIC_SOURCE_CODE_SIZE.getCount,
        m.METRIC_COMPILATION_TIME.getCount *
          m.METRIC_COMPILATION_TIME.getSnapshot.getMean.toLong)
    }

    // same warm-up family as Bench so pass-1 numbers aren't pure JIT
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).collect()
    spark.range(100000).selectExpr("id % 97 as k", "id as v")
      .selectExpr("k", "row_number() over (partition by k order by v desc) as rn")
      .filter("rn <= 2").count()

    println(s"PROBE aqe=$aqe cpus=$cpus sf=$sfDir")
    // deterministic listener drain (ADVICE r15): spin until every job the
    // probe saw START has delivered its END event (the bus is async; a fixed
    // sleep could race a straggling job end into the next query), then one
    // settle beat for events not yet dequeued at all. listenerBus
    // .waitUntilEmpty is private[spark], hence the own-counter form.
    def drain(): Unit = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!starts.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      Thread.sleep(100)
    }
    for (pass <- 1 to 2; q <- args) {
      drain()
      val j0 = jobs.get(); val m0 = inJobMs.get(); val g0 = gcMs
      val (c0, ct0) = codegen
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      drain()
      val nj = jobs.get() - j0
      val inJob = (inJobMs.get() - m0) / 1e3
      val (c1, ct1) = codegen
      println(f"PROBE p$pass $q%-26s wall=$wall%7.2f s jobs=$nj%-4d " +
        f"inJob=$inJob%7.2f s gap=${wall - inJob}%7.2f s gc=${gcMs - g0}%5d ms " +
        f"cg=${c1 - c0}%-4d cgMs~${ct1 - ct0}%-6d rows=$n")
      if (pass == 2) { slow.forEach(println(_)) }
      slow.clear()
    }
    spark.stop()
  }
}
