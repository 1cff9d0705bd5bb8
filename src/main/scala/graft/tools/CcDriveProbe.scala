package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.Dedup

/** Stage-timing probe for the q_cc_stream drive — the round-14 adjudication
  * of the r13 bench flag (39.5 s vs a 12.6 s anchor on a 0.97×-median run).
  * Times each stage of the exact query composition separately, twice, so a
  * regression can be pinned to shingle-index build / pair join / per-fold
  * store cost / final read instead of a single opaque wall number.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *        sbt -batch "runMain graft.tools.CcDriveProbe"
  */
object CcDriveProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(Some(s"local[$cpus]"), Some(cpus.toInt))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          sites.add(j.stageInfos.map(_.name.takeWhile(_ != '\n'))
            .mkString("+"))
        }
      })
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }

    def t[A](name: String)(f: => A): A = {
      val j0 = jobs.get(); val g0 = gcMs
      val t0 = System.nanoTime()
      val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"PROBE $name%-28s $secs%8.2f s  jobs=${jobs.get() - j0}%-4d gc=${gcMs - g0}%5d ms")
      r
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))

    for (pass <- 1 to 2) {
      println(s"--- pass $pass ---")
      // fresh shingle index per pass (no CorpusCache) so the build cost is
      // visible instead of memoized away
      val idx = t("shingle-index-build") {
        val i = new Dedup.SharedIndex(docs, col("doc_id"), col("text"))
        i.shingles.count()
        i
      }
      val pairs = t("ngram-jaccard-pairs") {
        Dedup.ngramJaccardPairs(idx.shingles, 1, 2)
          .select(col("a_id"), col("b_id")).localCheckpoint(true)
      }
      val root = java.nio.file.Files.createTempDirectory("graft_cc_probe")
      var out: DataFrame = null
      for (i <- 0 until 3)
        out = t(s"fold-$i") {
          if (i == 1 && pass == 2) sites.clear()
          val o = graft.streaming.IncrementalCc.mergePairs(
            pairs.filter((col("a_id") + col("b_id")) % 3 === i), s"$root/cc")
          o.count()
          if (i == 1 && pass == 2) {
            Thread.sleep(500)
            sites.toArray(Array.empty[String]).zipWithIndex
              .foreach { case (s, k) => println(f"SITE $k%3d $s") }
          }
          o
        }
      t("final-orderBy-read") {
        out.orderBy(col("doc_id")).localCheckpoint(true).count()
      }
      // how much of a fold is the components loop itself, vs the store
      // machinery around it: run the batch CC over one spine's pairs
      t("cc-loop-only") {
        Dedup.connectedComponents(
          pairs.filter((col("a_id") + col("b_id")) % 3 === 1)).count()
      }
      graft.util.Tmp.deleteRecursively(root)
      graft.util.Blocks.freeCheckpoint(pairs)
      idx.release()
    }
    spark.stop()
  }
}
