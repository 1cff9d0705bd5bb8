package graft

import org.apache.spark.sql.SparkSession

/** One-stop session builder for library users: every setting the engine's
  * operators assume (UTC semantics, AQE, the `graft_dot` SQL function, the
  * nanos-timestamp workaround for this corpus). Mirrors the reference's
  * `BaseAPP.start` env setup (`base/BaseAPP.java:26-73`) as configuration
  * instead of a base class.
  *
  * Cluster-friendly: master and shuffle width are only set when explicitly
  * requested — a spark-submit'd job keeps its `--master` and cluster-sized
  * `spark.sql.shuffle.partitions`.
  */
object GraftSession {

  def builder(master: Option[String] = None,
      shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // generated-class cache (static conf, default 100): a store-fold
      // chain alone compiles 100+ classes, so the default evicts before any
      // cross-fold reuse and every fold re-runs Janino on identical source.
      // Scale-independent JVM tuning (keyed by source, not data width);
      // measured r16: q_scd2_stream 13.0 -> 8.2 s steady.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // file:// through graft.util.LocalFs: the same checksummed local
      // FileSystem, but permissions are set in-process instead of by a
      // forked `chmod` per created file and directory when libhadoop is absent
      .config("spark.hadoop.fs.file.impl", classOf[graft.util.LocalFs].getName)
    val withMaster = master.fold(b)(b.master)
    shufflePartitions.fold(withMaster)(p =>
      withMaster.config("spark.sql.shuffle.partitions", p.toString))
  }
}
