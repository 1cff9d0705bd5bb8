package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.model.Envelopes

/** T6 — checkpointed restart (`base/BaseAPP.start:40-57` exactly-once
  * posture): a stopped query restarted on the same checkpoint, attached
  * through `Streams.withCheckpoint`, must process
  * each input exactly once — the union of both runs' outputs equals the batch
  * result with no duplicates. */
class CheckpointRecoverySpec extends SparkSpec {

  test("restart from checkpoint neither drops nor duplicates rows") {
    val s = spark
    val in = Files.createTempDirectory("ck_in").toString
    val out = Files.createTempDirectory("ck_out").toString
    val ck = Files.createTempDirectory("ck_meta").toString

    val ev = Envelopes.events(s, sfDir())
      .select(col("event_id"), col("event_type"), expr("unix_millis(ts)").as("ts_ms"))
    val schema = ev.schema
    val (firstHalf, secondHalf) = (ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1))

    def runOnce(): Unit = {
      val w = s.readStream.schema(schema).parquet(in)
        .filter(col("event_type") =!= "error")
        .writeStream.format("parquet").option("path", out)
      val q = Streams.withCheckpoint(w, ck).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    firstHalf.write.mode("append").parquet(in)
    runOnce()                                  // run 1: first half
    secondHalf.write.mode("append").parquet(in)
    runOnce()                                  // run 2 (restart): only the delta

    val got = s.read.parquet(out).select("event_id").collect().map(_.getLong(0)).sorted
    val want = ev.filter(col("event_type") =!= "error")
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.length == want.length, s"${got.length} vs ${want.length} (dup or loss)")
    assert(got.sameElements(want))
  }
}
