package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

/** Structured-Streaming envelope decoding and checkpointing (SURVEY.md
  * §2.1 S2/S3, §2.5 T1/T6).
  *
  * The reference's Kafka source and sink (`util/FlinkSourceUtil.java:29-61`,
  * `util/FlinkSinkUtil.java:20-31`) map to Spark's `kafka` format, which
  * needs the spark-sql-kafka connector jar; that jar is not part of the Spark
  * installation this project builds against, so no Kafka helper lives here.
  * Envelope decoding is tested through MemoryStream/file sources, which feed
  * every transform below exactly as a Kafka `value` column would.
  */
object Streams {

  /** Maxwell CDC envelope schema (`util/SQLUtil.java:27-38`). */
  val maxwellSchema: StructType = StructType(Seq(
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("type", StringType),
    StructField("data", MapType(StringType, StringType)),
    StructField("old", MapType(StringType, StringType)),
    StructField("ts", LongType)))

  /** Debezium/Flink-CDC config envelope (`dim/app/DimAPP.java:140-156`). */
  val debeziumSchema: StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("before", MapType(StringType, StringType)),
    StructField("after", MapType(StringType, StringType))))

  /** S3 — Maxwell envelope decode + event time + watermark
    * (`SQLUtil.getKafkaTopicDb:26-39`): PERMISSIVE `from_json` turns
    * unparseable rows into null structs (dropped by the P1 ETL filter), the
    * envelope's epoch-seconds `ts` becomes the event-time column, 5s bounded
    * out-of-order watermark (`SQLUtil.java:37`). */
  def decodeMaxwell(raw: DataFrame, watermark: String = "5 seconds"): DataFrame =
    raw.select(from_json(col("value"), maxwellSchema).as("m"))
      .select(col("m.*"))
      .withColumn("row_time", timestamp_seconds(col("ts")))
      .withWatermark("row_time", watermark)

  /** T6 — checkpointing harness (`base/BaseAPP.start:40-57`): every query gets
    * a checkpoint dir; trigger cadence plays the reference's 5s checkpoint
    * interval. */
  def withCheckpoint[T](w: DataStreamWriter[T], dir: String): DataStreamWriter[T] =
    w.option("checkpointLocation", dir)
}
