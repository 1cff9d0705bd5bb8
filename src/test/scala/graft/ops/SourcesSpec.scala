package graft.ops

import graft.SparkSpec

/** S5/K6 — JDBC source and sink helpers (`util/JdbcUtil.java:65-67`, the
  * Doris stand-in sink), run against an in-memory embedded Derby database. */
class SourcesSpec extends SparkSpec {

  test("snake_case column names map to the reference's camelCase POJO fields") {
    assert(Sources.snakeToCamel("source_table") == "sourceTable")
    assert(Sources.snakeToCamel("sink_row_key") == "sinkRowKey")
    assert(Sources.snakeToCamel("plain") == "plain")
    val s = spark
    import s.implicits._
    val df = Seq(("a", "b")).toDF("source_table", "sink_row_key")
    assert(Sources.renameSnakeToCamel(df).columns.toSeq == Seq("sourceTable", "sinkRowKey"))
  }

  test("jdbcSink then jdbcTable round-trips a frame through in-memory Derby") {
    val s = spark
    import s.implicits._
    // Derby writes its boot log into the working directory unless told
    // otherwise; read at engine boot, so set before the first connection
    val logDir = java.nio.file.Files.createTempDirectory("derby")
    System.setProperty("derby.stream.error.file", logDir.resolve("derby.log").toString)
    val db = "jdbc:derby:memory:graft_sources"
    val rows = Seq(("1001", "phone", 3L, 2.5), ("1002", "laptop", 1L, 10.0))
    try {
      Sources.jdbcSink(rows.toDF("sku_id", "sku_name", "order_ct", "order_amount"),
        db + ";create=true", "dws_sku", "app", "app")
      val back = Sources.renameSnakeToCamel(
        Sources.jdbcTable(s, db, "dws_sku", "app", "app"))
      assert(back.columns.toSeq == Seq("skuId", "skuName", "orderCt", "orderAmount"))
      assert(back.as[(String, String, Long, Double)].collect().sortBy(_._1).toSeq == rows)
    } finally {
      // dropping an in-memory database reports success as an SQLException
      try java.sql.DriverManager.getConnection(db + ";drop=true")
      catch { case _: java.sql.SQLException => () }
    }
  }
}
