package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.ops.Windows
import graft.sources.Sources
import graft.streaming.UpsertSink

/** S1 end-to-end with a REAL streaming source (not MemoryStream): a
  * directory of GeoJSON-lines files stands in for the Kinesis stream
  * (reference StreamJobSqlTumbling.java:41–53 — the consumer hands the
  * job raw string records exactly like the text file source does).
  * Full pipeline: file source → parseGeoJson → 0-lateness watermark →
  * tumbling count → idempotent upsert; the converged store must equal
  * the batch answer over the same files.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def geojson(cls: String, iso: String): String =
    s"""{"type":"Feature","properties":{"RECEIVED_ON":"$iso","N02_001":"$cls",""" +
      s""""N02_002":"5","N02_003":"line","N02_004":"op","ID":"5_14","COUNT":17}}"""

  private def writeFile(dir: Path, name: String, lines: Seq[String]): Unit = {
    val tmp = dir.resolve(name + ".tmp")
    Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(name)) // atomic publish, like a real feed
  }

  test("kinesis option contract: exact keys per connector (S1 swap surface)") {
    // the awslabs spark-sql-kinesis-connector documents exactly these
    // namespaced option keys — if the map drifts, the documented
    // one-line production swap (StarterDemo) silently stops
    // configuring the stream
    assert(Sources.kinesisOptions("input", "us-east-1", "TRIM_HORIZON") ==
      Map(
        "kinesis.streamName" -> "input",
        "kinesis.region" -> "us-east-1",
        "kinesis.startingPosition" -> "TRIM_HORIZON"))
  }

  test("kinesis connector integration: real reader construction (env-gated, skips without the jar)") {
    // proves the documented one-line swap the moment a connector jar
    // appears on the classpath: the reader is built from the SAME
    // kinesisOptions contract the unit test above pins. In this
    // container no connector ships, so the test cancels cleanly — it
    // is NOT a pass, and it starts failing loudly the day the jar is
    // present but the wiring rots.
    val connectorPresent =
      try {
        org.apache.spark.sql.execution.datasources.DataSource
          .lookupDataSource("aws-kinesis", spark.sessionState.conf)
        true
      } catch { case _: Throwable => false }
    assume(connectorPresent, "aws-kinesis connector jar absent — skipping integration")
    val df = Sources.kinesis(spark, "graft-it", "us-east-1", "TRIM_HORIZON")
    assert(df.isStreaming, "connector must yield a streaming frame")
    assert(df.schema.fieldNames.nonEmpty)
  }

  test("GeoJSON file stream → tumbling counts → upsert converges to batch (S1)") {
    val dir = Files.createTempDirectory("graft_geojson_src")
    val ckpt = Files.createTempDirectory("graft_geojson_ckpt").toString
    DerbyTables.create("t_file_stream", DerbyTables.TumblingColumns)

    val batch1 = Seq(
      geojson("11", "2020-09-14T09:20:10.385001"),
      geojson("11", "2020-09-14T09:20:22.100000"),
      geojson("14", "2020-09-14T09:20:40.000000"))
    val batch2 = Seq(
      geojson("11", "2020-09-14T09:21:05.000000"),
      geojson("14", "2020-09-14T09:22:59.999999"),
      geojson("18", "2020-09-14T09:23:00.000000"))
    // late sentinel far in the future: pushes the watermark past every
    // window end so append mode emits all of them
    val flush = Seq(geojson("11", "2020-09-14T10:00:00.000000"))

    writeFile(dir, "part-000.json", batch1)
    val parsed = Ingest.parseGeoJson(Sources.geojsonLinesDir(spark, dir.toString))
    val q = Windows.tumblingCount(
        Ingest.withEventTime(parsed, "received_on"),
        $"received_on", $"railway_class", "1 minute")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch(UpsertSink.jdbcForeachBatchUpsert(DerbyTables.url, "t_file_stream",
        Seq("key", "window_start", "window_end")) _)
      .start()
    try {
      q.processAllAvailable()
      writeFile(dir, "part-001.json", batch2)
      q.processAllAvailable()
      writeFile(dir, "part-002.json", flush)
      q.processAllAvailable()

      val store = DerbyTables.windowCounts("t_file_stream")
      val batch = Windows.tumblingCount(
          Ingest.parseGeoJson((batch1 ++ batch2).toDF("value")),
          $"received_on", $"railway_class", "1 minute")
        .as[(String, Long, Timestamp, Timestamp)].collect()
        .map(r => (r._1, r._2, r._3)).toSet
      assert(store == batch)
      assert(store.nonEmpty)
    } finally q.stop()
  }
}
