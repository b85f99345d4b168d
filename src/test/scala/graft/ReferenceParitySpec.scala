package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.ops.Windows
import graft.streaming.UpsertSink

/** The reference's flagship pipeline end-to-end on its own wire format:
  * GeoJSON Feature strings (FIXTURES.md §1, reference send.py:8–22) →
  * `from_json` projection → event-time watermark → 1-minute tumbling
  * count per railway class → idempotent upsert keyed on
  * (class, window_start, window_end) — the full
  * StreamJobSqlTumbling.java:100–177 shape, streaming and batch, with
  * the converged store checked against the batch answer (the
  * reference's own observable contract is the upserted table,
  * SURVEY.md §1.4).
  */
class ReferenceParitySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic stand-in for send.py: railway classes '11'..'18',
    * ISO timestamps with microseconds. */
  private def geojson(cls: String, iso: String): String =
    s"""{"type":"Feature","properties":{"RECEIVED_ON":"$iso","N02_001":"$cls",""" +
      s""""N02_002":"5","N02_003":"line","N02_004":"op","ID":"5_14","COUNT":17}}"""

  private val wire: Seq[String] = Seq(
    geojson("11", "2020-09-14T09:20:10.385001"),
    geojson("11", "2020-09-14T09:20:22.100000"),
    geojson("14", "2020-09-14T09:20:40.000000"),
    geojson("11", "2020-09-14T09:21:05.000000"),
    geojson("14", "2020-09-14T09:22:59.999999"),
    geojson("18", "2020-09-14T09:23:00.000000"))

  test("flagship pipeline: GeoJSON wire → windowed counts, batch == expected") {
    val parsed = Ingest.parseGeoJson(wire.toDF("value"))
    val out = Windows.tumblingCount(parsed, $"received_on", $"railway_class", "1 minute")
      .select($"key", $"cnt", $"window_start")
      .as[(String, Long, Timestamp)].collect().toSet
    assert(out == Set(
      ("11", 2L, Timestamp.valueOf("2020-09-14 09:20:00")),
      ("14", 1L, Timestamp.valueOf("2020-09-14 09:20:00")),
      ("11", 1L, Timestamp.valueOf("2020-09-14 09:21:00")),
      ("14", 1L, Timestamp.valueOf("2020-09-14 09:22:00")),
      ("18", 1L, Timestamp.valueOf("2020-09-14 09:23:00"))))
  }

  test("flagship pipeline streaming: converged upsert store == batch result") {
    implicit val sql = spark.sqlContext
    DerbyTables.create("rail_tumbling", DerbyTables.TumblingColumns)
    val in = MemoryStream[String]
    val pipeline = Windows.tumblingCount(
      Ingest.withEventTime(Ingest.parseGeoJson(in.toDF().toDF("value")), "received_on"),
      $"received_on", $"railway_class", "1 minute")
    val q = pipeline.writeStream.outputMode("append")
      .foreachBatch(UpsertSink.jdbcForeachBatchUpsert(DerbyTables.url, "rail_tumbling",
        Seq("key", "window_start", "window_end")) _)
      .start()
    try {
      val (b1, b2) = wire.splitAt(3)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      // push the watermark past every window end so all windows emit
      in.addData(geojson("11", "2020-09-14T10:00:00.000000")); q.processAllAvailable()
      val store = DerbyTables.windowCounts("rail_tumbling")
      val batch = Windows.tumblingCount(
          Ingest.parseGeoJson(wire.toDF("value")), $"received_on", $"railway_class", "1 minute")
        .as[(String, Long, Timestamp, Timestamp)].collect()
        .map(r => (r._1, r._2, r._3)).toSet
      assert(store == batch)
    } finally q.stop()
  }
}
