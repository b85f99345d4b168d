package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.ops.Windows
import graft.sources.{GeoJsonGen, Sources}
import graft.streaming.StreamingJobs

/** StarterDemo end-to-end on the connector-free stand-in: the
  * generator's deterministic feed (G1, send.py parity) through the
  * reference's job dispatch (S1, Starter.java:31–42 parity) into the
  * JDBC upsert sink on embedded Derby, converging to the batch answer
  * over the same records.
  */
class DemoSpec extends SparkSpec {
  import spark.implicits._

  private val FeedStart = java.time.Instant.parse("2020-09-14T09:20:00Z").toEpochMilli

  test("generator feed is deterministic under a seed and parses cleanly") {
    val a = GeoJsonGen.features(seed = 7L, count = 50, startEpochMs = FeedStart)
    val b = GeoJsonGen.features(seed = 7L, count = 50, startEpochMs = FeedStart)
    assert(a == b)
    val c = GeoJsonGen.features(seed = 8L, count = 50, startEpochMs = FeedStart)
    assert(a != c)
    // every record must take the real parse path, never the fallback:
    // parse with an impossible fallback instant and check it is absent
    val parsed = Ingest.parseGeoJson(a.toDF("value"),
      fallback = lit("1970-01-01 00:00:00").cast("timestamp"))
    assert(parsed.filter(col("received_on") === lit("1970-01-01 00:00:00").cast("timestamp")).count() == 0)
    assert(parsed.filter(col("railway_class").isNull).count() == 0)
  }

  test("StarterDemo dispatch: tumbling job on the file feed converges to the batch answer") {
    val dir = Files.createTempDirectory("graft_demo_feed")
    val ckpt = Files.createTempDirectory("graft_demo_ckpt").toString
    // 120 records × 50 ms = 6 s of event time per window isn't enough
    // to close a 1-minute window, so spread them: 1.2 s steps → 2.4 min
    GeoJsonGen.writeFiles(dir, seed = 42L, count = 120, startEpochMs = FeedStart,
      linesPerFile = 40, stepMs = 1200L)

    val q = StarterDemo.start("StreamJobSqlTumbling",
      Sources.geojsonLinesDir(spark, dir.toString),
      interval = "1 minute", checkpointDir = ckpt, sinkTable = "demo_tumbling",
      jdbcUrl = DerbyTables.url)
    try q.processAllAvailable() finally q.stop()

    val lines = GeoJsonGen.features(seed = 42L, count = 120, startEpochMs = FeedStart, stepMs = 1200L)
    val batch = Windows.tumblingCount(
        Ingest.parseGeoJson(lines.toDF("value")),
        $"received_on", $"railway_class", "1 minute")
      .as[(String, Long, Timestamp, Timestamp)].collect()
      .map(r => (r._1, r._2, r._3)).toSet
    // append mode can only emit windows the watermark passed; every
    // emitted row must match batch exactly, and most windows must close
    val store = DerbyTables.windowCounts("demo_tumbling")
    assert(store.subsetOf(batch), s"store=$store\nbatch=$batch")
    assert(store.nonEmpty)
  }

  test("StarterDemo dispatch: sliding OVER job emits per-row trailing counts matching batch") {
    val dir = Files.createTempDirectory("graft_demo_feed_sl")
    val ckpt = Files.createTempDirectory("graft_demo_ckpt_sl").toString
    GeoJsonGen.writeFiles(dir, seed = 5L, count = 60, startEpochMs = FeedStart,
      linesPerFile = 60, stepMs = 1000L)

    val q = StarterDemo.start("StreamJobSqlSliding",
      Sources.geojsonLinesDir(spark, dir.toString),
      interval = "30 seconds", checkpointDir = ckpt, sinkTable = "demo_sliding",
      jdbcUrl = DerbyTables.url)
    try q.processAllAvailable() finally q.stop()

    // one file = one micro-batch = event-time-ordered processing, so
    // every row's trailing count matches the batch OVER exactly
    val lines = GeoJsonGen.features(seed = 5L, count = 60, startEpochMs = FeedStart, stepMs = 1000L)
    val parsed = Ingest.parseGeoJson(lines.toDF("value"))
    val batch = parsed
      .withColumn("trailing_cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("railway_class")
          .orderBy(col("received_on").cast("long"))
          .rangeBetween(-30, 0)))
      .select(col("railway_class"), col("received_on"), col("trailing_cnt"))
      .as[(String, Timestamp, Long)].collect().toSet
    val store = DerbyTables.rows("demo_sliding", "key", "ts", "trailing_cnt")
      .map(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Timestamp], r(2).asInstanceOf[Long]))
      .toSet
    assert(store == batch, s"store=$store\nbatch=$batch")
    assert(store.nonEmpty)
  }

  test("hopping and offset dispatch build the reference window shapes") {
    val lines = GeoJsonGen.features(seed = 3L, count = 40, startEpochMs = FeedStart, stepMs = 5000L)
    val hop = StarterDemo.buildJob("StreamJobSqlHopping", lines.toDF("value"), "2 minutes")
      .as[(String, Long, Timestamp, Timestamp, Timestamp)].collect()
    // slide = size/2 = 1 minute: every event lands in exactly 2 windows
    assert(hop.map(_._2).sum == 80)
    // HOP_ROWTIME parity: rowtime = window_end - 1 ms
    assert(hop.forall(r => r._4.getTime - r._5.getTime == 1L))

    val off = StarterDemo.buildJob("StreamJobTumblingOffset", lines.toDF("value"), "60 seconds")
      .as[(String, Long, Timestamp, Timestamp)].collect()
    assert(off.map(_._2).sum == 40)
    // 15-second alignment offset, the reference's TumblingEventTimeWindows.of(size, offset)
    assert(off.forall(r => r._3.getTime % 60000L == 15000L))
  }

  test("a one-second hopping job puts each event in two overlapping half-second-slide windows") {
    val lines = GeoJsonGen.features(seed = 3L, count = 40, startEpochMs = FeedStart, stepMs = 700L)
    val hop = StarterDemo.buildJob("StreamJobSqlHopping", lines.toDF("value"), "1 second")
      .as[(String, Long, Timestamp, Timestamp, Timestamp)].collect()
    assert(hop.map(_._2).sum == 80)
    assert(hop.forall(r => r._4.getTime - r._3.getTime == 1000L && r._3.getTime % 500L == 0L))
  }

  test("unknown job name is rejected like the reference's switch default") {
    for (name <- Seq("NoSuchJob", "StreamJobSingel")) {
      val build = intercept[IllegalArgumentException] {
        StarterDemo.buildJob(name, Seq("{}").toDF("value"), "1 minute")
      }
      val key = intercept[IllegalArgumentException](StarterDemo.upsertKey(name))
      assert(build.getMessage == s"unknown JOB_CLASS_NAME: $name")
      assert(key.getMessage == build.getMessage)
    }
  }

  test("StarterDemo.start creates the sink table from the job schema and writes the sliding job's key column") {
    val dir = Files.createTempDirectory("graft_demo_feed_ddl")
    GeoJsonGen.writeFiles(dir, seed = 9L, count = 20, startEpochMs = FeedStart,
      linesPerFile = 20, stepMs = 1000L)
    // two starts: the first creates the table, the restart finds it
    for (_ <- 1 to 2) {
      val ckpt = Files.createTempDirectory("graft_demo_ckpt_ddl").toString
      val q = StarterDemo.start("StreamJobSingle", Sources.geojsonLinesDir(spark, dir.toString),
        interval = "30 minutes", checkpointDir = ckpt, sinkTable = "demo_ddl",
        jdbcUrl = DerbyTables.url)
      try q.processAllAvailable() finally q.stop()
    }
    val conn = java.sql.DriverManager.getConnection(DerbyTables.url)
    try {
      val meta = conn.getMetaData
      val rs = meta.getColumns(null, conn.getSchema, "DEMO_DDL", null)
      val cols = Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getString("COLUMN_NAME") -> r.getString("TYPE_NAME")).toList
      assert(cols == List("KEY" -> "VARCHAR", "TS" -> "TIMESTAMP", "TRAILING_CNT" -> "BIGINT"))
      val pk = meta.getPrimaryKeys(null, conn.getSchema, "DEMO_DDL")
      val pkCols = Iterator.continually(pk).takeWhile(_.next())
        .map(r => r.getShort("KEY_SEQ") -> r.getString("COLUMN_NAME")).toList.sorted.map(_._2)
      assert(pkCols == List("KEY", "TS"))
    } finally conn.close()
    val rows = DerbyTables.rows("demo_ddl", "key", "ts", "trailing_cnt")
    assert(rows.size == 20) // 1-s steps: every event has its own (key, ts)
    assert(rows.map(_(2).asInstanceOf[Long]).sum >= 20L)
  }

  test("CLI flags parse into options; unknown flags and missing values are rejected") {
    assert(StarterDemo.parseArgs(Seq("--job", "StreamJobSingle", "--jdbc", "jdbc:derby:memory:x")) ==
      Map("--job" -> "StreamJobSingle", "--jdbc" -> "jdbc:derby:memory:x"))
    assert(StarterDemo.parseArgs(Nil) == Map.empty)
    for (bad <- Seq(
        Seq("--jbdc", "jdbc:derby:memory:x"), // mistyped flag
        Seq("--job"), // trailing flag without a value
        Seq("--jdbc", "--table", "t"), // flag followed by another flag
        Seq("StreamJobSingle"))) { // bare value
      intercept[IllegalArgumentException](StarterDemo.parseArgs(bad))
    }
  }

  test("month-based intervals are rejected at every interval entry point") {
    val raw = Seq("{}").toDF("value")
    val docs = spark.emptyDataset[StreamingJobs.BucketDoc]
    val sigs = spark.emptyDataset[StreamingJobs.SimhashDoc]
    val events = spark.emptyDataset[StreamingJobs.KeyedEvent]
    val cases: Seq[(String, () => Any, String)] = Seq(
      ("StarterDemo sliding interval", () => StarterDemo.buildJob("StreamJobSqlSliding", raw, "1 month"),
        "interval must be day-time"),
      ("StarterDemo hopping interval", () => StarterDemo.buildJob("StreamJobSqlHopping", raw, "1 month"),
        "interval must be day-time"),
      ("group-window size", () => StreamingJobs.windowCountStreaming(events, "1 month", "1 minute"),
        "window size must be day-time"),
      ("StarterDemo sub-second sliding interval",
        () => StarterDemo.buildJob("StreamJobSingle", raw, "1500 milliseconds"),
        "interval must be a whole number of seconds"),
      ("StarterDemo negative sliding interval",
        () => StarterDemo.buildJob("StreamJobSqlSliding", raw, "-1 minute"),
        "interval must be non-negative"),
      ("lsh retention", () => StreamingJobs.lshCandidatesStreaming(docs, retention = "1 month"),
        "retention must be day-time"),
      ("simhash retention", () => StreamingJobs.simhashCandidatesStreaming(sigs, retention = "1 month"),
        "retention must be day-time"),
      ("sliding evictIdleAfter", () => StreamingJobs.slidingCountStreaming(events, 60L, Some("1 month")),
        "evictIdleAfter must be day-time"),
      ("negative evictIdleAfter", () => StreamingJobs.slidingCountStreaming(events, 60L, Some("-1 hour")),
        "evictIdleAfter must be non-negative"))
    for ((name, call, message) <- cases) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(message), s"$name: ${e.getMessage}")
    }
  }
}
