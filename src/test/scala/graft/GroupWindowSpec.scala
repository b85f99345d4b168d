package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.ingest.Ingest
import graft.ops.Windows
import graft.sources.{GeoJsonGen, Sources}
import graft.streaming.StreamingJobs.{KeyedEvent, windowCountStreaming}
import graft.streaming.UpsertSink

/** The streaming tumbling and hopping jobs through
  * [[graft.streaming.StreamingJobs.windowCountStreaming]]: the windows
  * of Spark's `window()`, each written in the micro-batch that closes
  * it, with the late-row, restart and replay outcomes pinned against
  * the Catalyst window aggregate that batch frames still run.
  */
class GroupWindowSpec extends SparkSpec {
  import spark.implicits._

  private val FeedStart = java.time.Instant.parse("2020-09-14T09:20:00Z").toEpochMilli

  private def ts(s: String) = Timestamp.valueOf(s)

  /** One output row of a tumbling count. */
  private def w(key: String, cnt: Long, start: String, end: String): Seq[Any] =
    Seq(key, cnt, ts(start), ts(end))

  private def watermarked(in: MemoryStream[(String, Timestamp)]): DataFrame =
    Ingest.withEventTime(in.toDF().toDF("key", "ts"), "ts")

  private def tumbling(events: DataFrame): DataFrame =
    windowCountStreaming(events.as[KeyedEvent], "1 minute", "1 minute").toDF()

  /** Runs `out` in append mode, adding one feed per
    * `processAllAvailable()`, and returns (rows read, rows written) of
    * every micro-batch that read or wrote any, in batch order. */
  private def perBatch(out: DataFrame, in: MemoryStream[(String, Timestamp)],
      feeds: Seq[(String, Timestamp)]*): Seq[(Long, Set[Seq[Any]])] = {
    val written = new ConcurrentHashMap[Long, Set[Seq[Any]]]()
    def collect(df: DataFrame, epoch: Long): Unit = written.put(epoch, df.collect().map(_.toSeq).toSet)
    val q = out.writeStream.outputMode("append").foreachBatch(collect _).start()
    try {
      feeds.foreach { f => in.addData(f: _*); q.processAllAvailable() }
      q.recentProgress.toSeq
        .map(p => (p.numInputRows, written.getOrDefault(p.batchId, Set.empty)))
        .filter { case (n, rows) => n > 0 || rows.nonEmpty }
    } finally q.stop()
  }

  /** Publishes `lines` as file `name` of `dir` atomically: a hidden
    * file the file source skips, then a rename. */
  private def publish(dir: Path, name: String, lines: Seq[String]): Unit = {
    val tmp = dir.resolve("." + name)
    Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(name))
  }

  /** A batch run's windows that a stream over the same lines has closed:
    * those ending at or before the newest event time. */
  private def closedWindows(windowed: DataFrame, lines: Seq[String]): DataFrame = {
    val last = Ingest.parseGeoJson(lines.toDF("value")).agg(max("received_on")).head().getTimestamp(0)
    windowed.filter(col("window_end") <= lit(last))
  }

  test("a window is written in the batch that holds its key's closing event; the watermark flushes a quiet key") {
    implicit val sql = spark.sqlContext
    val feeds = Seq(
      Seq(("a", ts("2024-01-01 00:00:10")), ("b", ts("2024-01-01 00:00:20"))),
      Seq(("a", ts("2024-01-01 00:01:05"))))
    val a0 = w("a", 1, "2024-01-01 00:00:00", "2024-01-01 00:01:00")
    val b0 = w("b", 1, "2024-01-01 00:00:00", "2024-01-01 00:01:00")
    val in = MemoryStream[(String, Timestamp)]
    assert(perBatch(tumbling(watermarked(in)), in, feeds: _*) == Seq(
      2L -> Set.empty,
      // a's 00:01:05 event closes a's window in the batch that reads it …
      1L -> Set(a0),
      // … b has no event past its window: the watermark (00:01:05)
      // flushes it in the next, no-data batch
      0L -> Set(b0)))
    // the Catalyst window aggregate writes both windows one batch later
    val in2 = MemoryStream[(String, Timestamp)]
    assert(perBatch(Windows.tumblingCount(watermarked(in2), $"ts", $"key", "1 minute"), in2, feeds: _*) ==
      Seq(2L -> Set.empty, 1L -> Set.empty, 0L -> Set(a0, b0)))
  }

  test("late rows: out-of-order rows of a batch all count; rows at or below the watermark are dropped") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val got = perBatch(tumbling(watermarked(in)), in,
      Seq(("a", ts("2024-01-01 00:00:10")), ("a", ts("2024-01-01 00:00:05")), ("b", ts("2024-01-01 00:00:02"))),
      // 00:00:30 comes after the event that closes a's window, in the
      // same batch, and above the watermark (00:00:10): it counts
      Seq(("a", ts("2024-01-01 00:01:10")), ("a", ts("2024-01-01 00:00:30"))),
      // below and at the watermark (00:01:10): dropped, and a's emitted
      // window is neither reopened nor written again
      Seq(("a", ts("2024-01-01 00:00:50")), ("a", ts("2024-01-01 00:01:10"))),
      Seq(("a", ts("2024-01-01 00:02:00"))))
    assert(got == Seq(
      3L -> Set.empty,
      2L -> Set(w("a", 3, "2024-01-01 00:00:00", "2024-01-01 00:01:00")),
      0L -> Set(w("b", 1, "2024-01-01 00:00:00", "2024-01-01 00:01:00")),
      2L -> Set.empty,
      // only the batch-two 00:01:10 row is in a's 00:01 window
      1L -> Set(w("a", 1, "2024-01-01 00:01:00", "2024-01-01 00:02:00"))))
  }

  test("a row in a window its key has emitted is dropped even while the watermark lags behind the key") {
    implicit val sql = spark.sqlContext
    // two sources: the global watermark is the slower one's (Spark's
    // default "min" policy), so it stays at b's 00:00:05
    val inA = MemoryStream[(String, Timestamp)]
    val inB = MemoryStream[(String, Timestamp)]
    inA.addData(("a", ts("2024-01-01 00:00:10")), ("a", ts("2024-01-01 00:00:20")))
    inB.addData(("b", ts("2024-01-01 00:00:05")))
    val q = tumbling(watermarked(inA).union(watermarked(inB)))
      .writeStream.outputMode("append").format("memory").queryName("gw_lagging").start()
    try {
      q.processAllAvailable()
      inA.addData(("a", ts("2024-01-01 00:01:30"))) // a's own event closes a's 00:00 window
      q.processAllAvailable()
      inA.addData(("a", ts("2024-01-01 00:00:40"))) // above the watermark, in a's emitted window
      q.processAllAvailable()
      inB.addData(("b", ts("2024-01-01 00:05:00")))
      q.processAllAvailable()
      inA.addData(("a", ts("2024-01-01 00:05:00")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("gw_lagging").collect().map(_.toSeq).toSet
    assert(got == Set(
      w("a", 2, "2024-01-01 00:00:00", "2024-01-01 00:01:00"),
      w("a", 1, "2024-01-01 00:01:00", "2024-01-01 00:02:00"),
      w("b", 1, "2024-01-01 00:00:00", "2024-01-01 00:01:00")))
  }

  test("the four group-window jobs stream exactly the batch windows their feed closes") {
    implicit val sql = spark.sqlContext
    val lines = GeoJsonGen.features(seed = 11L, count = 300, startEpochMs = FeedStart, stepMs = 1700L)
    val parsed = Ingest.parseGeoJson(lines.toDF("value"))
    val (t, k) = ($"received_on", $"railway_class")
    val tumble = Windows.tumblingCount(parsed, t, k, "1 minute")
    for ((job, interval, batch) <- Seq(
        ("StreamJobSqlTumbling", "1 minute", tumble),
        ("StreamJobTumbling", "1 minute", tumble),
        ("StreamJobTumblingOffset", "1 minute", Windows.tumblingCount(parsed, t, k, "1 minute", "15 seconds")),
        ("StreamJobSqlHopping", "2 minutes", Windows.hoppingCount(parsed, t, k, "2 minutes", "1 minute")))) {
      val in = MemoryStream[String]
      val out = StarterDemo.buildJob(job, in.toDF(), interval)
      assert(out.schema.map(f => f.name -> f.dataType) == batch.schema.map(f => f.name -> f.dataType), job)
      val q = out.writeStream.outputMode("append").format("memory").queryName(s"gw_$job").start()
      try lines.grouped(37).foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      val expected = closedWindows(batch, lines).collect().map(_.toSeq).toSet
      assert(expected.size > 30, job)
      assert(spark.table(s"gw_$job").collect().map(_.toSeq).toSet == expected, job)
    }
  }

  test("restart from the checkpoint and a replayed epoch write no duplicate rows into Derby") {
    val dir = Files.createTempDirectory("graft_gw_feed")
    val ckpt = Files.createTempDirectory("graft_gw_ckpt").toFile
    val lines = GeoJsonGen.features(seed = 21L, count = 240, startEpochMs = FeedStart, stepMs = 1200L)
    // the split falls inside the 09:22 window, so it spans the restart
    val (first, second) = lines.splitAt(120)
    def run(): Unit = {
      val q = StarterDemo.start("StreamJobSqlTumbling", Sources.geojsonLinesDir(spark, dir.toString),
        "1 minute", ckpt.toString, "gw_restart", DerbyTables.url)
      try q.processAllAvailable() finally q.stop()
    }
    publish(dir, "a.json", first)
    run()
    // a crash after the sink wrote the last batch but before its commit:
    // the restart replays that epoch
    val commits = new java.io.File(ckpt, "commits")
    val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    commits.listFiles().filter(f => f.getName.stripPrefix(".").startsWith(s"$last")).foreach(_.delete())
    publish(dir, "b.json", second)
    run()
    val expected = closedWindows(Windows.tumblingCount(Ingest.parseGeoJson(lines.toDF("value")),
        $"received_on", $"railway_class", "1 minute"), lines)
      .select("key", "cnt", "window_start").as[(String, Long, Timestamp)].collect().toSet
    assert(DerbyTables.rows("gw_restart", "key").size == expected.size)
    assert(DerbyTables.windowCounts("gw_restart") == expected)
  }

  test("a checkpoint written by the Catalyst window plan is refused at its first batch") {
    val dir = Files.createTempDirectory("graft_gw_old_feed")
    val ckpt = Files.createTempDirectory("graft_gw_old_ckpt").toString
    val lines = GeoJsonGen.features(seed = 22L, count = 120, startEpochMs = FeedStart, stepMs = 1200L)
    publish(dir, "a.json", lines.take(60))
    val raw = Sources.geojsonLinesDir(spark, dir.toString)
    // the tumbling job as it ran before the keyed window operator
    val old = Windows.tumblingCount(Ingest.withEventTime(Ingest.parseGeoJson(raw), "received_on"),
        $"received_on", $"railway_class", "1 minute")
      .writeStream.outputMode("append").option("checkpointLocation", ckpt)
      .foreachBatch(UpsertSink.jdbcForeachBatchUpsert(DerbyTables.url, "gw_old",
        StarterDemo.upsertKey("StreamJobSqlTumbling")) _)
    DerbyTables.create("gw_old", DerbyTables.TumblingColumns)
    val q1 = old.start()
    try q1.processAllAvailable() finally q1.stop()
    publish(dir, "b.json", lines.drop(60))
    val q2 = StarterDemo.start("StreamJobSqlTumbling", raw, "1 minute", ckpt, "gw_old", DerbyTables.url)
    val e = try intercept[StreamingQueryException](q2.processAllAvailable()) finally q2.stop()
    assert(e.getMessage.contains("STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA"), e.getMessage)
  }

  test("a record without a railway class is dropped before the job, counted, and the query runs on") {
    val lines = GeoJsonGen.features(seed = 31L, count = 100, startEpochMs = FeedStart, stepMs = 1500L)
    val noClass = lines(50).replaceFirst("\"N02_001\":\"[0-9]+\",", "")
    assert(noClass != lines(50))
    val kept = lines.patch(50, Nil, 1)
    for ((job, interval) <- Seq("StreamJobSqlTumbling" -> "1 minute", "StreamJobSingle" -> "30 minutes")) {
      val dir = Files.createTempDirectory("graft_gw_null_feed")
      val ckpt = Files.createTempDirectory("graft_gw_null_ckpt").toString
      val table = s"gw_null_$job"
      publish(dir, "a.json", lines.updated(50, noClass))
      val q = StarterDemo.start(job, Sources.geojsonLinesDir(spark, dir.toString), interval, ckpt, table,
        DerbyTables.url)
      try q.processAllAvailable() finally q.stop()
      assert(q.exception.isEmpty, job)
      val rejected = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("graft_ingest")))
        .map(_.getAs[Long]("rejected_null_class"))
      assert(rejected.sum == 1L, job)
      // the sink holds what a batch run over the other records holds
      val batch = StarterDemo.buildJob(job, kept.toDF("value"), interval)
      val expected = (if (job == "StreamJobSingle") batch else closedWindows(batch, kept))
        .collect().map(_.toSeq).toSet
      assert(DerbyTables.rows(table, batch.columns.toSeq: _*).toSet == expected, job)
    }
  }
}
