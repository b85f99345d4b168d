package graft

import java.sql.{SQLException, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.DerbyTables.{TumblingColumns, TumblingColumnsNoKey, url, windowCounts}
import graft.ingest.Ingest
import graft.model.Tables
import graft.ops.Windows
import graft.sources.GeoJsonGen
import graft.streaming.UpsertSink

/** The JDBC upsert sink (X1/X2): streaming upserts through
  * addBatch/executeBatch into embedded Derby — the same write-side
  * semantics as the reference's Data-API sink
  * (sink/SinkDataApiBatch.java:61–78) against an actual database.
  */
class JdbcUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val tumblingKey = Seq("key", "window_start", "window_end")

  test("streaming tumbling counts upsert into Derby and converge to the batch result") {
    DerbyTables.create("t_stream", TumblingColumns)
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val q = Windows.tumblingCount(Ingest.withEventTime(in.toDF().toDF("kk", "t"), "t"),
        $"t", $"kk", "1 minute")
      .writeStream.outputMode("update")
      .foreachBatch(UpsertSink.jdbcForeachBatchUpsert(url, "t_stream", tumblingKey) _)
      .start()
    try {
      in.addData(("a", ts("2024-01-01 00:00:10"))); q.processAllAvailable()
      in.addData(("a", ts("2024-01-01 00:00:20")), ("b", ts("2024-01-01 00:00:30")))
      q.processAllAvailable() // window 00:00 re-emitted with updated counts
      in.addData(("a", ts("2024-01-01 00:01:10"))); q.processAllAvailable()
      assert(windowCounts("t_stream") == Set(
        ("a", 2L, ts("2024-01-01 00:00:00")),
        ("b", 1L, ts("2024-01-01 00:00:00")),
        ("a", 1L, ts("2024-01-01 00:01:00"))))
    } finally q.stop()
  }

  test("JDBC upsert is idempotent under epoch replay") {
    // a primary key equal to the upsert key turns the replayed
    // INSERT-first batch into a DELETE+INSERT rewrite; a table keyed
    // any other way is refused before any row is written
    val tumbled = Windows.tumblingCount(
      Tables.load(spark, sf0001, "events"), $"ts", $"event_type", "1 minute")
    DerbyTables.create("t_replay", TumblingColumns)
    val sink = UpsertSink.jdbcForeachBatchUpsert(url, "t_replay", tumblingKey) _
    sink(tumbled, 0L)
    val afterFirst = windowCounts("t_replay")
    sink(tumbled, 0L) // replayed epoch: same data, same epoch id
    assert(windowCounts("t_replay") == afterFirst)
    val keys = DerbyTables.rows("t_replay", "key", "window_start", "window_end")
    assert((keys.size, keys.distinct.size) == ((tumbled.count(), tumbled.count())))

    DerbyTables.create("t_replay_nokey", TumblingColumnsNoKey)
    val e = intercept[Exception](
      UpsertSink.jdbcForeachBatchUpsert(url, "t_replay_nokey", tumblingKey)(tumbled, 0L))
    val refusal = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalArgumentException => i.getMessage }
    assert(refusal.exists(_.contains(
      "sink table t_replay_nokey must have primary key (key, window_start, window_end), found ()")),
      s"no refusal in: $e")
    assert(DerbyTables.rows("t_replay_nokey", "key").isEmpty)
  }

  test("restart from checkpoint resumes into Derby without duplicate rows (F1+X3)") {
    DerbyTables.create("t_ckpt", TumblingColumns)
    implicit val sql = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_jdbc_ckpt").toString
    val in = MemoryStream[(String, Timestamp)]
    def startQuery() = Windows.tumblingCount(Ingest.withEventTime(in.toDF().toDF("kk", "t"), "t"),
        $"t", $"kk", "1 minute")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch(UpsertSink.jdbcForeachBatchUpsert(url, "t_ckpt", tumblingKey) _)
      .start()
    val q1 = startQuery()
    in.addData(("a", ts("2024-01-01 00:00:10")), ("a", ts("2024-01-01 00:00:20")))
    q1.processAllAvailable()
    in.addData(("a", ts("2024-01-01 00:02:00"))) // closes window 00:00
    q1.processAllAvailable()
    q1.stop()
    val q2 = startQuery() // recovers offsets from the checkpoint
    in.addData(("a", ts("2024-01-01 00:05:00"))) // closes window 00:02
    q2.processAllAvailable()
    q2.stop()
    assert(windowCounts("t_ckpt") == Set(
      ("a", 2L, ts("2024-01-01 00:00:00")),
      ("a", 1L, ts("2024-01-01 00:02:00"))))
  }

  test("equal-timestamp peers of the per-row job upsert as one row per (key, ts)") {
    // the per-row OVER job emits one identical (key, ts, trailing_cnt)
    // row per peer; both land in one statement batch of one partition
    DerbyTables.create("t_peers",
      """"KEY" VARCHAR(64) NOT NULL, ts TIMESTAMP NOT NULL, trailing_cnt BIGINT,
        |PRIMARY KEY ("KEY", ts)""".stripMargin)
    val start = java.time.Instant.parse("2020-09-14T09:20:00Z").toEpochMilli
    val feed = GeoJsonGen.features(seed = 5L, count = 60, startEpochMs = start, stepMs = 1000L)
    val lines = feed :+ feed(30) // one equal-timestamp peer pair
    val out = StarterDemo.buildJob("StreamJobSingle", lines.toDF("value"), "30 seconds")
    UpsertSink.jdbcForeachBatchUpsert(url, "t_peers", StarterDemo.upsertKey("StreamJobSingle"))(out, 0L)

    val events = Ingest.parseGeoJson(lines.toDF("value"))
      .select($"railway_class", $"received_on").as[(String, Timestamp)].collect().toSeq
    val expected = events.distinct.map { case (k, t) =>
      (k, t, events.count { case (k2, t2) =>
        k2 == k && !t2.after(t) && t2.getTime >= t.getTime - 30000L }.toLong)
    }.toSet
    val got = DerbyTables.rows("t_peers", "key", "ts", "trailing_cnt")
      .map(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Timestamp], r(2).asInstanceOf[Long]))
    assert(got.size == events.distinct.size)
    assert(got.toSet == expected)
    val (peerKey, peerTs) = events(30)
    assert(got.exists(r => r._1 == peerKey && r._2 == peerTs && r._3 >= 2L))
  }

  test("a failing batch surfaces the database's SQLException and keeps earlier rows") {
    DerbyTables.create("t_fail", TumblingColumns)
    val w0 = ts("2024-01-01 00:00:00")
    val w1 = ts("2024-01-01 00:01:00")
    val sink = UpsertSink.jdbcForeachBatchUpsert(url, "t_fail", tumblingKey) _
    sink(Seq(("a", 1L, w0, w1), ("b", 1L, w0, w1))
      .toDF("key", "cnt", "window_start", "window_end"), 0L)
    // one partition, one statement batch: the DELETE of "a" and its new
    // count are rolled back together with the NOT NULL violation
    val bad = Seq(("a", Some(5L), w0, w1), ("c", None, w0, w1))
      .toDF("key", "cnt", "window_start", "window_end").coalesce(1)
    val e = intercept[Exception](sink(bad, 1L))
    val sqlErrors = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collect { case s: SQLException => Iterator.iterate(s)(_.getNextException).takeWhile(_ != null) }
      .flatten.toSeq
    assert(sqlErrors.exists(_.getSQLState == "23502"), // NOT NULL violation
      s"no NOT NULL SQLException in: $e")
    assert(windowCounts("t_fail") == Set(("a", 1L, w0), ("b", 1L, w0)))
  }

  test("quoted identifiers resolve to columns created unquoted") {
    // a table whose DDL spells every name unquoted and lower-case is
    // written by the sink's quoted, case-folded statement text
    DerbyTables.create("t_plain",
      "k VARCHAR(64) NOT NULL, cnt BIGINT, window_start TIMESTAMP NOT NULL, " +
        "window_end TIMESTAMP NOT NULL, PRIMARY KEY (k, window_start, window_end)")
    val w0 = ts("2024-01-01 00:00:00")
    val w1 = ts("2024-01-01 00:01:00")
    val sink = UpsertSink.jdbcForeachBatchUpsert(url, "t_plain", Seq("k", "window_start", "window_end")) _
    sink(Seq(("a", 1L, w0, w1)).toDF("k", "cnt", "window_start", "window_end"), 0L)
    sink(Seq(("a", 3L, w0, w1)).toDF("k", "cnt", "window_start", "window_end"), 1L)
    assert(DerbyTables.rows("t_plain", "K", "CNT") == Seq(Seq("a", 3L)))
  }

  test("SQL identifiers are validated, not spliced") {
    intercept[IllegalArgumentException] {
      UpsertSink.jdbcForeachBatchUpsert(url, "t; DROP TABLE x", Seq("a"))(
        spark.range(1).toDF("a"), 0L)
    }
    intercept[IllegalArgumentException] {
      UpsertSink.jdbcForeachBatchUpsert(url, "t", Seq("a"))(
        spark.range(1).toDF("a").withColumn("a\"b", $"a"), 0L)
    }
    intercept[IllegalArgumentException] {
      UpsertSink.jdbcForeachBatchUpsert(url, "t", Seq("bad col"))(
        spark.range(1).toDF("bad col"), 0L)
    }
  }
}
