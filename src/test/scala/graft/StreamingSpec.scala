package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.ops.Windows
import graft.streaming.StreamingJobs._

/** Streaming parity (SURVEY.md §5 item 3): the same logical plans run
  * against MemoryStream feeds; converged results must equal the batch
  * results — the reference's upsert sink makes last-write-wins-per-key
  * convergence the observable contract (SURVEY.md §1.4).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("observe metric reports emitted rows per batch (P6 logging parity)") {
    implicit val sql = spark.sqlContext
    def line(cls: String, iso: String) =
      s"""{"type":"Feature","properties":{"RECEIVED_ON":"$iso","N02_001":"$cls"}}"""
    // rows_emitted of every batch that reported the observation, in
    // batch order. Progress events are dispatched asynchronously on the
    // listener bus AFTER processAllAvailable() returns, so poll until
    // the last batch's report is in; no-data batches report 0.
    def rowsEmitted(jobName: String, interval: String, batches: Seq[Seq[String]]): Seq[Long] = {
      val name = s"obs_$jobName"
      val reports = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val m = e.progress.observedMetrics
          if (e.progress.name == name && m.containsKey("graft_sink"))
            reports.put(e.progress.batchId, m.get("graft_sink").getAs[Long]("rows_emitted"))
        }
      }
      spark.streams.addListener(listener)
      val in = MemoryStream[String]
      val q = StarterDemo.buildJob(jobName, in.toDF(), interval)
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        val last = q.lastProgress.batchId
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!reports.containsKey(last) && System.nanoTime() < deadline) Thread.sleep(50)
        reports.asScala.toSeq.sortBy(_._1).map(_._2).filter(_ != 0L)
      } finally {
        q.stop()
        spark.streams.removeListener(listener)
      }
    }
    val firstBatch = Seq(line("11", "2020-09-14T09:20:10.000000"), line("14", "2020-09-14T09:20:40.000000"))
    // class 11's 09:25 event closes its 09:20 window in the batch that
    // reads it; class 14 has no later event, so the watermark (09:25)
    // flushes its window in the next, no-data batch. An early or a
    // duplicate emission would add a third non-zero report
    assert(rowsEmitted("StreamJobSqlTumbling", "1 minute",
      Seq(firstBatch, Seq(line("11", "2020-09-14T09:25:00.000000")))) == Seq(1L, 1L))
    // the per-row job emits one row per accepted event in each batch
    assert(rowsEmitted("StreamJobSingle", "30 minutes", Seq(firstBatch, Seq(
      line("11", "2020-09-14T09:21:00.000000"), line("14", "2020-09-14T09:21:00.000000"),
      line("18", "2020-09-14T09:22:00.000000")))) == Seq(2L, 3L))
  }

  test("flatMapGroupsWithState sliding OVER matches batch OVER on in-order feed") {
    implicit val sql = spark.sqlContext
    // 6 micro-batches of 40 s event time each against a 60-s frame: every
    // key holds 110-150 events inside its frame, so each batch evicts
    // times buffered by the batch before. Rows are shuffled within a
    // batch (the operator sorts them); every 10th time of key c is a
    // tied pair (RANGE peers).
    val base = ts("2024-01-01 00:00:00").getTime
    val rnd = new scala.util.Random(7)
    val batches = (0 until 6).map { b =>
      val from = base + b * 40000L
      rnd.shuffle(Seq("a" -> 400L, "b" -> 500L, "c" -> 600L).flatMap { case (k, stepMs) =>
        (from until from + 40000L by stepMs).flatMap { t =>
          val e = KeyedEvent(k, new Timestamp(t))
          if (k == "c" && (t - base) % 6000L == 0) Seq(e, e) else Seq(e)
        }
      })
    }
    val in = MemoryStream[KeyedEvent]
    val q = slidingCountStreaming(in.toDS(), 60L)
      .writeStream.outputMode("append").format("memory").queryName("sliding_out").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.select($"key", $"ts", $"trailing_cnt").as[(String, Timestamp, Long)].collect().toSeq
          .sortBy(r => (r._1, r._2.getTime))
      val got = sorted(spark.table("sliding_out"))
      val want = sorted(Windows.slidingOverCount(batches.flatten.toDF(), $"ts", $"key", 60L))
      assert(got.size == batches.map(_.size).sum)
      assert(got == want)
    } finally q.stop()
  }

  test("sliding OVER streaming: tied timestamps see each other (RANGE peers)") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    val q = slidingCountStreaming(in.toDS(), 60L)
      .writeStream.outputMode("append").format("memory").queryName("tied_out").start()
    try {
      in.addData(
        KeyedEvent("a", ts("2024-01-01 00:00:10")),
        KeyedEvent("a", ts("2024-01-01 00:00:10")), // tied pair
        KeyedEvent("a", ts("2024-01-01 00:00:30")))
      q.processAllAvailable()
      val got = spark.table("tied_out")
        .select($"ts", $"trailing_cnt").as[(Timestamp, Long)].collect().sortBy(_._1.getTime).toSeq
      // batch RANGE semantics: both tied rows count each other (2), the
      // later row counts all three
      assert(got.map(_._2) == Seq(2L, 2L, 3L))
    } finally q.stop()
  }

  test("sliding OVER streaming: frame bound inclusive, cross-batch ties and late rows dropped") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    val q = slidingCountStreaming(in.toDS(), 60L)
      .writeStream.outputMode("append").format("memory").queryName("sliding_late").start()
    try {
      in.addData(
        KeyedEvent("a", ts("2024-01-01 00:00:10")),
        KeyedEvent("a", ts("2024-01-01 00:01:10"))) // exactly one frame later: still inside
      q.processAllAvailable()
      in.addData(
        KeyedEvent("a", ts("2024-01-01 00:01:10")), // tie with an earlier batch: late
        KeyedEvent("a", ts("2024-01-01 00:00:30")), // older than the newest seen: late
        KeyedEvent("a", ts("2024-01-01 00:02:10"))) // frame [00:01:10, 00:02:10]
      q.processAllAvailable()
      val got = spark.table("sliding_late")
        .select($"ts", $"trailing_cnt").as[(Timestamp, Long)].collect().sortBy(_._1.getTime).toSeq
      assert(got == Seq(
        ts("2024-01-01 00:00:10") -> 1L,
        ts("2024-01-01 00:01:10") -> 2L,
        ts("2024-01-01 00:02:10") -> 2L))
    } finally q.stop()
  }

  test("streaming session windows merge and emit like batch (append mode)") {
    implicit val sql = spark.sqlContext
    // each feed: the session gap, then micro-batches whose last event
    // lies past every session end of interest (sessions starting before
    // 00:10 are compared with the batch run over the first batch's rows)
    val feeds = Seq(
      // two events 2 min apart → one session; then a 28-min gap
      "5 minutes" -> Seq(
        Seq(("a", ts("2024-01-01 00:00:00")), ("a", ts("2024-01-01 00:02:00")))),
      // gap-linked events 40 s apart merge; 130 s later opens a new
      // session; b has its own
      "1 minute" -> Seq(
        Seq(("a", ts("2024-01-01 00:00:10")), ("a", ts("2024-01-01 00:00:50")),
          ("a", ts("2024-01-01 00:03:00")), ("b", ts("2024-01-01 00:00:30")))))
    for (((gap, batches), i) <- feeds.zipWithIndex) {
      val in = MemoryStream[(String, Timestamp)]
      val q = Windows.sessionCount(Ingest.withEventTime(in.toDF().toDF("k", "t"), "t"),
          $"t", $"k", gap)
        .writeStream.outputMode("append").format("memory").queryName(s"sess_out_$i").start()
      try {
        (batches ++ Seq(Seq(("a", ts("2024-01-01 00:30:00"))), Seq(("a", ts("2024-01-01 01:00:00")))))
          .foreach { b => in.addData(b: _*); q.processAllAvailable() }
        val got = spark.table(s"sess_out_$i")
          .filter($"session_start" < ts("2024-01-01 00:10:00"))
          .select("key", "cnt", "session_start", "session_end")
          .as[(String, Long, Timestamp, Timestamp)].collect().toSet
        val batch = Windows.sessionCount(batches.flatten.toDF("k", "t"), $"t", $"k", gap)
          .as[(String, Long, Timestamp, Timestamp)].collect().toSet
        assert(got == batch, gap)
      } finally q.stop()
    }
    // the session windows themselves, spelled out
    val five = spark.table("sess_out_0").as[(String, Long, Timestamp, Timestamp)].collect().toSet
    assert(five.contains(("a", 2L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:07:00"))))
    assert(five.contains(("a", 1L, ts("2024-01-01 00:30:00"), ts("2024-01-01 00:35:00"))))
    val one = spark.table("sess_out_1").as[(String, Long, Timestamp, Timestamp)].collect().toSet
    assert(one.contains(("a", 2L, ts("2024-01-01 00:00:10"), ts("2024-01-01 00:01:50"))))
    assert(one.contains(("a", 1L, ts("2024-01-01 00:03:00"), ts("2024-01-01 00:04:00"))))
    assert(one.contains(("b", 1L, ts("2024-01-01 00:00:30"), ts("2024-01-01 00:01:30"))))
  }

  test("streaming session paths finalize in (ts, event_id) order == batch path frame") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String)]
    val toEv = (df: org.apache.spark.sql.DataFrame) =>
      df.toDF("event_id", "ts", "user_id", "event_type")
    val q = Windows.sessionPaths(Ingest.withEventTime(toEv(in.toDF()), "ts"),
        $"ts", $"user_id", "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("paths_out").start()
    try {
      // user 7: out-of-order within one session (ids pin the order);
      // user 8: two events, same session
      in.addData(
        (2L, ts("2024-01-01 00:02:00"), 7L, "view"),
        (1L, ts("2024-01-01 00:00:00"), 7L, "click"),
        (3L, ts("2024-01-01 00:03:00"), 8L, "signup"),
        (4L, ts("2024-01-01 00:04:00"), 8L, "purchase"))
      q.processAllAvailable()
      in.addData((9L, ts("2024-01-01 01:00:00"), 7L, "error")) // watermark past session ends
      q.processAllAvailable()
      in.addData((10L, ts("2024-01-01 02:00:00"), 7L, "error")) // flush the 01:00 session
      q.processAllAvailable()
      val got = spark.table("paths_out")
        .select("key", "session_start", "path", "n_events")
        .as[(Long, Timestamp, String, Long)].collect().toSet
      assert(got.contains((7L, ts("2024-01-01 00:00:00"), "click>view", 2L)), got)
      assert(got.contains((8L, ts("2024-01-01 00:03:00"), "signup>purchase", 2L)), got)
      // batch over the same rows produces the identical path frame
      // (same pure plan function — the duality is structural)
      val batch = graft.ops.Windows.sessionPaths(
          toEv(Seq(
            (2L, ts("2024-01-01 00:02:00"), 7L, "view"),
            (1L, ts("2024-01-01 00:00:00"), 7L, "click"),
            (3L, ts("2024-01-01 00:03:00"), 8L, "signup"),
            (4L, ts("2024-01-01 00:04:00"), 8L, "purchase"),
            (9L, ts("2024-01-01 01:00:00"), 7L, "error"),
            (10L, ts("2024-01-01 02:00:00"), 7L, "error")).toDF()),
          $"ts", $"user_id", "5 minutes")
        .select("key", "session_start", "path", "n_events")
        .as[(Long, Timestamp, String, Long)].collect().toSet
      val gotAll = spark.table("paths_out")
        .select("key", "session_start", "path", "n_events")
        .as[(Long, Timestamp, String, Long)].collect().toSet
      // every finalized streaming session row appears in batch
      assert(gotAll.subsetOf(batch), s"stream=$gotAll batch=$batch")
    } finally q.stop()
  }

  test("stream-static enrichment join: stream rows pick up broadcast dimension attributes") {
    implicit val sql = spark.sqlContext
    val dim = Seq(("11", "local"), ("14", "express")).toDF("cls", "service")
    val in = MemoryStream[(String, Timestamp)]
    val q = in.toDF().toDF("cls", "t")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("cls"), "left")
      .writeStream.outputMode("append").format("memory").queryName("enrich_out").start()
    try {
      in.addData(("11", ts("2024-01-01 00:00:00")), ("99", ts("2024-01-01 00:00:01")))
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .select("cls", "service").as[(String, Option[String])].collect().toSet
      assert(got == Set(("11", Some("local")), ("99", None)))
    } finally q.stop()
  }
}
