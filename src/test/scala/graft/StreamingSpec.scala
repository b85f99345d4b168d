package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.model.Tables
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

  test("streaming tumbling count converges to the batch result (append mode)") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val events = Ingest.withEventTime(in.toDF().toDF("k", "t"), "t")
    val q = Windows.tumblingCount(events, $"t", $"k", "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("tumbling_out")
      .start()
    try {
      in.addData(("a", ts("2024-01-01 00:00:10")), ("a", ts("2024-01-01 00:00:20")), ("b", ts("2024-01-01 00:00:30")))
      q.processAllAvailable()
      in.addData(("a", ts("2024-01-01 00:01:10")))
      q.processAllAvailable()
      // watermark (0 s) has passed 00:01 → the 00:00 window is final and emitted
      in.addData(("a", ts("2024-01-01 00:02:05")))
      q.processAllAvailable()
      val emitted = spark.table("tumbling_out")
        .select("key", "cnt", "window_start").as[(String, Long, Timestamp)].collect().toSet
      assert(emitted.contains(("a", 2L, ts("2024-01-01 00:00:00"))))
      assert(emitted.contains(("b", 1L, ts("2024-01-01 00:00:00"))))
      assert(emitted.contains(("a", 1L, ts("2024-01-01 00:01:00"))))
    } finally q.stop()
  }

  test("streaming hourly funnel finalizes staged conversions at bucket end, out-of-order safe") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = funnelHourlyStreaming(in.toDF().toDF("user_id", "event_type", "t"), "t", "user_id",
        lateness = "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("funnel_out")
      .start()
    try {
      // user 1 arrives OUT OF ORDER: purchase and click first, the view
      // that retro-qualifies them only in a later micro-batch
      in.addData((1L, "purchase", ts("2024-01-01 00:20:00")), (1L, "click", ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      in.addData(
        (1L, "view", ts("2024-01-01 00:05:00")),
        (2L, "click", ts("2024-01-01 00:05:00")), // click BEFORE the view: not a conversion
        (2L, "view", ts("2024-01-01 00:10:00")),
        (3L, "purchase", ts("2024-01-01 00:05:00")), // no view at all
        (4L, "view", ts("2024-01-01 01:10:00")), // next bucket, no click
        (4L, "purchase", ts("2024-01-01 01:20:00")))
      q.processAllAvailable()
      // watermark = max ts − 1 h lateness; 03:30 puts it at 02:30, past
      // both bucket ends (01:00, 02:00)
      in.addData((9L, "view", ts("2024-01-01 03:30:00")))
      q.processAllAvailable()
      in.addData((9L, "view", ts("2024-01-01 03:31:00"))) // extra batch so timeouts fire
      q.processAllAvailable()
      val got = spark.table("funnel_out")
        .as[(Long, Timestamp, Boolean, Boolean, Boolean)].collect().toSet
      assert(got == Set(
        (1L, ts("2024-01-01 00:00:00"), true, true, true),
        (2L, ts("2024-01-01 00:00:00"), true, false, false),
        (3L, ts("2024-01-01 00:00:00"), false, false, false),
        (4L, ts("2024-01-01 01:00:00"), true, false, false)))
      // the 03:00 bucket is still open — nothing emitted for user 9
      assert(!got.exists(_._1 == 9L))
    } finally q.stop()
  }

  test("streaming CEP first-match replays the batch chain at day end; greedy, out-of-order safe") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val rows = Seq(
      // user 1: full match — view 00:05, click 02:00 (≤ 4 h), purchase 05:30 (≤ 4 h after click)
      (1L, "view", ts("2024-01-01 00:05:00")),
      (1L, "click", ts("2024-01-01 02:00:00")),
      (1L, "purchase", ts("2024-01-01 05:30:00")),
      // user 2: click 6 h after the first view — window lapsed, no match
      (2L, "view", ts("2024-01-01 01:00:00")),
      (2L, "click", ts("2024-01-01 07:00:00")),
      (2L, "purchase", ts("2024-01-01 07:30:00")),
      // user 5: GREEDY ruling — first click 00:20 opens the purchase
      // window (ends 04:20); the 05:00 purchase would qualify via the
      // 02:00 click but greedy does NOT backtrack → no match
      (5L, "view", ts("2024-01-01 00:10:00")),
      (5L, "click", ts("2024-01-01 00:20:00")),
      (5L, "click", ts("2024-01-01 02:00:00")),
      (5L, "purchase", ts("2024-01-01 05:00:00")))
    val q = cepStreaming(in.toDF().toDF("user_id", "event_type", "t"), "t", "user_id",
        lateness = "6 hours") // wide enough that user 1's view, fed hours out of order, is not late
      .writeStream.outputMode("append").format("memory").queryName("cep_out")
      .start()
    try {
      // deliver OUT OF ORDER: user 1's purchase and click arrive before
      // the view that anchors their chain
      in.addData((1L, "purchase", ts("2024-01-01 05:30:00")), (1L, "click", ts("2024-01-01 02:00:00")))
      q.processAllAvailable()
      in.addData(rows.filterNot(r => r._1 == 1L && r._2 != "view"): _*)
      q.processAllAvailable()
      // advance the watermark past the day end so groups finalize
      in.addData((9L, "view", ts("2024-01-02 06:30:00")))
      q.processAllAvailable()
      in.addData((9L, "view", ts("2024-01-02 06:31:00")))
      q.processAllAvailable()
      val got = spark.table("cep_out")
        .select($"user_id", $"day".cast("string"), $"t_view", $"t_click", $"t_purchase")
        .as[(Long, String, Timestamp, Timestamp, Timestamp)].collect().toSet
      assert(got == Set((1L, "2024-01-01",
        ts("2024-01-01 00:05:00"), ts("2024-01-01 02:00:00"), ts("2024-01-01 05:30:00"))))
      // parity: the batch chain on the same rows produces the same matches
      val batch = graft.queries.EventQueries
        .cepFirstMatch(rows.toDF("user_id", "event_type", "ts"))
        .select($"user_id", $"day".cast("string"), $"t_view", $"t_click", $"t_purchase")
        .as[(Long, String, Timestamp, Timestamp, Timestamp)].collect().toSet
      assert(batch == got, s"batch=$batch streaming=$got")
    } finally q.stop()
  }

  test("streaming CEP timeout side-output == batch q_cep_timeouts on replayed events") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val rows = Seq(
      // user 1: full match — NOT in the timeout output
      (1L, "view", ts("2024-01-01 00:05:00")),
      (1L, "click", ts("2024-01-01 02:00:00")),
      (1L, "purchase", ts("2024-01-01 05:30:00")),
      // user 2: click 6 h after the view — stalls at 'view'
      (2L, "view", ts("2024-01-01 01:00:00")),
      (2L, "click", ts("2024-01-01 07:00:00")),
      // user 5: greedy click at 00:20 opens a purchase window that
      // lapses (purchase at 05:00) — stalls at 'click'
      (5L, "view", ts("2024-01-01 00:10:00")),
      (5L, "click", ts("2024-01-01 00:20:00")),
      (5L, "click", ts("2024-01-01 02:00:00")),
      (5L, "purchase", ts("2024-01-01 05:00:00")))
    val q = cepTimeoutsStreaming(in.toDF().toDF("user_id", "event_type", "t"), "t", "user_id",
        lateness = "6 hours")
      .writeStream.outputMode("append").format("memory").queryName("cep_to_out")
      .start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      // push the watermark past the day end so groups finalize
      in.addData((9L, "view", ts("2024-01-02 06:30:00")))
      q.processAllAvailable()
      in.addData((9L, "view", ts("2024-01-02 06:31:00")))
      q.processAllAvailable()
      val got = spark.table("cep_to_out")
        .select($"user_id", $"day".cast("string"), $"stage_reached", $"t_last", $"deadline")
        .as[(Long, String, String, Timestamp, Timestamp)].collect().toSet
      assert(got.contains((2L, "2024-01-01", "view",
        ts("2024-01-01 01:00:00"), ts("2024-01-01 05:00:00"))), got.toString)
      assert(got.contains((5L, "2024-01-01", "click",
        ts("2024-01-01 00:20:00"), ts("2024-01-01 04:20:00"))), got.toString)
      assert(!got.exists(_._1 == 1L), s"full match must not time out: $got")
      // parity with the batch twin on the same rows (user 9's lone
      // views time out at 'view' in both engines)
      val batch = graft.queries.EventQueries
        .cepTimeouts(rows.toDF("user_id", "event_type", "ts")
          .unionByName(Seq(
            (9L, "view", ts("2024-01-02 06:30:00")),
            (9L, "view", ts("2024-01-02 06:31:00"))).toDF("user_id", "event_type", "ts")))
        .select($"user_id", $"day".cast("string"), $"stage_reached", $"t_last", $"deadline")
        .as[(Long, String, String, Timestamp, Timestamp)].collect().toSet
      // day 2024-01-02 hasn't closed in the stream, so compare day 1 only
      assert(batch.filter(_._2 == "2024-01-01") == got,
        s"batch=$batch streaming=$got")
    } finally q.stop()
  }

  test("streaming Markov transitions == ordered consecutive pairs within the 5-min gap") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp, Long)]
    val rows = Seq(
      // user 1: v→c (2 min), c→p (4 min) — two pairs; p→v gap 10 min breaks
      (1L, "view", ts("2024-01-01 00:00:00"), 1L),
      (1L, "click", ts("2024-01-01 00:02:00"), 2L),
      (1L, "purchase", ts("2024-01-01 00:06:00"), 3L),
      (1L, "view", ts("2024-01-01 00:16:00"), 4L),
      // user 2: tied timestamps — order falls to event_id (5 then 6)
      (2L, "click", ts("2024-01-01 01:00:00"), 6L),
      (2L, "view", ts("2024-01-01 01:00:00"), 5L))
    val q = markovTransitionsStreaming(
        in.toDF().toDF("user_id", "event_type", "t", "event_id"), "t", "user_id")
      .writeStream.outputMode("append").format("memory").queryName("mk_out").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      in.addData((9L, "view", ts("2024-01-02 06:30:00"), 99L)); q.processAllAvailable()
      in.addData((9L, "view", ts("2024-01-02 06:31:00"), 98L)); q.processAllAvailable()
      val got = spark.table("mk_out")
        .select($"user_id", $"from_type", $"to_type")
        .as[(Long, String, String)].collect().toSeq.sorted
      assert(got == Seq(
        (1L, "click", "purchase"), (1L, "view", "click"),
        (2L, "view", "click")).sorted, got.toString)
    } finally q.stop()
  }

  test("streaming CEP emits the session-calendar day under a non-UTC session zone") {
    // `day` must come from the session calendar, not epoch-day division
    // of the bucket instant (UTC-only — off by one for every UTC+
    // session); pin batch == streaming with the zone set to UTC+10/11
    implicit val sql = spark.sqlContext
    val tzKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzKey)
    spark.conf.set(tzKey, "Australia/Sydney")
    try {
      val in = MemoryStream[(Long, String, Timestamp)]
      val rows = Seq(
        (1L, "view", ts("2024-01-01 00:05:00")),
        (1L, "click", ts("2024-01-01 02:00:00")),
        (1L, "purchase", ts("2024-01-01 05:30:00")))
      val q = cepStreaming(in.toDF().toDF("user_id", "event_type", "t"), "t", "user_id",
          lateness = "6 hours")
        .writeStream.outputMode("append").format("memory").queryName("cep_tz_out")
        .start()
      try {
        in.addData(rows: _*)
        q.processAllAvailable()
        // push the watermark well past the Sydney day end so the group finalizes
        in.addData((9L, "view", ts("2024-01-03 06:30:00")))
        q.processAllAvailable()
        in.addData((9L, "view", ts("2024-01-03 06:31:00")))
        q.processAllAvailable()
        val got = spark.table("cep_tz_out")
          .select($"user_id", $"day".cast("string")).as[(Long, String)].collect().toSet
        val batch = graft.queries.EventQueries
          .cepFirstMatch(rows.toDF("user_id", "event_type", "ts"))
          .select($"user_id", $"day".cast("string")).as[(Long, String)].collect().toSet
        assert(got.nonEmpty)
        assert(got == batch, s"batch=$batch streaming=$got")
        // and the day really is the Sydney-local date of the events
        val expected = java.time.Instant
          .ofEpochMilli(rows.head._3.getTime)
          .atZone(java.time.ZoneId.of("Australia/Sydney")).toLocalDate.toString
        assert(got.head._2 == expected)
      } finally q.stop()
    } finally spark.conf.set(tzKey, saved)
  }

  test("streaming BM25 scores == batch scores over the same frozen corpus") {
    implicit val sql = spark.sqlContext
    val corpus = Tables.load(spark, sf0001, "documents")
    val rows = corpus.select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    val q = bm25ScoreStreaming(in.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.outputMode("append").format("memory").queryName("bm25_out")
      .start()
    try {
      in.addData(rows.take(rows.size / 2): _*)
      q.processAllAvailable()
      in.addData(rows.drop(rows.size / 2): _*)
      q.processAllAvailable()
      val got = spark.table("bm25_out").as[(Long, Long)].collect().toMap
      val want = graft.queries.TextQueries
        .bm25TopK(corpus, graft.queries.TextQueries.Bm25QueryTerms, 1000000)
        .as[(Long, Long)].collect().toMap
      assert(got.nonEmpty)
      assert(got == want, s"stream/batch diverge: ${(got.toSet diff want.toSet).take(5)}")
    } finally q.stop()
  }

  test("streaming resample + gap fill emits the batch grid as the watermark closes anchors") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Timestamp, Double, Long)]
    val rows = Seq(
      // type alpha: anchors at :00, :03, :04 — a 2-minute gap to fill;
      // two events in :00 (the larger event_id must win the anchor)
      ("alpha", ts("2024-01-01 00:00:10"), 10.0, 1L),
      ("alpha", ts("2024-01-01 00:00:50"), 16.0, 2L),
      ("alpha", ts("2024-01-01 00:03:30"), 40.0, 3L),
      ("alpha", ts("2024-01-01 00:04:30"), 20.0, 4L))
    val q = resampleStreaming(in.toDF().toDF("event_type", "ts", "value", "event_id"),
        lateness = "2 minutes")
      .writeStream.outputMode("append").format("memory").queryName("rs_out")
      .start()
    try {
      // deliver out of order: the :03 anchor first
      in.addData(rows(2), rows(0), rows(1))
      q.processAllAvailable()
      in.addData(rows(3))
      q.processAllAvailable()
      // drain: watermark far past every alpha minute (separate type)
      in.addData(("wmdummy", ts("2024-01-01 02:00:00"), 0.0, 99L))
      q.processAllAvailable()
      in.addData(("wmdummy", ts("2024-01-01 02:00:01"), 0.0, 100L))
      q.processAllAvailable()
      val got = spark.table("rs_out")
        .filter($"event_type" === "alpha")
        .as[(String, Timestamp, Double, Long)].collect().toSet
      val batch = graft.queries.EventQueries
        .resampleInterpolate(rows.toDF("event_type", "ts", "value", "event_id"))
        .as[(String, Timestamp, Double, Long)].collect().toSet
      assert(batch.exists(_._4 == 1L), "fixture must exercise gap fill")
      assert(got == batch, s"stream=$got batch=$batch")
      // the in-minute max-event_id pick won (16.0, not 10.0)
      assert(got.contains(("alpha", ts("2024-01-01 00:00:00"), 16.0, 0L)))
    } finally q.stop()
  }

  test("streaming cumulate count converges to the batch slice-optimized result") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val q = cumulateCounts(in.toDF().toDF("k", "t"), "t", "k", stepSec = 60, maxSizeSec = 240)
      .writeStream.outputMode("append").format("memory").queryName("cumulate_out").start()
    try {
      val data = Seq(
        ("a", ts("2024-01-01 00:00:30")), // minute 0 of the bucket → all 4 windows
        ("a", ts("2024-01-01 00:02:30")), // minute 2 → windows ending at 3,4 min
        ("b", ts("2024-01-01 00:01:10"))) // minute 1 → windows ending at 2,3,4 min
      in.addData(data: _*)
      q.processAllAvailable()
      in.addData(("a", ts("2024-01-01 00:20:00"))) // watermark far past the bucket
      q.processAllAvailable()
      in.addData(("a", ts("2024-01-01 00:30:00")))
      q.processAllAvailable()
      val emitted = spark.table("cumulate_out")
        .filter($"window_start" === ts("2024-01-01 00:00:00"))
        .select("key", "cnt", "window_end").as[(String, Long, Timestamp)].collect().toSet
      val batch = graft.ops.Windows
        .cumulateCount(data.toDF("k", "t"), $"t", $"k", 60, 240)
        .select("key", "cnt", "window_end").as[(String, Long, Timestamp)].collect().toSet
      assert(emitted == batch)
      // spot-check semantics: key a is alone in the 1-minute window,
      // joined by its minute-2 row only in the 3- and 4-minute windows
      assert(emitted.contains(("a", 1L, ts("2024-01-01 00:01:00"))))
      assert(emitted.contains(("a", 2L, ts("2024-01-01 00:03:00"))))
      // b arrived in minute 1: absent from the 1-minute window, count 1
      // in every later expanding window
      assert(!emitted.exists(e => e._1 == "b" && e._3 == ts("2024-01-01 00:01:00")))
      assert(emitted.contains(("b", 1L, ts("2024-01-01 00:04:00"))))
    } finally q.stop()
  }

  test("streaming hopping count emits every overlapping window (append mode)") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val q = Windows.hoppingCount(Ingest.withEventTime(in.toDF().toDF("k", "t"), "t"),
        $"t", $"k", "2 minutes", "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("hop_out").start()
    try {
      in.addData(("a", ts("2024-01-01 00:01:30")))
      q.processAllAvailable()
      in.addData(("a", ts("2024-01-01 00:10:00"))) // advance watermark far past both windows
      q.processAllAvailable()
      in.addData(("a", ts("2024-01-01 00:20:00")))
      q.processAllAvailable()
      val w = spark.table("hop_out").filter($"cnt" === 1 && $"window_start" < ts("2024-01-01 00:05:00"))
        .select("window_start").as[Timestamp].collect().toSet
      assert(w == Set(ts("2024-01-01 00:00:00"), ts("2024-01-01 00:01:00")))
    } finally q.stop()
  }

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

  test("late record (older than watermark) is dropped — zero-lateness parity") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val q = Windows.tumblingCount(Ingest.withEventTime(in.toDF().toDF("k", "t"), "t"),
        $"t", $"k", "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("late_out").start()
    try {
      in.addData(("a", ts("2024-01-01 00:00:10")))
      q.processAllAvailable()
      in.addData(("a", ts("2024-01-01 00:05:00"))) // advances watermark past 00:01
      q.processAllAvailable()
      in.addData(("a", ts("2024-01-01 00:00:40"))) // late for the closed 00:00 window
      q.processAllAvailable()
      in.addData(("a", ts("2024-01-01 00:10:00"))) // close remaining windows
      q.processAllAvailable()
      val w0 = spark.table("late_out")
        .filter($"window_start" === ts("2024-01-01 00:00:00") && $"key" === "a")
        .select("cnt").as[Long].collect()
      assert(w0.toSeq == Seq(1L), "late record must not re-open the closed window")
    } finally q.stop()
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

  test("streaming window Top-N finalizes each hour's leaderboard == batch rank query") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val q = windowTopNStreaming(
        in.toDF().toDF("u", "t"), "t", "u", n = 2, lateness = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("topn_out").start()
    try {
      // hour 10: u1×3, u2×3 (tie → u1 first), u3×1; out-of-order within tolerance
      in.addData((1L, ts("2024-01-01 10:05:00")), (2L, ts("2024-01-01 10:10:00")),
        (1L, ts("2024-01-01 10:20:00")), (2L, ts("2024-01-01 10:15:00")))
      q.processAllAvailable()
      in.addData((3L, ts("2024-01-01 10:40:00")), (1L, ts("2024-01-01 10:30:00")),
        (2L, ts("2024-01-01 10:55:00")))
      q.processAllAvailable()
      // hour 11 events move the watermark past hour 10's end + lateness
      in.addData((7L, ts("2024-01-01 11:30:00")), (7L, ts("2024-01-01 11:45:00")))
      q.processAllAvailable()
      in.addData((8L, ts("2024-01-01 13:00:00"))) // finalize hour 11 too
      q.processAllAvailable()
      val got = spark.table("topn_out")
        .select($"bucket", $"user_id", $"cnt", $"rnk")
        .as[(Timestamp, Long, Long, Int)].collect().toSet
      assert(got == Set(
        (ts("2024-01-01 10:00:00"), 1L, 3L, 1), (ts("2024-01-01 10:00:00"), 2L, 3L, 2),
        (ts("2024-01-01 11:00:00"), 7L, 2L, 1)), got)
      // and the same tie-break/ranking the batch q_window_topn applies
      val batch = Seq((1L, 3L), (2L, 3L), (3L, 1L)).toDF("user_id", "cnt")
        .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"cnt".desc, $"user_id")))
        .filter($"rnk" <= 2).as[(Long, Long, Int)].collect().toSet
      assert(batch == Set((1L, 3L, 1), (2L, 3L, 2)))
    } finally q.stop()
  }

  test("streaming exact window median finalizes at watermark == batch lo/hi midpoint rule") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double)]
    val q = windowMedianStreaming(
        in.toDF().toDF("t", "v"), "t", "v", lateness = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("median_out").start()
    try {
      // hour 10 (out of order): {5.0, 1.0, 3.0, 3.0} → sorted {1,3,3,5}:
      // lo=2→3.0, hi=3→3.0 → median 3.0. Batch-2 rows stay ABOVE the
      // batch-1 watermark (10:30 − 10 min = 10:20; a row AT the
      // watermark is dropped by the stateful operator)
      in.addData((ts("2024-01-01 10:05:00"), 5.0), (ts("2024-01-01 10:30:00"), 1.0))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:35:00"), 3.0), (ts("2024-01-01 10:50:00"), 3.0))
      q.processAllAvailable()
      // hour 11: {2.0, 4.0} → even split across distinct values → 3.0
      in.addData((ts("2024-01-01 11:10:00"), 2.0), (ts("2024-01-01 11:20:00"), 4.0))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 13:00:00"), 9.0)) // watermark closes 10 and 11
      q.processAllAvailable()
      val got = spark.table("median_out")
        .select($"bucket", $"n", $"median_value").as[(Timestamp, Long, Double)]
        .collect().toSet
      assert(got == Set(
        (ts("2024-01-01 10:00:00"), 4L, 3.0),
        (ts("2024-01-01 11:00:00"), 2L, 3.0)), got)
    } finally q.stop()
  }

  test("sliding OVER evicts idle keys once the watermark passes frame + idle retention") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    val q = slidingCountStreaming(
        in.toDS().withWatermark("ts", "0 seconds"), 60L, evictIdleAfter = Some("1 minute"))
      .writeStream.outputMode("append").format("memory").queryName("sliding_evict").start()
    try {
      in.addData(KeyedEvent("a", ts("2024-01-01 00:00:10.0")),
        KeyedEvent("b", ts("2024-01-01 00:00:20.0")))
      q.processAllAvailable()
      // advance the watermark far past a's timeout (00:02:10); timeouts
      // fire on the batch AFTER the watermark moves, so run two more
      in.addData(KeyedEvent("b", ts("2024-01-01 01:00:00.0")))
      q.processAllAvailable()
      in.addData(KeyedEvent("b", ts("2024-01-01 02:00:00.0")))
      q.processAllAvailable()
      val stateRows = q.recentProgress
        .filter(_.stateOperators.nonEmpty).map(_.stateOperators(0).numRowsTotal)
      assert(stateRows.nonEmpty && stateRows.last == 1L,
        s"idle key not evicted, state-row history: ${stateRows.mkString(",")}")
      // eviction must not change emitted results: every event was the
      // only one inside its own trailing frame
      val got = spark.table("sliding_evict")
        .select($"key", $"trailing_cnt").as[(String, Long)].collect()
      assert(got.length == 4 && got.forall(_._2 == 1L), got.mkString(","))
    } finally q.stop()
  }

  test("sliding OVER state tracks live keys under 10× key churn (scale guard)") {
    // 10 generations of 20 fresh keys each, 10 minutes apart — every
    // generation goes idle long before the next (frame 60s + idle
    // retention 60s). On an unbounded feed this is the state contract
    // that matters: rows must track the LIVE key set, never the
    // cumulative 200 keys the stream has seen.
    implicit val sql = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    val q = slidingCountStreaming(
        in.toDS().withWatermark("ts", "0 seconds"), 60L, evictIdleAfter = Some("1 minute"))
      .writeStream.outputMode("append").format("memory").queryName("sliding_churn").start()
    try {
      val base = ts("2024-01-01 00:00:00.0").getTime
      val gens = 10
      val keysPerGen = 20
      (0 until gens).foreach { g =>
        val t = new Timestamp(base + g * 600000L)
        in.addData((0 until keysPerGen).map(i => KeyedEvent(s"g${g}_k$i", t)): _*)
        q.processAllAvailable()
      }
      // two watermark pushes let the final generation's timeouts fire
      // (event-time timeouts run on the batch AFTER the watermark moves)
      in.addData(KeyedEvent("pusher", new Timestamp(base + gens * 600000L)))
      q.processAllAvailable()
      in.addData(KeyedEvent("pusher", new Timestamp(base + (gens + 1) * 600000L)))
      q.processAllAvailable()
      val stateRows = q.recentProgress
        .filter(_.stateOperators.nonEmpty).map(_.stateOperators(0).numRowsTotal)
      assert(stateRows.nonEmpty)
      // timeouts fire one batch late, so at most the incoming + the
      // not-yet-evicted previous generation coexist — never the 200
      // cumulative keys
      assert(stateRows.max <= 2L * keysPerGen + 1,
        s"state peaked at ${stateRows.max} (history: ${stateRows.mkString(",")})")
      assert(stateRows.last <= keysPerGen + 1,
        s"dead generations accumulated: ${stateRows.mkString(",")}")
      // churn must not corrupt results: every event is alone in its frame
      val got = spark.table("sliding_churn").as[SlidingCount].collect()
      assert(got.length == gens * keysPerGen + 2)
      assert(got.forall(_.trailing_cnt == 1L))
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

  test("streaming as-of enrichment == batch as-of join on the same data") {
    implicit val sql = spark.sqlContext
    val events = Tables.load(spark, sf0001, "events").select("event_id", "user_id", "ts")
    val orders = Tables.load(spark, sf0001, "orders")
    val in = MemoryStream[(Long, Long, Timestamp)]
    val q = asofEnrichStreaming(
        in.toDF().toDF("event_id", "user_id", "ts"), "user_id", "ts",
        orders, "o_custkey", "o_orderdate", "o_orderkey")
      .select("event_id", "user_id", "asof_o_orderkey")
      .writeStream.outputMode("append").format("memory").queryName("asof_out").start()
    try {
      val rows = events.as[(Long, Long, Timestamp)].collect().toSeq
      val (b1, b2) = rows.splitAt(rows.size / 2)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      val got = spark.table("asof_out")
        .as[(Long, Long, Option[Long])].collect().toSet
      val want = graft.queries.RelationalQueries.queries("q_asof_join")(spark, sf0001)
        .select("event_id", "user_id", "asof_orderkey")
        .as[(Long, Long, Option[Long])].collect().toSet
      assert(got == want && want.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join == batch bucketized interval join pairs") {
    implicit val sql = spark.sqlContext
    val ev = Tables.load(spark, sf0001, "events")
      .select($"event_id", $"user_id", $"ts", $"event_type")
      .as[(Long, Long, Timestamp, String)].collect()
    // event-time order: a stream-stream join drops rows behind the
    // watermark, so the feed must not go backwards across batches
    val purchases = ev.filter(_._4 == "purchase").map(e => (e._1, e._2, e._3)).sortBy(_._3.getTime)
    val clicks = ev.filter(_._4 == "click").map(e => (e._1, e._2, e._3)).sortBy(_._3.getTime)

    val pIn = MemoryStream[(Long, Long, Timestamp)]
    val cIn = MemoryStream[(Long, Long, Timestamp)]
    val q = intervalJoinStreaming(
        pIn.toDF().toDF("event_id", "user_id", "ts"),
        cIn.toDF().toDF("event_id", "user_id", "ts").drop("event_id"),
        frameSeconds = 1800L)
      .writeStream.outputMode("append").format("memory").queryName("ivj_out").start()
    try {
      // two time-ordered batches — boundary matches must form across
      // the batch line from buffered state
      val (p1, p2) = purchases.splitAt(purchases.length / 2)
      val (c1, c2) = clicks.splitAt(clicks.length / 2)
      pIn.addData(p1.toSeq); cIn.addData(c1.toSeq); q.processAllAvailable()
      pIn.addData(p2.toSeq); cIn.addData(c2.toSeq); q.processAllAvailable()
      val got = spark.table("ivj_out")
        .select("event_id", "c_ts").as[(Long, Timestamp)].collect()
        .groupBy(_._1).view.mapValues(_.length.toLong).toMap
      val want = graft.queries.RelationalQueries.queries("q_interval_join")(spark, sf0001)
        .filter($"n_clicks_30m" > 0)
        .select("event_id", "n_clicks_30m").as[(Long, Long)].collect().toMap
      assert(got == want && want.nonEmpty)
    } finally q.stop()
  }

  test("window join streaming: converged per-window aggregate == q_window_join batch") {
    implicit val sql = spark.sqlContext
    val ev = Tables.load(spark, sf0001, "events")
      .select($"user_id", $"ts", $"event_type", $"value")
      .as[(Long, Timestamp, String, Double)].collect()
    val purchases = ev.filter(_._3 == "purchase").map(e => (e._1, e._2, e._4)).sortBy(_._2.getTime)
    val clicks = ev.filter(_._3 == "click").map(e => (e._1, e._2, e._4)).sortBy(_._2.getTime)

    val pIn = MemoryStream[(Long, Timestamp, Double)]
    val cIn = MemoryStream[(Long, Timestamp, Double)]
    val q = graft.streaming.StreamingJobs.windowJoinStreaming(
        cIn.toDF().toDF("user_id", "ts", "value").drop("value"),
        pIn.toDF().toDF("user_id", "ts", "value"))
      .writeStream.outputMode("append").format("memory").queryName("wj_out").start()
    try {
      // two time-ordered batches — cross-batch-line pairs must form
      // from buffered window state
      val (p1, p2) = purchases.splitAt(purchases.length / 2)
      val (c1, c2) = clicks.splitAt(clicks.length / 2)
      pIn.addData(p1.toSeq); cIn.addData(c1.toSeq); q.processAllAvailable()
      pIn.addData(p2.toSeq); cIn.addData(c2.toSeq); q.processAllAvailable()
      val got = spark.table("wj_out")
        .groupBy($"window_start")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct($"user_id").as("n_users"),
          round(sum($"value"), 2).as("paired_value"))
        .as[(Timestamp, Long, Long, Double)].collect().toSet
      val want = graft.queries.EventQueries.queries("q_window_join")(spark, sf0001)
        .as[(Timestamp, Long, Long, Double)].collect().toSet
      assert(got == want && want.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: null-pads unmatched purchases at watermark") {
    implicit val sql = spark.sqlContext
    val ev = Tables.load(spark, sf0001, "events")
      .select($"event_id", $"user_id", $"ts", $"event_type")
      .as[(Long, Long, Timestamp, String)].collect()
    val purchases = ev.filter(_._4 == "purchase").map(e => (e._1, e._2, e._3)).sortBy(_._3.getTime)
    val clicks = ev.filter(_._4 == "click").map(e => (e._1, e._2, e._3)).sortBy(_._3.getTime)
    val maxTs = ev.map(_._3.getTime).max

    val pIn = MemoryStream[(Long, Long, Timestamp)]
    val cIn = MemoryStream[(Long, Long, Timestamp)]
    val q = intervalJoinStreaming(
        pIn.toDF().toDF("event_id", "user_id", "ts"),
        cIn.toDF().toDF("event_id", "user_id", "ts").drop("event_id"),
        frameSeconds = 1800L, joinType = "left_outer")
      .writeStream.outputMode("append").format("memory").queryName("ivjlo_out").start()
    try {
      pIn.addData(purchases.toSeq); cIn.addData(clicks.toSeq); q.processAllAvailable()
      // sentinels on BOTH inputs (matching no user) push the GLOBAL
      // watermark — min of the two sides — strictly past every real
      // purchase, so each unmatched row's null emission is PROVEN due;
      // one more batch flushes it. The sentinel purchase itself stays
      // unproven (nothing advances past it) and is filtered below.
      pIn.addData(Seq((-10L, -1L, new Timestamp(maxTs + 7200 * 1000L))))
      cIn.addData(Seq((-1L, -1L, new Timestamp(maxTs + 7200 * 1000L)))); q.processAllAvailable()
      cIn.addData(Seq((-2L, -1L, new Timestamp(maxTs + 7300 * 1000L)))); q.processAllAvailable()
      val out = spark.table("ivjlo_out").filter($"event_id" >= 0)
      val gotMatched = out.filter($"c_ts".isNotNull)
        .select("event_id", "c_ts").as[(Long, Timestamp)].collect()
        .groupBy(_._1).view.mapValues(_.length.toLong).toMap
      val gotNull = out.filter($"c_ts".isNull).select("event_id").as[Long].collect().toSet
      val batch = graft.queries.RelationalQueries.queries("q_interval_join")(spark, sf0001)
        .select("event_id", "n_clicks_30m").as[(Long, Long)].collect()
      assert(gotMatched == batch.filter(_._2 > 0).toMap)
      assert(gotNull == batch.filter(_._2 == 0).map(_._1).toSet && gotNull.nonEmpty)
    } finally q.stop()
  }

  test("streaming anomaly screen == batch trailing z-scores once flushed") {
    implicit val sql = spark.sqlContext
    val evts = Tables.load(spark, sf0001, "events")
      .select($"event_type", $"ts").as[(String, Timestamp)].collect().toSeq
      .sortBy(_._2.getTime) // in-order feed; lateness absorbs in-bucket ties
    val in = MemoryStream[(String, Timestamp)]
    val q = anomalyStreaming(in.toDF().toDF("event_type", "ts"), "ts", "event_type")
      .toDF()
      .writeStream.outputMode("append").format("memory").queryName("anom_out").start()
    try {
      val third = evts.size / 3
      val (b1, rest) = evts.splitAt(third)
      val (b2, b3) = rest.splitAt(third)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      in.addData(b3); q.processAllAvailable()
      // advance the watermark far past every real bucket to flush them
      val flushTs = new Timestamp(evts.map(_._2.getTime).max + 3L * 24 * 3600 * 1000)
      in.addData(("zz_flush", flushTs)); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]), r.getLong(5))
      val streamed = spark.table("anom_out")
        .filter($"event_type" =!= "zz_flush").collect().map(key).toSet
      val batch = graft.queries.EventQueries.queries("q_hourly_anomaly")(spark, sf0001)
        .collect().map(key).toSet
      assert(batch.nonEmpty && batch.exists(_._5.isDefined))
      assert(streamed == batch,
        s"only-streamed=${streamed diff batch} only-batch=${batch diff streamed}")
    } finally q.stop()
  }
}
