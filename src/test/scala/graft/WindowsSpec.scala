package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.Windows

class WindowsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val tiny = Seq(
    ("a", ts("2024-01-01 00:00:00")),   // window [00:00, 00:01)
    ("a", ts("2024-01-01 00:00:59.999999")),
    ("a", ts("2024-01-01 00:01:00")),   // boundary: belongs to NEXT window
    ("b", ts("2024-01-01 00:00:30"))
  ).toDF("k", "t")

  test("tumbling: [start,end) boundary — record at end belongs to next window") {
    val out = Windows.tumblingCount(tiny, $"t", $"k", "1 minute")
      .orderBy("key", "window_start")
      .collect()
    val a = out.filter(_.getString(0) == "a")
    assert(a.map(_.getLong(1)).toSeq == Seq(2L, 1L))
    assert(a(0).getTimestamp(2) == ts("2024-01-01 00:00:00"))
    assert(a(0).getTimestamp(3) == ts("2024-01-01 00:01:00"))
    assert(a(1).getTimestamp(2) == ts("2024-01-01 00:01:00"))
  }

  test("tumbling offset shifts alignment like Flink's TumblingEventTimeWindows offset") {
    val out = Windows.tumblingCount(tiny, $"t", $"k", "60 seconds", "15 seconds")
      .filter($"key" === "a").orderBy("window_start").collect()
    // windows: [23:59:15, 00:00:15) has 00:00:00; [00:00:15, 00:01:15) has the other two
    assert(out.map(r => (r.getTimestamp(2).toString, r.getLong(1))).toSeq ==
      Seq(("2023-12-31 23:59:15.0", 1L), ("2024-01-01 00:00:15.0", 2L)))
  }

  test("hopping: each event lands in size/slide overlapping windows") {
    val one = Seq(("a", ts("2024-01-01 00:05:30"))).toDF("k", "t")
    val out = Windows.hoppingCount(one, $"t", $"k", "2 minutes", "1 minute")
      .orderBy("window_start").collect()
    assert(out.map(_.getTimestamp(2).toString).toSeq ==
      Seq("2024-01-01 00:04:00.0", "2024-01-01 00:05:00.0"))
    assert(out.forall(_.getLong(1) == 1L))
    // HOP_ROWTIME parity: rowtime = window end - 1 ms (Flink's ruling)
    assert(out.forall(r => r.getTimestamp(4).getTime == r.getTimestamp(3).getTime - 1L))
  }

  test("sliding OVER frame is inclusive at both ends (RANGE ... PRECEDING AND CURRENT ROW)") {
    val df = Seq(
      ("a", ts("2024-01-01 00:00:00")),
      ("a", ts("2024-01-01 00:01:00")),  // exactly 60s later: IN frame
      ("a", ts("2024-01-01 00:02:00.000001")) // frame starts 00:01:00.000001 → excludes both
    ).toDF("k", "t")
    val out = Windows.slidingOverCount(df, $"t", $"k", 60L)
      .orderBy("t").select("trailing_cnt").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L, 1L))
  }

  test("chunked sliding count == OVER sliding count on real data") {
    val events = Tables.load(spark, sf0001, "events")
    val over = Windows.slidingOverCount(events, $"ts", $"event_type", 60L)
      .select("event_id", "trailing_cnt")
    val chunked = Windows.slidingCountChunked(events, $"ts", $"event_type", 60L, 300L)
      .select("event_id", "trailing_cnt")
    assert(over.exceptAll(chunked).isEmpty && chunked.exceptAll(over).isEmpty)
  }

  test("chunked sliding handles frame spanning chunk boundary") {
    val df = Seq(
      ("a", ts("2024-01-01 00:04:50")), // chunk 0 (300s chunks)
      ("a", ts("2024-01-01 00:05:10")), // chunk 1; frame covers 00:04:50
      ("a", ts("2024-01-01 00:06:20"))  // chunk 1; frame [00:05:20,00:06:20] covers neither
    ).toDF("k", "t")
    val out = Windows.slidingCountChunked(df, $"t", $"k", 60L, 300L)
      .orderBy("t").select("trailing_cnt").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L, 1L))
  }

  test("cumulate == naive per-event expanding windows on real data") {
    val events = Tables.load(spark, sf0001, "events")
    val sliced = Windows.cumulateCount(events, $"ts", $"event_type", 60, 240)
    // naive reference: every event joins each expanding window of its
    // bucket whose end is strictly past the event timestamp
    val naive = events
      .select($"event_type".cast("string").as("key"), $"ts",
        timestamp_millis(expr("(unix_millis(ts) div 240000) * 240000")).as("window_start"))
      .select($"key", $"ts", $"window_start",
        explode(sequence(lit(60000L), lit(240000L), lit(60000L))).as("off"))
      .filter(unix_millis($"ts") < unix_millis($"window_start") + $"off")
      .groupBy($"key", $"window_start",
        timestamp_millis(unix_millis($"window_start") + $"off").as("window_end"))
      .agg(count(lit(1)).as("cnt"))
      .select("key", "cnt", "window_start", "window_end")
    assert(sliced.exceptAll(naive).isEmpty && naive.exceptAll(sliced).isEmpty)
  }

  test("cumulate's widest window equals the plain tumble at maxSize") {
    val events = Tables.load(spark, sf0001, "events")
    val widest = Windows.cumulateCount(events, $"ts", $"event_type", 60, 240)
      .filter(unix_millis($"window_end") - unix_millis($"window_start") === 240000L)
    val tumble = Windows.tumblingCount(events, $"ts", $"event_type", "4 minutes")
    assert(widest.exceptAll(tumble).isEmpty && tumble.exceptAll(widest).isEmpty)
  }

  test("asofUsChunked: inclusive at equal ts, carries across empty chunks, null before first build") {
    // chunk = 100 us. Probes per key 1:
    //  id 10 @ us 50  — build @ 50 exists (equal ts → inclusive match)
    //  id 11 @ us 250 — chunk 2 has no builds; latest earlier build is
    //                   @ 60 in chunk 0, carried across EMPTY chunk 1
    //  id 12 @ us 40  — before any build → null
    // key 2 has no builds at all → null
    val probe = Seq((1L, 50L, 10L), (1L, 250L, 11L), (1L, 40L, 12L), (2L, 99L, 20L))
      .toDF("key", "us", "id")
    val build = Seq((1L, 50L), (1L, 60L)).toDF("key", "us")
    val out = Windows.asofUsChunked(probe, build, chunkUs = 100L)
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out == Map(10L -> Some(50L), 11L -> Some(60L), 12L -> None, 20L -> None))
  }

  test("asofUsChunked == single-window as-of on the harness events") {
    val ev = Tables.load(spark, sf0001, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("key"), unix_micros($"ts").as("us"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("key"), unix_micros($"ts").as("us"), $"event_id".as("id"))
    val chunked = Windows.asofUsChunked(purchases, clicks, chunkUs = 7L * 60 * 1000000)
      .select("key", "id", "us", "asof_us")
    // naive per-key form: union-merge with last(ignoreNulls) over one
    // window per key — the q_asof_join shape, fine at test scale
    val w = org.apache.spark.sql.expressions.Window.partitionBy("key")
      .orderBy($"us", $"kind").rowsBetween(Long.MinValue, 0)
    val naive = clicks.select($"key", $"us", lit(0).as("kind"), lit(null).cast("long").as("id"))
      .unionByName(purchases.select($"key", $"us", lit(1).as("kind"), $"id"))
      .withColumn("asof_us", max(when($"kind" === 0, $"us")).over(w))
      .filter($"kind" === 1)
      .select("key", "id", "us", "asof_us")
    assert(chunked.exceptAll(naive).isEmpty && naive.exceptAll(chunked).isEmpty)
  }

  test("lastWindowPerKey keeps exactly one latest row per key") {
    val out = Windows.lastWindowPerKey(
      Windows.tumblingCount(tiny, $"t", $"k", "1 minute")).collect()
    assert(out.length == 2)
    val a = out.find(_.getString(0) == "a").get
    assert(a.getTimestamp(2) == ts("2024-01-01 00:01:00"))
  }

  test("resample-interpolate: contiguous grid, anchors verbatim, fills exactly linear") {
    val rows = graft.queries.EventQueries
      .queries("q_resample_interpolate")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (tpe, rs) =>
      val sorted = rs.sortBy(_._2)
      // contiguous 1-minute grid, anchor endpoints
      assert(sorted.sliding(2).forall {
        case Array(a, b) => b._2 - a._2 == 60000L; case _ => true
      }, s"$tpe grid not contiguous")
      assert(sorted.head._4 == 0L && sorted.last._4 == 0L,
        s"$tpe endpoints must be anchors")
      // every filled value is the exact linear blend of its anchors
      val anchors = sorted.filter(_._4 == 0L)
      val anchorAt = anchors.map(a => a._2 -> a._3).toMap
      val ams = anchors.map(_._2)
      sorted.filter(_._4 == 1L).foreach { case (_, m, v, _) =>
        val pm = ams.filter(_ < m).max
        val nm = ams.filter(_ > m).min
        val (pv, nv) = (anchorAt(pm), anchorAt(nm))
        val expect = pv + (nv - pv) *
          ((m - pm).toDouble * 1000.0 / ((nm - pm).toDouble * 1000.0))
        assert(v == expect, s"$tpe @$m: $v != $expect")
      }
    }
  }
}
