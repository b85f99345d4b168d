package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.Ingest
import graft.ops.Windows

/** The two Structured-Streaming operators the reference's jobs need
  * beyond the batch plans, both `flatMapGroupsWithState` over the keyed
  * events [[graft.StarterDemo]] composes: [[slidingCountStreaming]] for
  * the per-row OVER aggregation, because Structured Streaming has no
  * OVER, and [[windowCountStreaming]] for the tumbling and hopping
  * counts, because Spark's window aggregate emits a window one
  * micro-batch after the batch that closes it. Any other streaming plan
  * is a batch plan function ([[Windows]]) run on a stream watermarked
  * by [[Ingest.withEventTime]] — one logical-plan layer, two run modes
  * (SURVEY.md §7.1).
  */
object StreamingJobs {

  /** A day-time interval string ("30 minutes", "1 hour 15 seconds") in
    * microseconds. A month has no fixed length, so month-based intervals
    * are rejected as "`what` must be day-time". */
  private[graft] def dayTimeMicros(what: String, interval: String): Long = {
    val iv = IntervalUtils.stringToInterval(UTF8String.fromString(interval))
    require(iv.months == 0, s"$what must be day-time, got: $interval")
    iv.days * 86400000000L + iv.microseconds
  }

  /** One keyed event for the stateful OVER operator. */
  case class KeyedEvent(key: String, ts: Timestamp)

  /** One per-row OVER result (reference Tuple3: class, rowtime, count —
    * StreamJobSqlSliding.java:172–178). */
  case class SlidingCount(key: String, ts: Timestamp, trailing_cnt: Long)

  /** Per-key state: event times (epoch micros) within the trailing
    * frame of the newest event seen, descending (newest first). */
  case class SlidingState(maxSeenUs: Long, timesUs: List[Long])

  /** W3 streaming — per-key trailing-interval COUNT(*) OVER, which
    * Structured Streaming cannot express as a window function
    * (SURVEY.md §7.3 hard part #1).
    *
    * Semantics mirror the reference's zero-lateness punctuated
    * watermark (StreamJobSqlSliding.java:122–134): within a batch rows
    * are processed in event-time order; a row older than the newest
    * event already processed for its key is late and silently dropped
    * (ties are kept — RANGE frames include peers). State holds only
    * events inside the frame of the per-key max, so state size is
    * bounded by frame width × per-key event rate, not history length.
    *
    * Cost: one key's micro-batch costs O(state + batch·log batch) — one
    * stable sort of the batch by event time, then one pass of a
    * two-pointer frame window over the old buffer plus the batch. The
    * checkpointed [[SlidingState]] keeps its newest-first `List` layout
    * (rebuilt once per batch), so checkpoints written by earlier
    * versions of this operator resume unchanged.
    *
    * Scale: state is per-key and partitioned by the stream's groupBy —
    * the same shuffle a keyed window agg pays. For very low key
    * cardinality the batch-mode chunked formulation
    * ([[Windows.slidingCountChunked]]) is the right offline tool; this
    * operator is for live streams.
    *
    * State keeps one frame buffer per key ever seen, with no timeout:
    * the railway keys are the bounded set of `N02_001` classes.
    */
  def slidingCountStreaming(events: Dataset[KeyedEvent], frameSeconds: Long): Dataset[SlidingCount] = {
    import events.sparkSession.implicits._
    val frameUs = frameSeconds * 1000000L
    // grouping on the column skips groupByKey's AppendColumns
    // deserialize pass; the shuffle hashes the same key string
    events.toDF().groupBy(col("key")).as[String, KeyedEvent]
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[KeyedEvent], state: GroupState[SlidingState]) =>
          slidingBatch(key, rows, state, frameUs)
      }
  }

  /** Epoch microseconds of a timestamp, Spark's own resolution. */
  private def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

  /** The timestamp at `us` epoch microseconds. */
  private def timestamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** One micro-batch of the sliding OVER state machine.
    *
    * The frame is one ascending window `win[lo, hi)` over an array sized
    * to the old state plus the batch: an accepted event advances `lo`
    * past times older than its frame and appends its peers at `hi`, so
    * the trailing count is `hi - lo` and every buffered time is touched
    * at most twice per batch. */
  private def slidingBatch(
      key: String, rows: Iterator[KeyedEvent], state: GroupState[SlidingState],
      frameUs: Long): Iterator[SlidingCount] = {
    val st = state.getOption.getOrElse(SlidingState(Long.MinValue, Nil))
    // stable sort (TimSort): equal-ts peers keep their input order
    val batch = rows.map(e => (micros(e.ts), e)).toArray.sortBy(_._1)
    val win = new Array[Long](st.timesUs.size + batch.length)
    var hi = st.timesUs.size
    var i = hi
    st.timesUs.foreach { t => i -= 1; win(i) = t } // newest-first list → ascending
    var lo = 0
    var maxSeen = st.maxSeenUs
    val out = Array.newBuilder[SlidingCount]
    // Ties within a batch are one group: RANGE frames include
    // peers, so equal-ts rows all see each other (Flink buffers
    // same-rowtime rows and fires them together). A tie arriving
    // in a LATER batch is late — Flink's rowtime OVER drops
    // ts <= lastTriggeringTs — so maxSeen uses <=, not <.
    var g = 0
    while (g < batch.length) {
      val t = batch(g)._1
      var end = g + 1
      while (end < batch.length && batch(end)._1 == t) end += 1
      if (t > maxSeen) { // else late (incl. cross-batch tie): drop
        maxSeen = t
        while (lo < hi && win(lo) < t - frameUs) lo += 1
        java.util.Arrays.fill(win, hi, hi + end - g, t)
        hi += end - g
        val cnt = (hi - lo).toLong
        (g until end).foreach(p => out += SlidingCount(key, batch(p)._2.ts, cnt))
      }
      g = end
    }
    // the checkpointed layout stays newest-first, so old checkpoints resume
    var buf: List[Long] = Nil
    (lo until hi).foreach(p => buf = win(p) :: buf)
    state.update(SlidingState(maxSeen, buf))
    out.result().iterator
  }

  /** One group-window count: the columns of [[Windows.tumblingCount]]. */
  case class WindowCount(key: String, cnt: Long, window_start: Timestamp, window_end: Timestamp)

  /** Per-key state of [[windowCountStreaming]]: the newest accepted
    * event time (epoch micros) and the key's open windows, as ascending
    * starts with their counts. */
  case class WindowState(maxSeenUs: Long, startsUs: Array[Long], counts: Array[Long])

  /** W1/W2/W4/W5 streaming — tumbling and hopping counts that emit each
    * window in the micro-batch that closes it.
    *
    * Spark's append-mode window aggregate emits a window once the
    * watermark passes its end, and a batch's watermark is the newest
    * event time of the batches before it: the window that batch N's
    * events close is written by batch N+1. The reference fires a window
    * on the first record past its end, because its punctuated watermark
    * advances with every record (StreamJobSqlTumbling.java:122–134).
    * This operator applies that rule per key:
    *
    *  - windows are `window(ts, size, slide, offset)`'s, half-open
    *    `[start, end)`, one per row for tumbling (`slide == size`);
    *  - a key's window is final at the end of the first batch in which
    *    an event of that key reaches its end + delay, or the watermark
    *    reaches its end. For the second case every key with open
    *    windows sets an event-time timeout at its earliest open end
    *    − 1 ms, so a quiet key's window flushes in Spark's no-data batch;
    *  - within a batch, out-of-order rows all count. A row counts only
    *    in the windows its key has not yet emitted, and a row whose
    *    windows are all emitted is dropped: an emitted window is never
    *    emitted again or reopened. Rows at or below the watermark never
    *    reach the operator (Spark's late-row filter).
    *
    * Unlike the reference's global watermark, another key's record does
    * not close a key's window; the watermark does, one batch later.
    * `delay` is the `ts` column's watermark delay
    * ([[Ingest.withEventTime]]). State holds only keys with open
    * windows: once a key's windows are all emitted the watermark has
    * passed every one of them, so its late-row filter drops whatever
    * the state would have, and the state is removed.
    */
  def windowCountStreaming(events: Dataset[KeyedEvent], size: String, slide: String,
      offset: String = "0 seconds"): Dataset[WindowCount] = {
    import events.sparkSession.implicits._
    val sizeUs = dayTimeMicros("window size", size)
    val slideUs = dayTimeMicros("window slide", slide)
    val offsetUs = dayTimeMicros("window offset", offset)
    // the shapes window() rejects
    require(slideUs > 0 && slideUs <= sizeUs,
      s"window slide must be positive and at most the size, got size $size, slide $slide")
    require(math.abs(offsetUs) < slideUs, s"window offset must be shorter than the slide, got: $offset")
    val meta = events.schema("ts").metadata
    require(meta.contains(EventTimeWatermark.delayKey), "windowCountStreaming needs a watermark on ts")
    val delayUs = meta.getLong(EventTimeWatermark.delayKey) * 1000L
    events.toDF().groupBy(col("key")).as[String, KeyedEvent]
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[KeyedEvent], state: GroupState[WindowState]) =>
          windowBatch(key, rows, state, sizeUs, slideUs, offsetUs, delayUs)
      }
  }

  /** One call of the group-window operator: a batch of `key`'s rows, or
    * none when the key timed out. */
  private def windowBatch(
      key: String, rows: Iterator[KeyedEvent], state: GroupState[WindowState],
      sizeUs: Long, slideUs: Long, offsetUs: Long, delayUs: Long): Iterator[WindowCount] = {
    def reached(maxSeen: Long) = if (maxSeen == Long.MinValue) Long.MinValue else maxSeen - delayUs
    val st = state.getOption.getOrElse(WindowState(Long.MinValue, Array.emptyLongArray, Array.emptyLongArray))
    val open = mutable.LongMap.from(st.startsUs.zip(st.counts))
    val emittedTo = reached(st.maxSeenUs) // every window ending here or earlier was emitted
    var maxSeen = st.maxSeenUs
    rows.foreach { e =>
      if (e.ts != null) {
        val t = micros(e.ts)
        var start = t - Math.floorMod(t - offsetUs, slideUs) // latest window holding t
        var accepted = false
        while (start > t - sizeUs && start + sizeUs > emittedTo) {
          open(start) = open.getOrElse(start, 0L) + 1L
          accepted = true
          start -= slideUs
        }
        if (accepted) maxSeen = math.max(maxSeen, t)
      }
    }
    val closeTo = math.max(reached(maxSeen), state.getCurrentWatermarkMs() * 1000L)
    val out = open.keys.filter(_ + sizeUs <= closeTo).toArray.sorted.map { s =>
      WindowCount(key, open.remove(s).get, timestamp(s), timestamp(s + sizeUs))
    }
    if (open.isEmpty) state.remove()
    else {
      val starts = open.keys.toArray.sorted
      state.update(WindowState(maxSeen, starts, starts.map(open(_))))
      // a key times out once the watermark is past its timeout, so the
      // earliest open end − 1 ms fires when the watermark reaches that end
      state.setTimeoutTimestamp(Math.floorDiv(starts.head + sizeUs + 999L, 1000L) - 1L)
    }
    out.iterator
  }
}
