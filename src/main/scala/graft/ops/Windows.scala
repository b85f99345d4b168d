package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time window operators — W1–W5, A1, A3, E1, P6 of SURVEY.md §2.
  *
  * All functions are pure `DataFrame => DataFrame` over an arbitrary
  * timestamp column and key column, usable both in batch and (for the
  * group-window forms) streaming. Window bounds are `[start, end)` with
  * epoch-aligned floor assignment — identical semantics to Flink's
  * `TUMBLE`/`HOP` group windows and `TumblingEventTimeWindows.of(size,
  * offset)` (reference StreamJobSqlTumbling.java:149–152,
  * StreamJobTumblingOffset.java:157; SURVEY.md §4 items 1–2).
  *
  * Scale notes: the group-window counts are ordinary hash aggregates —
  * Catalyst plans partial (map-side) + final aggregation, so the shuffle
  * carries one row per (key, window) per input partition, not per event.
  * Window×key cardinality grows with time span, keeping the shuffle
  * balanced even when the raw key cardinality is tiny (the reference has
  * 8 railway classes).
  */
object Windows {

  /** W1/W4/W5 + A1 + A3 — tumbling event-time count.
    *
    * The flagship query (reference StreamJobSqlTumbling.java:145–153):
    * `SELECT CAST(key), COUNT(*), TUMBLE_START, TUMBLE_END FROM Inputs
    * GROUP BY TUMBLE(rowtime, size), key`. Window start/end come free as
    * fields of the `window()` group key (the reference needs a dedicated
    * `ProcessWindowFunction` for this — StreamJobTumblingOffset.java:203–219).
    *
    * `offset` shifts the window alignment: Flink's
    * `TumblingEventTimeWindows.of(size, offset)` (reference
    * StreamJobTumblingOffset.java:157) maps 1:1 onto
    * `window(ts, size, size, startTime = offset)`, and Spark's
    * `window(ts, size)` is that call with offset 0.
    */
  def tumblingCount(df: DataFrame, ts: Column, key: Column, size: String,
      offset: String = "0 seconds"): DataFrame =
    df.groupBy(window(ts, size, size, offset), key.cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("key"), col("cnt"),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"))

  /** W2 — hopping (sliding-by-period) count.
    *
    * Reference: `GROUP BY HOP(rowtime, slide, size)`
    * (StreamJobSqlHopping.java:149–153). The reference hard-codes
    * slide = 0 — degenerate (SURVEY.md §7.3); Spark requires slide > 0,
    * which we enforce and treat as the intended semantics.
    *
    * `window_rowtime` is the reference's `HOP_ROWTIME` output column
    * (StreamJobSqlHopping.java:157–165): Flink defines a group window's
    * rowtime attribute as window end − 1 ms — the largest timestamp
    * that still belongs to the half-open window, which keeps downstream
    * watermarks monotone. Emitted here with the same ruling.
    */
  def hoppingCount(df: DataFrame, ts: Column, key: Column, size: String, slide: String): DataFrame = {
    df.groupBy(window(ts, size, slide), key.cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("key"), col("cnt"),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        rowtime(col("window.end")).as("window_rowtime"))
  }

  /** A group window's rowtime, Flink's `HOP_ROWTIME`: its end − 1 ms. */
  def rowtime(windowEnd: Column): Column = windowEnd - expr("INTERVAL 1 MILLISECOND")

  /** W6 — cumulative (expanding) windows: per `maxSize` bucket, counts
    * over [start, start+step), [start, start+2·step), …,
    * [start, start+maxSize) — Flink's `CUMULATE` window TVF (the one
    * member of the Flink group-window family — tumble/hop/session/
    * cumulate — Spark has no built-in for).
    *
    * Scale shape (Flink's "slicing" optimization, not the naive
    * per-event explode): events are first tumbled into `step`-sized
    * slices — ONE shuffle of the raw data with map-side combine — and
    * only the pre-aggregated slices are exploded to the expanding
    * windows they feed (factor ≤ maxSize/step on rows that number
    * |keys|·|slices|, not |events|), then re-summed. At 100 TB the
    * heavy shuffle is the same one a plain tumble pays; the expansion
    * cost is proportional to the output, not the input.
    */
  def cumulateCount(df: DataFrame, ts: Column, key: Column, stepSec: Int, maxSizeSec: Int): DataFrame = {
    require(maxSizeSec % stepSec == 0, "maxSize must be a whole multiple of step")
    val stepMs = stepSec * 1000L
    val maxMs = maxSizeSec * 1000L
    val slices = df
      .groupBy(window(ts, s"$stepSec seconds").as("slice"), key.cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
    slices
      .select(
        col("key"), col("cnt"),
        // epoch-aligned bucket floor, matching window()'s alignment;
        // epochs are positive so `div` is a floor division
        timestamp_millis(expr(s"(unix_millis(slice.start) div $maxMs) * $maxMs")).as("window_start"),
        // first expanding window this slice is visible in ends at the
        // slice's own end offset within the bucket
        expr(s"unix_millis(slice.end) - (unix_millis(slice.start) div $maxMs) * $maxMs").as("first_off"))
      .select(col("key"), col("cnt"), col("window_start"),
        explode(sequence(col("first_off"), lit(maxMs), lit(stepMs))).as("off"))
      .groupBy(
        col("key"), col("window_start"),
        timestamp_millis(unix_millis(col("window_start")) + col("off")).as("window_end"))
      .agg(sum(col("cnt")).as("cnt"))
      .select(col("key"), col("cnt"), col("window_start"), col("window_end"))
  }

  /** W3 — per-row sliding OVER count (trailing range frame).
    *
    * Reference: `COUNT(*) OVER (PARTITION BY key ORDER BY rowtime RANGE
    * BETWEEN INTERVAL 'n' PRECEDING AND CURRENT ROW)`
    * (StreamJobSqlSliding.java:153–160; 30-minute hard-coded variant
    * StreamJobSingle.java:149–156). Output cardinality = input
    * cardinality. Frame is inclusive at both ends, matching Flink/SQL
    * RANGE semantics; ordering on `unix_micros` keeps full microsecond
    * precision (a bare `cast(ts as long)` would truncate to seconds).
    *
    * Scale note: a partition-by-key OVER sorts each key's rows in one
    * task — fine for high key cardinality, skewed for tiny (the
    * reference's 8 classes). [[slidingCountChunked]] is the
    * scale-out formulation; this form is reference-shaped and what the
    * oracle checks.
    */
  def slidingOverCount(df: DataFrame, ts: Column, key: Column, frameSeconds: Long): DataFrame = {
    val w = Window
      .partitionBy(key)
      .orderBy(unix_micros(ts))
      .rangeBetween(-frameSeconds * 1000000L, 0L)
    df.withColumn("trailing_cnt", count(lit(1)).over(w))
  }

  /** W3 at scale — time-chunked trailing count with boundary overlap.
    *
    * The OVER form above serializes each key into a single sorted task:
    * with few keys and 100 TB of events that is the bottleneck. This
    * variant partitions by (key, time-chunk) instead, so parallelism
    * scales with the time span regardless of key cardinality:
    *
    *  1. assign each event to chunk `floor(ts / chunkSeconds)`;
    *  2. replicate events within `frameSeconds` of a chunk's end into the
    *     next chunk (tagged owner=false) — only these can fall inside a
    *     next-chunk row's trailing frame;
    *  3. per (key, chunk) sort by ts and two-pointer the trailing count;
    *  4. keep only owner rows.
    *
    * Requires chunkSeconds >= frameSeconds. Replication factor is
    * 1 + frame/chunk ≤ 2. Verified equal to [[slidingOverCount]] by
    * WindowsSpec.
    */
  def slidingCountChunked(
      df: DataFrame,
      ts: Column,
      key: Column,
      frameSeconds: Long,
      chunkSeconds: Long): DataFrame = {
    require(chunkSeconds >= frameSeconds, "chunk must cover the frame")
    val frameUs = frameSeconds * 1000000L
    val chunkUs = chunkSeconds * 1000000L
    val base = df
      .withColumn("_us", unix_micros(ts))
      .withColumn("_chunk", floor(col("_us") / chunkUs))
    // owner copy + boundary replica into the following chunk
    val owners = base.withColumn("_owner", lit(true))
    val replicas = base
      .filter(col("_us") >= (col("_chunk") + 1) * chunkUs - frameUs)
      .withColumn("_chunk", col("_chunk") + 1)
      .withColumn("_owner", lit(false))
    val union = owners.unionByName(replicas)
    val w = Window
      .partitionBy(key, col("_chunk"))
      .orderBy(col("_us"))
      .rangeBetween(-frameUs, 0L)
    union
      .withColumn("trailing_cnt", count(lit(1)).over(w))
      .filter(col("_owner"))
      .drop("_us", "_chunk", "_owner")
  }

  /** Chunked lag-1 — previous event time per key with parallelism
    * independent of key cardinality (the same de-skew idea as
    * [[slidingCountChunked]], specialized to lag's 1-row dependency).
    *
    * A plain `lag(ts) OVER (PARTITION BY key ORDER BY ts)` serializes
    * each key into one sorted task — with 5 event types and 100 TB of
    * events that is 5 tasks. Here:
    *
    *  1. events are assigned to time chunk `floor(us / chunkSeconds)`;
    *  2. a tiny per-(key, chunk) aggregate (one row per non-empty
    *     chunk) records each chunk's last event time; a chunk-level
    *     window — rows = number of non-empty chunks, not events —
    *     carries it to the NEXT non-empty chunk (empty chunks are
    *     simply absent, so `lag` over chunk rows is exactly "latest
    *     earlier event");
    *  3. within each (key, chunk), `lag(us)` runs in parallel; the
    *     first row of a chunk falls back to the carried value.
    *
    * Output: input columns + `_us` (event unix micros) + `prev_us`
    * (previous event's unix micros for the key, null if none).
    * Verified equal to the single-partition lag by the q_lag_gap
    * oracle; PlanSpec asserts the (key, chunk) partitioning.
    */
  def lagUsChunked(df: DataFrame, ts: Column, key: Column, chunkSeconds: Long): DataFrame = {
    val chunkUs = chunkSeconds * 1000000L
    val base = df
      .withColumn("_us", unix_micros(ts))
      .withColumn("_chk", floor(col("_us") / chunkUs))
    val heads = base.groupBy(key.as("_ck"), col("_chk").as("_cchk"))
      .agg(max(col("_us")).as("_last"))
    val wChunks = Window.partitionBy(col("_ck")).orderBy(col("_cchk"))
    val carry = heads
      .withColumn("_carry", lag(col("_last"), 1).over(wChunks))
      .drop("_last")
    val wIn = Window.partitionBy(key, col("_chk")).orderBy(col("_us"))
    base
      .join(broadcast(carry), key === col("_ck") && col("_chk") === col("_cchk"), "left")
      .withColumn("prev_us", coalesce(lag(col("_us"), 1).over(wIn), col("_carry")))
      .drop("_ck", "_cchk", "_carry", "_chk")
  }

  /** De-skewed as-of match: each `probe` row (key, us, id) matched to
    * the latest `build` row (key, us) with build.us <= probe.us — the
    * point-in-time join, chunked like [[lagUsChunked]] so parallelism
    * scales with the time span instead of the key cardinality:
    *
    *  1. union both sides tagged (build kind 0 sorts before probe
    *     kind 1 at equal `us`, making the match at-or-before INCLUSIVE);
    *  2. within each (key, chunk) a running `max(build us)` window
    *     answers probes whose match is in their own chunk;
    *  3. a chunk-level frame (one row per non-empty (key, chunk) —
    *     rows ∝ active chunks, never events) carries the latest
    *     EARLIER-chunk build time in, joined back broadcast; `max`
    *     ignoring nulls skips build-less chunks.
    *
    * Output: key, id, us, asof_us (null when no build row at-or-before).
    * Oracle: DuckDB native ASOF JOIN (q_asof_join_chunked); crafted
    * edge cases (equal ts, empty-chunk carry, no prior build) pinned in
    * WindowsSpec.
    */
  def asofUsChunked(probe: DataFrame, build: DataFrame, chunkUs: Long): DataFrame = {
    val u = build.select(col("key"), col("us"), lit(0).as("kind"),
        lit(null).cast("long").as("id"))
      .unionByName(probe.select(col("key"), col("us"), lit(1).as("kind"), col("id")))
      .withColumn("_chk", floor(col("us") / chunkUs))
    val chunkAgg = u.groupBy(col("key").as("_ck"), col("_chk").as("_cchk"))
      .agg(max(when(col("kind") === 0, col("us"))).as("_cmax"))
    val wPrev = Window.partitionBy(col("_ck")).orderBy(col("_cchk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = chunkAgg
      .withColumn("_carry", max(col("_cmax")).over(wPrev))
      .drop("_cmax")
    val wIn = Window.partitionBy(col("key"), col("_chk"))
      .orderBy(col("us"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, 0)
    u.withColumn("_inchunk", max(when(col("kind") === 0, col("us"))).over(wIn))
      .filter(col("kind") === 1)
      .join(broadcast(carry),
        col("key") === col("_ck") && col("_chk") === col("_cchk"), "left")
      .select(col("key"), col("id"), col("us"),
        coalesce(col("_inchunk"), col("_carry")).as("asof_us"))
  }

  /** Session windows: events within `gap` of the previous event (per
    * key) share a session; bounds are [min ts, max ts + gap). Not in
    * the reference's surface (SURVEY.md §2 coverage notes list session
    * windows as absent) — included to complete the window family.
    * Spark's `session_window` merges partial sessions in the same
    * shuffle as the count aggregate. The same plan streams as is: on a
    * watermarked stream ([[graft.ingest.Ingest.withEventTime]]) partial
    * sessions merge inside the stateful aggregation that holds the
    * counts, a session finalizes (append mode) once the watermark
    * passes its end, and state per key is only the open sessions.
    */
  def sessionCount(df: DataFrame, ts: Column, key: Column, gap: String): DataFrame =
    df.groupBy(session_window(ts, gap), key.cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("key"), col("cnt"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"))

  /** Per-session ordered event-type path — one row per (key, session):
    * the session's events concatenated in (ts, event_id) order (a
    * TOTAL order: event_id is unique, so the path is deterministic
    * under any partitioning). Pure plan function shared by the batch
    * top-paths query (`q_session_paths`) and its streaming form: on a
    * watermarked stream ([[graft.ingest.Ingest.withEventTime]]) the same
    * session_window aggregate emits each session's final path once the
    * watermark passes its end, and state holds only the open sessions. */
  def sessionPaths(df: DataFrame, ts: Column, key: Column, gap: String): DataFrame =
    df.groupBy(session_window(ts, gap), key.as("key"))
      .agg(sort_array(collect_list(
        struct(ts.as("ts"), col("event_id"), col("event_type")))).as("evs"),
        count(lit(1)).as("n_events"))
      .select(
        col("key"),
        col("session_window.start").as("session_start"),
        concat_ws(">", transform(col("evs"), e => e.getField("event_type"))).as("path"),
        col("n_events"))

  /** Converged upsert state of the streaming jobs: last window per key.
    *
    * The reference's sinks upsert keyed on (class, window_start,
    * window_end) so the externally visible steady state per key is the
    * latest window's row (reference sink/SinkDataApiTumbling.java:236–238,
    * README.MD:88). Batch formulation: rank windows per key, keep rank 1.
    */
  def lastWindowPerKey(tumbled: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("window_start").desc)
    tumbled
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }
}
