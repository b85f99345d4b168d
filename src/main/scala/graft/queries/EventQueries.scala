package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CountAggregate
import graft.ingest.Ingest
import graft.model.{Schemas, Tables}
import graft.ops.Windows

/** Reference-parity queries over the `events` table (the harness
  * stand-in for the Kinesis GeoJSON stream — FIXTURES.md §3).
  * `ts` plays `RECEIVED_ON`, `event_type` plays `N02_001`.
  *
  * Each entry has a DuckDB oracle in [[oracles]] with identical output
  * column names (the driver's compare is name-sorted).
  */
object EventQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** CEP step bound: each pattern step must follow the previous within
    * this many minutes. */
  private[graft] val CepStepMinutes = 240

  /** The three greedy first-match CEP stages per (user, day) — shared
    * by [[cepFirstMatch]] (full matches) and [[cepTimeouts]] (the
    * Flink `within()` timeout side-output). */
  private def cepStages(e0: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val step = expr(s"INTERVAL $CepStepMinutes MINUTES")
    val e = e0.select(col("user_id"),
      to_date(col("ts")).as("day"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id", "day").agg(min(col("ts")).as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id", "day"))
      .filter(col("ts") > col("t_view") && col("ts") <= col("t_view") + step)
      .groupBy("user_id", "day")
      .agg(min(col("t_view")).as("t_view"), min(col("ts")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id", "day"))
      .filter(col("ts") > col("t_click") && col("ts") <= col("t_click") + step)
      .groupBy("user_id", "day")
      .agg(min(col("t_view")).as("t_view"), min(col("t_click")).as("t_click"),
        min(col("ts")).as("t_purchase"))
    (v, c, p)
  }

  private[graft] def cepFirstMatch(e0: DataFrame): DataFrame = {
    val (_, _, p) = cepStages(e0)
    p.select("user_id", "day", "t_view", "t_click", "t_purchase")
  }

  /** Flink CEP timeout side-output parity: the (user, day) groups whose
    * greedy pattern STALLED — a first view with no qualifying click in
    * the step window ('view'), or a matched click with no qualifying
    * purchase ('click') — with the last matched timestamp and the
    * deadline that expired. Anti-joins against the next stage, both
    * keyed (user, day) like every CEP shuffle here. */
  private[graft] def cepTimeouts(e0: DataFrame): DataFrame = {
    val step = expr(s"INTERVAL $CepStepMinutes MINUTES")
    val (v, c, p) = cepStages(e0)
    val toClick = v.join(c.select("user_id", "day"), Seq("user_id", "day"), "left_anti")
      .select(col("user_id"), col("day"), lit("view").as("stage_reached"),
        col("t_view").as("t_last"), (col("t_view") + step).as("deadline"))
    val toPurchase = c.join(p.select("user_id", "day"), Seq("user_id", "day"), "left_anti")
      .select(col("user_id"), col("day"), lit("click").as("stage_reached"),
        col("t_click").as("t_last"), (col("t_click") + step).as("deadline"))
    toClick.unionByName(toPurchase)
  }

  /** The q_resample_interpolate body as a pure frame function over
    * (event_type, ts, value, event_id). */
  private[graft] def resampleInterpolate(e: DataFrame): DataFrame = {
    val b = e
      .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("m"))
      .agg(max_by(col("value"), col("event_id")).as("v"))
    val sp = b.groupBy("event_type").agg(min(col("m")).as("lo"), max(col("m")).as("hi"))
    val grid = sp.select(col("event_type"),
      explode(sequence(col("lo"), col("hi"), expr("interval 1 minute"))).as("m"))
    val j = grid.join(b, Seq("event_type", "m"), "left")
    val wPrev = Window.partitionBy("event_type").orderBy("m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the next anchor is the previous one in descending order: a running
    // frame like wPrev, linear per type (a currentRow → unboundedFollowing
    // frame re-scans the rest of the partition for every row)
    val wNext = Window.partitionBy("event_type").orderBy(desc("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    j.withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("pm", last(when(col("v").isNotNull, col("m")), ignoreNulls = true).over(wPrev))
      .withColumn("nv", last(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nm", last(when(col("v").isNotNull, col("m")), ignoreNulls = true).over(wNext))
      .select(col("event_type"), col("m").as("minute"),
        when(col("v").isNotNull, col("v")).otherwise(
          col("pv") + (col("nv") - col("pv")) *
            ((unix_micros(col("m")) - unix_micros(col("pm"))).cast("double") /
              (unix_micros(col("nm")) - unix_micros(col("pm"))).cast("double")))
          .as("value_interp"),
        when(col("v").isNotNull, 0L).otherwise(1L).as("is_filled"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TIME-SERIES RESAMPLE + GAP FILL — regularize an irregular event
    // series onto a minute grid: per (type, minute) the anchor is the
    // max-event_id event's value (deterministic pick, NO float
    // summation — cross-engine float equality only survives when both
    // engines execute the same IEEE expression tree on the same
    // operands); missing minutes linearly interpolate between the
    // nearest anchors on each side (grid endpoints are anchors by
    // construction, so both neighbors always exist). The ML-feature
    // prep shape every training pipeline needs before windowed
    // feature extraction. Scale: the anchor aggregate is map-side
    // combined over events; the exploded grid is SPAN-bounded
    // (types × minutes), not event-bounded, and the fill windows run
    // per type over grid rows only.
    "q_resample_interpolate" -> ((s, dir) => resampleInterpolate(events(s, dir))),

    // idempotent-ingest windowed dedup — the batch form of Spark's
    // streaming retention contract (dropDuplicatesWithinWatermark):
    // duplicate payloads within the same hour collapse to their first
    // event; copies an hour apart are distinct on purpose (the standard
    // windowed-dedup ruling).
    // One map-side-combined hash aggregate keyed (digest, bucket) —
    // at 100 TB the bucket is the partition column, so reprocessing a
    // day touches 24 partitions and the dedup never rescans history.
    "q_event_dedup_hourly" -> ((s, dir) =>
      events(s, dir)
        .groupBy(md5(col("props").cast("binary")).as("digest"),
          date_trunc("hour", col("ts")).as("bucket"))
        .agg(min(col("event_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select("digest", "bucket", "keep_id", "n_copies")),

    // W1/W4/A1/E1 — flagship tumbling count (StreamJobSqlTumbling.java:145–153)
    "q_tumbling_count" -> ((s, dir) =>
      Windows.tumblingCount(events(s, dir), col("ts"), col("event_type"), "1 minute")),

    // W2 — hopping count, slide>0 (StreamJobSqlHopping.java:149–153; SURVEY §7.3)
    "q_hopping_count" -> ((s, dir) =>
      Windows.hoppingCount(events(s, dir), col("ts"), col("event_type"), "2 minutes", "1 minute")),

    // W5 — tumbling with alignment offset (StreamJobTumblingOffset.java:157)
    "q_tumbling_offset" -> ((s, dir) =>
      Windows.tumblingCount(events(s, dir), col("ts"), col("event_type"), "60 seconds", "15 seconds")),

    // W6 — cumulative (expanding) windows, 1-minute step inside a
    // 4-minute bucket (Flink CUMULATE TVF; slice-optimized — see
    // Windows.cumulateCount)
    "q_cumulate_count" -> ((s, dir) =>
      Windows.cumulateCount(events(s, dir), col("ts"), col("event_type"), stepSec = 60, maxSizeSec = 240)),

    // W3 — per-row trailing 60 s count (StreamJobSqlSliding.java:153–160)
    "q_sliding_over_1m" -> ((s, dir) =>
      Windows.slidingOverCount(events(s, dir), col("ts"), col("event_type"), 60L)
        .select(col("event_id"), col("event_type"), col("trailing_cnt"))),

    // W3 variant — hard-coded 30-minute frame (StreamJobSingle.java:149–156)
    "q_sliding_over_30m" -> ((s, dir) =>
      Windows.slidingOverCount(events(s, dir), col("ts"), col("event_type"), 1800L)
        .select(col("event_id"), col("event_type"), col("trailing_cnt"))),

    // W3 at scale — time-chunked trailing count, same answer as the OVER
    // form but parallelism independent of key cardinality (Windows.scala)
    "q_sliding_over_chunked" -> ((s, dir) =>
      Windows.slidingCountChunked(events(s, dir), col("ts"), col("event_type"), 60L, 300L)
        .select(col("event_id"), col("event_type"), col("trailing_cnt"))),

    // session windows (gap 5 minutes) — completes the window family
    "q_session_window" -> ((s, dir) =>
      Windows.sessionCount(events(s, dir), col("ts"), col("event_type"), "5 minutes")),

    // SESSION PATHS — the product-analytics classic over the session
    // family: per-user 5-minute-gap sessions (built-in session_window),
    // each reduced to its ordered event-type path, then the top-20
    // paths by session count. Path order is pinned by sort_array over
    // (ts, event_id, type) — a TOTAL order (event_id unique), so the
    // concatenated path is deterministic under any partitioning; the
    // top-20 cut orders by (n_sessions DESC, path), also total. One
    // session-window aggregate (shuffle by user) + one path aggregate
    // (shuffle by path, map-side combined) + TakeOrdered — the same
    // two-shuffle profile as word-count at 100 TB.
    "q_session_paths" -> ((s, dir) =>
      Windows.sessionPaths(events(s, dir), col("ts"), col("user_id"), "5 minutes")
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(20)),

    // Q1/P4/P5 — the SQL-string form of the flagship query: temp-view
    // registration + spark.sql text, mirroring the reference's inline
    // SQL path (tableEnv.sqlQuery — StreamJobSqlTumbling.java:142–153)
    // with the window parameters bound into the text. Same result as
    // q_tumbling_count by construction (W1/W4 SQL-vs-DSL duality).
    "q_tumbling_count_sql" -> ((s, dir) => {
      // unique view name per invocation, dropped once the plan is
      // analyzed (spark.sql resolves eagerly) — no global-name side
      // effect on the shared session (concurrent callers can't clash)
      val view = s"graft_inputs_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      events(s, dir).createOrReplaceTempView(view)
      try {
        s.sql(
          s"""SELECT CAST(event_type AS STRING) AS key, COUNT(*) AS cnt,
             |       window(ts, '1 minute').start AS window_start,
             |       window(ts, '1 minute').end AS window_end
             |FROM $view
             |GROUP BY window(ts, '1 minute'), event_type""".stripMargin)
      } finally s.catalog.dropTempView(view)
    }),

    // S2/P1 — JSON field extraction from the props envelope
    // (StreamJobSqlTumbling.java:106–119 reads properties.* from JSON)
    "q_json_extract" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("cnt"))),

    // P2 — timestamp format round-trip through the reference's ISO-micros
    // pattern (StreamJobSqlTumbling.java:64–77); fallback path unit-tested
    "q_ts_roundtrip" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_type"), col("ts"),
          date_format(col("ts"), Schemas.isoMicros).as("iso"))
        .groupBy("event_type")
        .agg(
          count(when(to_timestamp(col("iso"), Schemas.isoMicros) === col("ts"), 1)).as("n_roundtrip"),
          count(lit(1)).as("cnt"))),

    // A2 — custom incremental count Aggregator
    // (StreamJobTumblingOffset.java:176–200)
    "q_count_aggregator" -> ((s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(CountAggregate(col("event_id")).as("cnt"))),

    // X1–X3 converged upsert state: latest window per key
    // (sink/SinkDataApiTumbling.java:236–238, README.MD:88)
    "q_last_window_upsert" -> ((s, dir) =>
      Windows.lastWindowPerKey(
        Windows.tumblingCount(events(s, dir), col("ts"), col("event_type"), "1 minute"))),

    // skew-resistant two-phase aggregation: salt the hot key space into
    // 16 shards (phase 1 partial counts per (key, salt)), then merge
    // per key (phase 2). Result is exactly the plain groupBy — the
    // oracle proves salting is semantics-preserving. With 5 event
    // types, an unsalted shuffle puts each key's entire volume on one
    // reducer; salting spreads it 16-way. (Catalyst's partial
    // aggregation already does this implicitly for COUNT; the explicit
    // form is the pattern for when the aggregate state itself is big —
    // distinct sets, sketches, collect_list.)
    "q_salted_agg" -> ((s, dir) =>
      events(s, dir)
        .withColumn("_salt", pmod(col("event_id"), lit(16)))
        .groupBy(col("event_type"), col("_salt"))
        // value is cent-valued → integer cents at the ROW, so both the
        // salted partials and their merge are exact BIGINT sums (the
        // q11 ulp-lottery discipline; RelationalQueries.cents)
        .agg(count(lit(1)).as("partial"),
          sum(RelationalQueries.cents(col("value"))).as("pcents"))
        .groupBy("event_type")
        .agg(sum(col("partial")).as("cnt"),
          RelationalQueries.money(sum(col("pcents"))).as("sum_value"))),

    // plain grouped aggregate over the stream table (A1 surface)
    "q_agg_value_stats" -> ((s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("cnt"),
          RelationalQueries.money(sum(RelationalQueries.cents(col("value"))))
            .as("sum_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))),

    // PIVOT: the wide event-type × hour activity matrix (the reporting
    // shape BI layers ask of an event table). The pivot values are
    // ENUMERATED, not discovered: discovery costs an extra distinct
    // job before planning and makes the output schema data-dependent —
    // at 100 TB the category set must be a declared contract anyway.
    // Written as conditional counts rather than `Dataset.pivot`, which
    // lowers to TWO shuffles (a (hour, type) pre-aggregate under a
    // pivotfirst aggregate); the conditional-count form is one hash
    // aggregate keyed on the hour — each map-side partial carries one
    // row per hour with all five counters, and absent cells are 0 by
    // construction (count of a never-true WHEN), keeping the matrix
    // dense without a coalesce pass.
    "q_pivot_hourly_matrix" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cells = types.map(t => count(when(col("event_type") === t, 1)).as(t))
      events(s, dir)
        .select(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .groupBy("hour")
        .agg(cells.head, cells.tail: _*)
    }),

    // Trailing-window anomaly screen: per event type, each hour's
    // count z-scored against the previous ≤6 hours — the ops alarm
    // run over every metric stream ("did errors spike this hour?").
    // Numerical discipline: both moments are EXACT integer window
    // sums, the discriminant n·s2 − s1² is integer arithmetic, and
    // z = (c·n − s1)/√disc is ONE sqrt + ONE division — so z and the
    // |z| > 3 verdict are engine-identical (a naive avg/stddev window
    // would be FP-accumulation-order-dependent). Shape at 100 TB: one
    // map-combined shuffle down to (hour, type) counts, then a
    // per-type ROWS window over ≤ #hours rows — the window input is
    // aggregate-sized, never event-sized.
    "q_hourly_anomaly" -> ((s, dir) => {
      val counts = events(s, dir)
        .select(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .groupBy("hour", "event_type").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("hour").rowsBetween(-6, -1)
      val zRaw = (col("cnt") * col("n_prev") - col("s1")).cast("double") /
        sqrt(col("disc").cast("double"))
      counts
        .withColumn("n_prev", count(col("cnt")).over(w))
        .withColumn("s1", coalesce(sum(col("cnt")).over(w), lit(0L)))
        .withColumn("s2", coalesce(sum(col("cnt") * col("cnt")).over(w), lit(0L)))
        .withColumn("disc", col("n_prev") * col("s2") - col("s1") * col("s1"))
        .select(col("hour"), col("event_type"), col("cnt"), col("n_prev"),
          when(col("disc") > 0, round(zRaw, 6)).as("z"),
          when(col("disc") > 0, (abs(zRaw) > 3.0).cast("long"))
            .otherwise(lit(0L)).as("is_anomaly"))
    }),

    // Hourly distinct users via the HLL sketch — THE canonical
    // windowed-sketch workload: per (hour × partition) ONE 256-byte
    // register array crosses the shuffle instead of the hour's
    // distinct user set, and the elementwise-max merge is idempotent,
    // so replayed or duplicated events cannot skew it (the property
    // that makes it safe under at-least-once streaming delivery —
    // SketchesSpec proves incremental == batch on the same aggregate).
    // Exact countDistinct rides along to exhibit the estimate error;
    // estimator arithmetic identical to q_distinct_hll.
    "q_hourly_distinct_hll" -> ((s, dir) =>
      events(s, dir)
        .select(date_trunc("hour", col("ts")).as("hour"), col("user_id"),
          ((col("user_id") * lit(2654435761L) + lit(104729L)) % lit(2147483647L)).as("h"))
        .groupBy("hour")
        .agg(
          graft.functions.Sketches.hllRegisters(col("h"), p = 8).as("regs"),
          countDistinct(col("user_id")).as("exact_distinct"))
        .select(col("hour"), col("exact_distinct"),
          expr("size(filter(regs, r -> r = 0L))").cast("long").as("n_zero_regs"),
          expr("round((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / " +
            "aggregate(regs, cast(0.0 as double), " +
            "(acc, r) -> acc + 1.0 / cast(shiftleft(1L, cast(r as int)) as double)), 2)")
            .as("hll_estimate"))),

    // Flink streaming-SQL "Window Top-N" (ROW_NUMBER OVER a window
    // aggregate, rank filter ≤ N): the top-3 most active users per
    // 1-hour tumbling window. Spark 4 plans the rank filter as a
    // WindowGroupLimit (PlanSpec pins it): each map-side partition
    // keeps only its local top-3 per hour BEFORE the per-hour exchange
    // + sort, so the shuffle carries O(hours × 3) rows per partition —
    // the property that makes per-window leaderboards viable when one
    // window holds millions of keys.
    "q_window_topn" -> ((s, dir) => {
      val counts = events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start").as("window_start"), col("user_id"), col("cnt"))
      val wn = Window.partitionBy(col("window_start"))
        .orderBy(col("cnt").desc, col("user_id"))
      counts.withColumn("rnk", row_number().over(wn)).filter(col("rnk") <= 3)
    }),

    // distribution-rank window functions (NTILE / PERCENT_RANK /
    // CUME_DIST) — the remaining corner of the OVER surface next to
    // rank (q_rank_suppliers) and lag (q_lag_gap). Per event type the
    // values are quartiled on a TOTAL order (value, event_id — ties
    // broken by the unique id, so every rank function is
    // deterministic), then compressed to one row per (type, quartile)
    // with the bucket's count, value range, and boundary ranks.
    //
    // EXACT AND SORT-FREE (round 14): the round-13 plan was one
    // WindowExec partitioned by event_type alone — 5 keys means 5
    // giant partitions, each totally sorted, a single-key-sort scale
    // killer at 100 TB (measured 35× at ×100 data). The global rank is
    // instead ASSEMBLED from a value-range bucketing, the same
    // hash-range-bucket + offset-window pattern as
    // pipeline_epoch_shuffle:
    //   1. per type: (min, max, n) — one map-side-combined aggregate;
    //   2. each row gets a RANGE bucket floor((v−min)/width)·— any
    //      deterministic value-monotone bucketing works because equal
    //      values share a bucket and buckets partition the order;
    //   3. per-(type, bucket) counts → running offset, a window over
    //      ≤ types×NtileRangeBuckets aggregate rows (never row data);
    //   4. rank = offset + row_number within (type, bucket) — the only
    //      corpus-scale window, now partitioned NtileRangeBuckets-fold
    //      finer than the key alone;
    //   5. NTILE/PERCENT_RANK/CUME_DIST are pure integer arithmetic on
    //      (rank, n): ntile's inverse is closed-form (first n mod 4
    //      tiles hold ⌈n/4⌉ rows), pr = (r−1)/(n−1), cd = r/n — the
    //      IDENTICAL integer operands Spark's window functions divide,
    //      so the doubles are bit-equal and the oracle is unchanged.
    // At 100 TB: raise NtileRangeBuckets; everything else is hash
    // aggregates and 1-row-per-(type,bucket) broadcasts.
    "q_value_ntile" -> ((s, dir) => {
      val nBuckets = 64 // per-key parallelism multiplier for the rank window
      val e = events(s, dir).select(col("event_type"), col("value"), col("event_id"))
      val stats = e.groupBy("event_type").agg(
        min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        count(lit(1)).as("n"))
      val bucketed = e.join(broadcast(stats), "event_type")
        .withColumn("bkt",
          when(col("vmax") === col("vmin"), lit(0))
            .otherwise(least(
              floor((col("value") - col("vmin")) /
                ((col("vmax") - col("vmin")) / nBuckets)).cast("int"),
              lit(nBuckets - 1))))
      val bcnt = bucketed.groupBy("event_type", "bkt").agg(count(lit(1)).as("c"))
      val wOff = Window.partitionBy(col("event_type")).orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = bcnt
        .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
        .select(col("event_type"), col("bkt"), col("off"))
      val wRn = Window.partitionBy(col("event_type"), col("bkt"))
        .orderBy(col("value"), col("event_id"))
      val ranked = bucketed.join(broadcast(offsets), Seq("event_type", "bkt"))
        .withColumn("r", col("off") + row_number().over(wRn))
      // ntile(4) inverse: base = n div 4, rem = n mod 4; tiles 1..rem
      // hold base+1 rows, tiles rem+1..4 hold base rows
      val base = expr("n div 4")
      val rem = pmod(col("n"), lit(4L))
      val quartile = when(col("r") <= rem * (base + 1),
          expr("(r + (n div 4)) div ((n div 4) + 1)"))
        .otherwise(rem +
          expr("(r - (n % 4) * ((n div 4) + 1) + (n div 4) - 1) div greatest(n div 4, 1)"))
      ranked
        .withColumn("quartile", quartile.cast("int"))
        .withColumn("pr",
          when(col("n") === 1, lit(0.0))
            .otherwise((col("r") - 1).cast("double") / (col("n") - 1).cast("double")))
        .withColumn("cd", col("r").cast("double") / col("n").cast("double"))
        .groupBy(col("event_type"), col("quartile"))
        .agg(count(lit(1)).as("cnt"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          max(col("pr")).as("max_percent_rank"),
          max(col("cd")).as("max_cume_dist"))
    }),

    // funnel analysis: how many users progress view → click →
    // purchase, each stage STRICTLY AFTER the previous one (an
    // out-of-order click doesn't count). Stage frames are conditional
    // min-timestamp aggregates chained by user-keyed equi-joins — every
    // shuffle is keyed on user_id, so at 100 TB each stage is one
    // hash-partitioned pass with map-side combine, and the stage counts
    // are single-row scalars cross-joined at the end (broadcast of one
    // row each — the documented scalar-broadcast pattern).
    "q_funnel_stages" -> ((s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      val f1 = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val f2 = e.filter(col("event_type") === "click").join(f1, "user_id")
        .filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val f3 = e.filter(col("event_type") === "purchase").join(f2, "user_id")
        .filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      f1.agg(count(lit(1)).as("n_view"))
        .crossJoin(f2.agg(count(lit(1)).as("n_click_after")))
        .crossJoin(f3.agg(count(lit(1)).as("n_purchase_after")))
    }),

    // CEP first-match with time constraints (Flink-CEP parity:
    // begin("view").next-by-time("click").next-by-time("purchase")
    // .within(4 h per step), AFTER MATCH SKIP — the greedy
    // earliest-occurrence semantics): per (user, day), the day's FIRST
    // view, then the first click within 4 h AFTER it, then the
    // first purchase within 4 h after THAT; one row per completed
    // match with all three timestamps. Greedy-from-first is the
    // deterministic, constant-state contract (a later view never
    // reopens the pattern once the first view's window lapses) and the
    // day scope is what would bound a streaming form's state: a
    // (user, day) group can wait for the watermark to close the day,
    // replay this exact chain, and be evicted. Same chained
    // conditional-min plan as the funnel: every shuffle keyed
    // (user, day), map-side combined, no new shape at 100 TB.
    "q_cep_first_match" -> ((s, dir) => cepFirstMatch(events(s, dir))),

    // the timeout SIDE-OUTPUT of the CEP pattern (Flink `within()`
    // parity): who stalled, at which stage, and when the window
    // expired — the abandonment metric the first-match query cannot
    // see; anti-joins on the same (user, day) keys
    "q_cep_timeouts" -> ((s, dir) => cepTimeouts(events(s, dir))),

    // in-session behavior as a first-order MARKOV CHAIN: consecutive
    // event pairs within one user's 5-minute-gap session, counted per
    // (from, to) with the row-normalized transition probability — the
    // matrix funnel/path analyses are projections of. One per-user
    // window (users are the parallelism, like the asof join), one
    // grouped count, one broadcast-sized row-total join; ordering is
    // total on (unix_micros, event_id) so ties never move a pair
    // across engines.
    "q_markov_transitions" -> ((s, dir) => {
      val wu = Window.partitionBy("user_id").orderBy(col("_us"), col("event_id"))
      val t = events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("_us"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(wu))
        .withColumn("prev_us", lag(col("_us"), 1).over(wu))
        .filter(col("prev_type").isNotNull &&
          col("_us") - col("prev_us") <= lit(300L * 1000000L))
      val cnt = t.groupBy(col("prev_type").as("from_type"),
          col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy("from_type").agg(sum(col("n")).as("n_from"))
      cnt.join(broadcast(tot), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("n_from").cast("double"), 6).as("p"))
    }),

    // hourly conversion funnel: the windowed form of q_funnel_stages —
    // stage ordering evaluated WITHIN each (user, hour) scope, so the
    // metric is streamable with bounded state (buffer each (user, hour)
    // until the watermark passes it, then evict it). Same chained
    // conditional-min shape, every shuffle keyed on (user, hour);
    // later stages' hours are subsets of earlier ones, so the hour
    // roll-up is a left-join chain with dense zeros.
    "q_funnel_hourly" -> ((s, dir) => {
      val e = events(s, dir).select(
        date_trunc("hour", col("ts")).as("hour"), col("user_id"),
        col("event_type"), col("ts"))
      val f1 = e.filter(col("event_type") === "view")
        .groupBy("hour", "user_id").agg(min(col("ts")).as("t1"))
      val f2 = e.filter(col("event_type") === "click").join(f1, Seq("hour", "user_id"))
        .filter(col("ts") > col("t1"))
        .groupBy("hour", "user_id").agg(min(col("ts")).as("t2"))
      val f3 = e.filter(col("event_type") === "purchase").join(f2, Seq("hour", "user_id"))
        .filter(col("ts") > col("t2"))
        .groupBy("hour", "user_id").agg(min(col("ts")).as("t3"))
      f1.groupBy("hour").agg(count(lit(1)).as("n_view"))
        .join(f2.groupBy("hour").agg(count(lit(1)).as("n_click_after")), Seq("hour"), "left")
        .join(f3.groupBy("hour").agg(count(lit(1)).as("n_purchase_after")), Seq("hour"), "left")
        .select(col("hour"),
          col("n_view"),
          coalesce(col("n_click_after"), lit(0L)).as("n_click_after"),
          coalesce(col("n_purchase_after"), lit(0L)).as("n_purchase_after"))
    }),

    // retention cohorts: users grouped by first-seen day, activity
    // counted per day-offset from that cohort day — the standard
    // engagement triangle. The cohort frame (one row per user) joins
    // back on user_id (co-partitioned equi-join, never broadcast at
    // scale), and the final distinct-user count per (cohort, offset)
    // is the only other shuffle.
    "q_retention_cohorts" -> ((s, dir) => {
      val e = events(s, dir).select(col("user_id"), to_date(col("ts")).as("day"))
      val cohort = e.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      e.join(cohort, "user_id")
        .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
    }),

    // UNPIVOT (melt): the inverse reshape — wide matrix back to long
    // (hour, event_type, cnt). Unpivot is a zero-shuffle Expand (each
    // wide row emits one row per value column, map-side), so the
    // round-trip costs exactly the pivot's one aggregate. The cnt > 0
    // filter drops the dense zeros pivot fabricates, making the
    // round-trip IDENTITY with the plain long-form groupBy — which is
    // the oracle: reshape operators must not invent or lose data.
    "q_unpivot_roundtrip" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cells = types.map(t => count(when(col("event_type") === t, 1)).as(t))
      events(s, dir)
        .select(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .groupBy("hour")
        .agg(cells.head, cells.tail: _*)
        .unpivot(Array(col("hour")), types.map(col).toArray, "event_type", "cnt")
        .filter(col("cnt") > 0)
    }),

    // WINDOW JOIN — the Flink DataStream join family member the suite
    // had not named yet (stream.join(other).where(key).window(tumble)):
    // clicks and purchases of the same user meeting in the same
    // 10-minute tumbling window, aggregated per window. The join key
    // is (user, window) — a pure equi-join whose window component
    // would also bound a streaming form's state. Pair fan-out is
    // bounded by per-user-per-window activity, never corpus size.
    "q_window_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"),
          window(col("ts"), "10 minutes").as("cw"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          window(col("ts"), "10 minutes").as("pw"), col("value"))
      purchases.join(clicks,
          col("p_user") === col("c_user") && col("pw") === col("cw"))
        .groupBy(col("pw.start").as("window_start"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("p_user")).as("n_users"),
          RelationalQueries.money(sum(RelationalQueries.cents(col("value"))))
            .as("paired_value"))
    }),

    // DAU/WAU/MAU stickiness — the product-health dashboard staple:
    // per-day distinct actives joined to the calendar-week and
    // calendar-month distinct actives covering that day, stickiness =
    // dau/mau. Three distinct-count aggregates at three grains (each
    // map-side partially aggregated on (grain, user)); the weekly and
    // monthly frames are calendar-sized, so they broadcast — the fact
    // table shuffles only for its own distinct, never for the join.
    // The calendar grains (not a 28-day sliding window) are the
    // at-scale formulation: a sliding distinct would hold per-day user
    // sets in window state, while calendar grains stay pure aggregates.
    "q_dau_mau" -> ((s, dir) => {
      val ev = events(s, dir).select(
        date_trunc("day", col("ts")).as("day"),
        date_trunc("week", col("ts")).as("week"),
        date_trunc("month", col("ts")).as("month"),
        col("user_id"))
      val dau = ev.groupBy("day", "week", "month")
        .agg(countDistinct(col("user_id")).as("dau"))
      val wau = ev.groupBy("week").agg(countDistinct(col("user_id")).as("wau"))
      val mau = ev.groupBy("month").agg(countDistinct(col("user_id")).as("mau"))
      dau.join(broadcast(wau), "week").join(broadcast(mau), "month")
        .select(col("day"), col("dau"), col("wau"), col("mau"),
          round(col("dau").cast("double") / col("mau").cast("double"), 6)
            .as("stickiness"))
    })
  )

  val oracles: Map[String, String] = Map(
    // same anchor pick (arg_max on the unique event_id), same grid,
    // same IEEE interpolation expression tree — values equal to the
    // last bit, no rounding needed
    "q_resample_interpolate" ->
      """WITH b AS (
        |  SELECT event_type, date_trunc('minute', ts) AS m,
        |         arg_max(value, event_id) AS v
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(m) AS lo, max(m) AS hi FROM b GROUP BY 1),
        |grid AS (
        |  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS m
        |  FROM sp),
        |j AS (
        |  SELECT g.event_type, g.m, b.v
        |  FROM grid g LEFT JOIN b ON b.event_type = g.event_type AND b.m = g.m),
        |f AS (
        |  SELECT event_type, m, v,
        |         last_value(v IGNORE NULLS) OVER wp AS pv,
        |         last_value(CASE WHEN v IS NOT NULL THEN m END IGNORE NULLS) OVER wp AS pm,
        |         first_value(v IGNORE NULLS) OVER wn AS nv,
        |         first_value(CASE WHEN v IS NOT NULL THEN m END IGNORE NULLS) OVER wn AS nm
        |  FROM j
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY m
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY event_type ORDER BY m
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, m AS minute,
        |       CASE WHEN v IS NOT NULL THEN v
        |            ELSE pv + (nv - pv) *
        |                 (CAST(epoch_us(m) - epoch_us(pm) AS DOUBLE) /
        |                  CAST(epoch_us(nm) - epoch_us(pm) AS DOUBLE)) END AS value_interp,
        |       CAST(CASE WHEN v IS NOT NULL THEN 0 ELSE 1 END AS BIGINT) AS is_filled
        |FROM f""".stripMargin,

    // identical exact-integer moments + one sqrt/division; the ROWS
    // frame is deterministic because hour is unique per type
    "q_hourly_anomaly" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT hour, event_type, cnt,
        |         CAST(count(cnt) OVER win AS BIGINT) AS n_prev,
        |         CAST(coalesce(sum(cnt) OVER win, 0) AS BIGINT) AS s1,
        |         CAST(coalesce(sum(cnt * cnt) OVER win, 0) AS BIGINT) AS s2
        |  FROM c
        |  WINDOW win AS (PARTITION BY event_type ORDER BY hour
        |                 ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
        |d AS (SELECT *, n_prev * s2 - s1 * s1 AS disc FROM w)
        |SELECT hour, event_type, cnt, n_prev,
        |       CASE WHEN disc > 0
        |            THEN round(CAST(cnt * n_prev - s1 AS DOUBLE) / sqrt(CAST(disc AS DOUBLE)), 6)
        |       END AS z,
        |       CAST(CASE WHEN disc > 0
        |                  AND abs(CAST(cnt * n_prev - s1 AS DOUBLE) / sqrt(CAST(disc AS DOUBLE))) > 3.0
        |                 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM d""".stripMargin,

    // register-exact windowed HLL replica — same arithmetic as the
    // q_distinct_hll oracle, keyed by the hour bucket
    "q_hourly_distinct_hll" ->
      """WITH h AS (
        |  SELECT DISTINCT date_trunc('hour', ts) AS hour,
        |         (user_id*2654435761+104729)%2147483647 AS h
        |  FROM events),
        |hr AS (
        |  SELECT hour, h // 8388608 AS reg,
        |         CASE WHEN h % 8388608 = 0 THEN 24
        |              ELSE 24 - length(printf('%b', h % 8388608)) END AS rho
        |  FROM h),
        |mx AS (SELECT hour, reg, max(rho) AS mr FROM hr GROUP BY 1, 2),
        |regs AS (
        |  SELECT f.hour, r.reg, coalesce(mx.mr, 0) AS mr
        |  FROM (SELECT DISTINCT date_trunc('hour', ts) AS hour FROM events) f
        |  CROSS JOIN (SELECT unnest(range(0, 256)) AS reg) r
        |  LEFT JOIN mx ON mx.hour = f.hour AND mx.reg = r.reg),
        |z AS (
        |  SELECT hour,
        |         sum(1.0 / CAST((1::BIGINT << mr) AS DOUBLE)) AS zsum,
        |         CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_regs
        |  FROM regs GROUP BY 1),
        |ex AS (
        |  SELECT date_trunc('hour', ts) AS hour,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |  FROM events GROUP BY 1)
        |SELECT ex.hour, ex.exact_distinct, z.n_zero_regs,
        |       round((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / z.zsum, 2) AS hll_estimate
        |FROM ex JOIN z ON ex.hour = z.hour""".stripMargin,

    "q_event_dedup_hourly" ->
      """SELECT md5(props) AS digest,
        |       time_bucket(INTERVAL '1 hour', ts) AS bucket,
        |       CAST(min(event_id) AS BIGINT) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_tumbling_count" ->
      """SELECT event_type AS key, CAST(count(*) AS BIGINT) AS cnt,
        |       time_bucket(INTERVAL '1 minute', ts) AS window_start,
        |       time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute' AS window_end
        |FROM events GROUP BY 1, 3, 4""".stripMargin,

    "q_window_topn" ->
      """WITH c AS (
        |  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, user_id,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT window_start, user_id, cnt,
        |       CAST(row_number() OVER (PARTITION BY window_start ORDER BY cnt DESC, user_id) AS INTEGER) AS rnk
        |FROM c
        |QUALIFY rnk <= 3""".stripMargin,

    // ntile returns BIGINT in DuckDB, INTEGER in Spark — cast to match;
    // percent_rank/cume_dist are exact-integer divisions, no rounding
    "q_value_ntile" ->
      """WITH r AS (
        |  SELECT event_type, value, event_id,
        |         CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |         percent_rank() OVER w AS pr,
        |         cume_dist() OVER w AS cd
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id))
        |SELECT event_type, quartile, CAST(count(*) AS BIGINT) AS cnt,
        |       min(value) AS min_value, max(value) AS max_value,
        |       max(pr) AS max_percent_rank, max(cd) AS max_cume_dist
        |FROM r GROUP BY 1, 2""".stripMargin,

    // each event lands in every expanding window of its 4-minute bucket
    // whose end is past the event; 2000-01-03 (DuckDB's time_bucket
    // origin) sits on the 4-minute epoch grid, so alignment matches
    // Spark's epoch-based window()
    "q_cumulate_count" ->
      """SELECT event_type AS key, CAST(count(*) AS BIGINT) AS cnt,
        |       time_bucket(INTERVAL '4 minutes', ts) AS window_start,
        |       time_bucket(INTERVAL '4 minutes', ts) + g.i * INTERVAL '1 minute' AS window_end
        |FROM events CROSS JOIN (SELECT unnest(range(1, 5)) AS i) g
        |WHERE ts < time_bucket(INTERVAL '4 minutes', ts) + g.i * INTERVAL '1 minute'
        |GROUP BY 1, 3, 4""".stripMargin,

    "q_hopping_count" ->
      """SELECT event_type AS key, CAST(count(*) AS BIGINT) AS cnt,
        |       time_bucket(INTERVAL '1 minute', ts) - g.i * INTERVAL '1 minute' AS window_start,
        |       time_bucket(INTERVAL '1 minute', ts) - g.i * INTERVAL '1 minute' + INTERVAL '2 minutes' AS window_end,
        |       time_bucket(INTERVAL '1 minute', ts) - g.i * INTERVAL '1 minute' + INTERVAL '2 minutes' - INTERVAL '1 millisecond' AS window_rowtime
        |FROM events CROSS JOIN (SELECT 0 AS i UNION ALL SELECT 1) g
        |GROUP BY 1, 3, 4, 5""".stripMargin,

    "q_tumbling_offset" ->
      """SELECT event_type AS key, CAST(count(*) AS BIGINT) AS cnt,
        |       time_bucket(INTERVAL '60 seconds', ts, INTERVAL '15 seconds') AS window_start,
        |       time_bucket(INTERVAL '60 seconds', ts, INTERVAL '15 seconds') + INTERVAL '60 seconds' AS window_end
        |FROM events GROUP BY 1, 3, 4""".stripMargin,

    "q_sliding_over_1m" ->
      """SELECT event_id, event_type,
        |       CAST(count(*) OVER (PARTITION BY event_type ORDER BY ts
        |         RANGE BETWEEN INTERVAL '60 seconds' PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_cnt
        |FROM events""".stripMargin,

    "q_sliding_over_30m" ->
      """SELECT event_id, event_type,
        |       CAST(count(*) OVER (PARTITION BY event_type ORDER BY ts
        |         RANGE BETWEEN INTERVAL '30 minutes' PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_cnt
        |FROM events""".stripMargin,

    "q_sliding_over_chunked" ->
      """SELECT event_id, event_type,
        |       CAST(count(*) OVER (PARTITION BY event_type ORDER BY ts
        |         RANGE BETWEEN INTERVAL '60 seconds' PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_cnt
        |FROM events""".stripMargin,

    "q_session_window" ->
      """WITH o AS (
        |  SELECT event_type, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w > INTERVAL '5 minutes'
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
        |s AS (
        |  SELECT event_type, ts,
        |         sum(brk) OVER (PARTITION BY event_type ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT event_type AS key, CAST(count(*) AS BIGINT) AS cnt,
        |       min(ts) AS session_start,
        |       max(ts) + INTERVAL '5 minutes' AS session_end
        |FROM s GROUP BY event_type, sid""".stripMargin,

    // same lag/cumsum sessionization per user (diff >= gap breaks: a
    // session window is end-exclusive, so an event at exactly
    // prev + gap starts a new session); path via ORDER BY (ts,
    // event_id) string_agg — the same total order as sort_array
    "q_session_paths" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o),
        |p AS (
        |  SELECT user_id, sid,
        |         string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM s GROUP BY user_id, sid)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(sum(n) AS BIGINT) AS n_events
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,

    "q_tumbling_count_sql" ->
      """SELECT event_type AS key, CAST(count(*) AS BIGINT) AS cnt,
        |       time_bucket(INTERVAL '1 minute', ts) AS window_start,
        |       time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute' AS window_end
        |FROM events GROUP BY 1, 3, 4""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type,
        |       CAST(sum(CAST(regexp_extract(props, '"k": *([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1""".stripMargin,

    "q_ts_roundtrip" ->
      """SELECT event_type,
        |       CAST(count(*) FILTER (WHERE strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f'), '%Y-%m-%dT%H:%M:%S.%f') = ts) AS BIGINT) AS n_roundtrip,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1""".stripMargin,

    "q_count_aggregator" ->
      "SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1",

    "q_last_window_upsert" ->
      """WITH t AS (
        |  SELECT event_type AS key, CAST(count(*) AS BIGINT) AS cnt,
        |         time_bucket(INTERVAL '1 minute', ts) AS window_start,
        |         time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute' AS window_end
        |  FROM events GROUP BY 1, 3, 4)
        |SELECT key, cnt, window_start, window_end FROM t
        |QUALIFY row_number() OVER (PARTITION BY key ORDER BY window_start DESC) = 1""".stripMargin,

    "q_salted_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        |       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    "q_agg_value_stats" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        |       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_value,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1""".stripMargin,

    "q_pivot_hourly_matrix" ->
      """SELECT date_trunc('hour', ts) AS hour,
        |       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
        |       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        |       CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        |       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY 1""".stripMargin,

    "q_funnel_stages" ->
      """WITH f1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |f2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN f1 ON e.user_id = f1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > f1.t1 GROUP BY 1),
        |f3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN f2 ON e.user_id = f2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > f2.t2 GROUP BY 1)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM f1) AS n_view,
        |       (SELECT CAST(count(*) AS BIGINT) FROM f2) AS n_click_after,
        |       (SELECT CAST(count(*) AS BIGINT) FROM f3) AS n_purchase_after""".stripMargin,

    "q_cep_first_match" ->
      """WITH v AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, min(ts) AS t_view
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |c AS (
        |  SELECT e.user_id, v.day, min(v.t_view) AS t_view, min(e.ts) AS t_click
        |  FROM events e
        |  JOIN v ON e.user_id = v.user_id AND CAST(e.ts AS DATE) = v.day
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view
        |    AND e.ts <= v.t_view + INTERVAL 240 MINUTE
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT e.user_id, c.day, min(c.t_view) AS t_view,
        |         min(c.t_click) AS t_click, min(e.ts) AS t_purchase
        |  FROM events e
        |  JOIN c ON e.user_id = c.user_id AND CAST(e.ts AS DATE) = c.day
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |    AND e.ts <= c.t_click + INTERVAL 240 MINUTE
        |  GROUP BY 1, 2)
        |SELECT user_id, day, t_view, t_click, t_purchase FROM p""".stripMargin,

    // same (epoch_us, event_id) total order, same 5-minute gap bound,
    // same row-normalized probability
    "q_markov_transitions" ->
      """WITH t AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS prev_type,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events),
        |c AS (
        |  SELECT prev_type AS from_type, event_type AS to_type,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE prev_type IS NOT NULL AND gap_us <= 300000000
        |  GROUP BY 1, 2),
        |tt AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |       round(CAST(c.n AS DOUBLE) / CAST(tt.n_from AS DOUBLE), 6) AS p
        |FROM c JOIN tt USING (from_type)""".stripMargin,

    // same three stage CTEs, NOT EXISTS against the next stage
    "q_cep_timeouts" ->
      """WITH v AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, min(ts) AS t_view
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |c AS (
        |  SELECT e.user_id, v.day, min(v.t_view) AS t_view, min(e.ts) AS t_click
        |  FROM events e
        |  JOIN v ON e.user_id = v.user_id AND CAST(e.ts AS DATE) = v.day
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view
        |    AND e.ts <= v.t_view + INTERVAL 240 MINUTE
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT e.user_id, c.day, min(e.ts) AS t_purchase
        |  FROM events e
        |  JOIN c ON e.user_id = c.user_id AND CAST(e.ts AS DATE) = c.day
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |    AND e.ts <= c.t_click + INTERVAL 240 MINUTE
        |  GROUP BY 1, 2)
        |SELECT v.user_id, v.day, 'view' AS stage_reached, v.t_view AS t_last,
        |       v.t_view + INTERVAL 240 MINUTE AS deadline
        |FROM v
        |WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = v.user_id AND c.day = v.day)
        |UNION ALL
        |SELECT c.user_id, c.day, 'click', c.t_click,
        |       c.t_click + INTERVAL 240 MINUTE
        |FROM c
        |WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id AND p.day = c.day)""".stripMargin,

    "q_funnel_hourly" ->
      """WITH f1 AS (
        |  SELECT date_trunc('hour', ts) AS hour, user_id, min(ts) AS t1
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |f2 AS (
        |  SELECT f1.hour, e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN f1 ON date_trunc('hour', e.ts) = f1.hour AND e.user_id = f1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > f1.t1 GROUP BY 1, 2),
        |f3 AS (
        |  SELECT f2.hour, e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN f2 ON date_trunc('hour', e.ts) = f2.hour AND e.user_id = f2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > f2.t2 GROUP BY 1, 2)
        |SELECT f1.hour,
        |       CAST(count(*) AS BIGINT) AS n_view,
        |       CAST(coalesce(any_value(c.n), 0) AS BIGINT) AS n_click_after,
        |       CAST(coalesce(any_value(p.n), 0) AS BIGINT) AS n_purchase_after
        |FROM f1
        |LEFT JOIN (SELECT hour, count(*) AS n FROM f2 GROUP BY 1) c ON f1.hour = c.hour
        |LEFT JOIN (SELECT hour, count(*) AS n FROM f3 GROUP BY 1) p ON f1.hour = p.hour
        |GROUP BY 1""".stripMargin,

    "q_retention_cohorts" ->
      """WITH c AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY 1)
        |SELECT c.cohort_day,
        |       CAST(CAST(e.ts AS DATE) - c.cohort_day AS BIGINT) AS day_offset,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM events e JOIN c ON e.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,

    // the round-trip collapses to the plain long-form aggregate
    "q_unpivot_roundtrip" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_window_join" ->
      """WITH c AS (
        |  SELECT user_id, time_bucket(INTERVAL '10 minutes', ts) AS w
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, time_bucket(INTERVAL '10 minutes', ts) AS w, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.w AS window_start, CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
        |       round(CAST(sum(CAST(round(p.value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS paired_value
        |FROM p JOIN c ON p.user_id = c.user_id AND p.w = c.w
        |GROUP BY 1""".stripMargin,

    "q_dau_mau" ->
      """WITH e AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |         date_trunc('week', ts) AS week,
        |         date_trunc('month', ts) AS month, user_id
        |  FROM events),
        |d AS (SELECT day, week, month,
        |             CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |      FROM e GROUP BY 1, 2, 3),
        |w AS (SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |      FROM e GROUP BY 1),
        |m AS (SELECT month, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        |      FROM e GROUP BY 1)
        |SELECT d.day, d.dau, w.wau, m.mau,
        |       round(CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE), 6) AS stickiness
        |FROM d JOIN w USING (week) JOIN m USING (month)""".stripMargin
  )
}
