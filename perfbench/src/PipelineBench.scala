package perfbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.sql.{DriverManager, Timestamp}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.StarterDemo
import graft.ingest.Ingest
import graft.ops.Windows
import graft.streaming.{StreamingJobs, UpsertSink}

/** JVM side of the pipeline benchmark: one Spark application that runs a
  * workload's job through file source → GeoJSON ingest → window job →
  * JDBC upsert sink → embedded Derby, in three phases (catch-up on the
  * backlog, live on the generator's open loop, batch backfill), and
  * writes raw timings, Spark progress counters and the sink tables to
  * its output directory. `run.py` starts it, drives the live phase over
  * stdin/stdout and checks the tables.
  *
  * Every call into the program goes through public functions of
  * `sources`, `ingest`, `ops`, `streaming` and `StarterDemo`; the
  * trace mode adds spans around those calls and Spark listener
  * counters, never anything inside the program.
  */
object PipelineBench {

  final case class Conf(job: String, sizeS: Long, backlog: Long, feed: String, replay: String,
      out: String, cores: Int, maxFiles: Int, backfillReps: Int, trace: Boolean, runId: String)

  // ---- spans (trace mode) ------------------------------------------------

  final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val spanIds = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var tracing = false

  private val nanoAnchor = System.nanoTime()
  private val epochAnchor = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-ms resolution. */
  private def wallMs(): Double = epochAnchor + (System.nanoTime() - nanoAnchor) / 1e6

  /** Run `body` inside a span named `name`; the span is recorded only
    * in trace mode. Returns the body's value. */
  private def span[T](name: String, parent: Int)(body: Int => T): T = {
    if (!tracing) return body(0)
    val id = spanIds.incrementAndGet()
    val t0 = wallMs()
    try body(id) finally spans.add(Span(id, name, parent, t0, wallMs()))
  }

  // ---- Spark task counters (trace mode) ----------------------------------

  final case class TaskRec(endMs: Long, stage: Int, shuffleWriteBytes: Long, recordsRead: Long)
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  private object TaskLog extends SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      tasks.add(TaskRec(e.taskInfo.finishTime, e.stageId,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.recordsRead))
    }
  }

  // ---- the pipeline under test -------------------------------------------

  // The two halves of StarterDemo.buildJob, split so that the traced run
  // can time each layer on its own.
  private def parsed(raw: DataFrame): DataFrame =
    Ingest.withEventTime(Ingest.parseGeoJson(raw), "received_on")

  private def windowed(c: Conf, events: DataFrame): DataFrame = (c.job match {
    case "tumble" =>
      Windows.tumblingCount(events, col("received_on"), col("railway_class"), s"${c.sizeS} seconds")
    case "sliding" =>
      import events.sparkSession.implicits._
      StreamingJobs.slidingCountStreaming(
        events.select(col("railway_class").as("key"), col("received_on").as("ts"))
          .as[StreamingJobs.KeyedEvent], c.sizeS).toDF()
  }).withColumnRenamed("key", "k")

  private def jobName(c: Conf): String =
    if (c.job == "sliding") "StreamJobSingle" else "StreamJobSqlTumbling"

  /** Raw lines → sink-ready rows through the demo dispatch table, as the
    * reference jobs run. `key` becomes `k` because `key` is a Derby
    * reserved word. */
  def pipeline(c: Conf, raw: DataFrame): DataFrame =
    StarterDemo.buildJob(jobName(c), raw, s"${c.sizeS} seconds").withColumnRenamed("key", "k")

  private def upsertKey(c: Conf): Seq[String] =
    StarterDemo.upsertKey(jobName(c)).map(k => if (k == "key") "k" else k)

  // ---- Derby -------------------------------------------------------------

  private def createTable(c: Conf, url: String, table: String): Unit = {
    val cols = c.job match {
      case "sliding" => "k VARCHAR(16) NOT NULL, ts TIMESTAMP NOT NULL, trailing_cnt BIGINT, " +
        "PRIMARY KEY (k, ts)"
      case _ => "k VARCHAR(16) NOT NULL, cnt BIGINT, window_start TIMESTAMP NOT NULL, " +
        "window_end TIMESTAMP NOT NULL, PRIMARY KEY (k, window_start, window_end)"
    }
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().execute(
      s"CREATE TABLE $table ($cols, written_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)")
    finally conn.close()
  }

  private def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000

  /** Table rows as TSV: key, count, start|ts (epoch µs), end (µs or
    * empty), written_at (epoch ms). */
  private def dumpTable(c: Conf, url: String, table: String, file: File): Unit = {
    val (cnt, a, b) =
      if (c.job == "sliding") ("trailing_cnt", "ts", "ts") else ("cnt", "window_start", "window_end")
    val conn = DriverManager.getConnection(url)
    val w = new PrintWriter(file, "UTF-8")
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT k, $cnt, $a, $b, written_at FROM $table")
      while (rs.next()) {
        val end = if (c.job == "sliding") "" else micros(rs.getTimestamp(4)).toString
        w.print(s"${rs.getString(1)}\t${rs.getLong(2)}\t${micros(rs.getTimestamp(3))}\t$end\t" +
          s"${rs.getTimestamp(5).getTime}\n")
      }
    } finally { w.close(); conn.close() }
  }

  // ---- streaming query ---------------------------------------------------

  private val rowsWritten = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile private var phaseSpan = 0

  private def sink(c: Conf, url: String, table: String): (DataFrame, Long) => Unit = {
    val inner = UpsertSink.jdbcForeachBatchUpsert(url, table, upsertKey(c)) _
    if (!tracing) inner
    else (df: DataFrame, epoch: Long) => span("upsert_sink.foreach_batch", phaseSpan) { id =>
      // materialize once so the sink's own time is separable from the
      // micro-batch's compute
      df.persist()
      try {
        rowsWritten.addAndGet(span("streaming.batch_compute", id)(_ => df.count()))
        span("upsert_sink.batch_write", id)(_ => inner(df, epoch))
      } finally df.unpersist()
    }
  }

  private def startQuery(spark: SparkSession, c: Conf, dir: String, ckpt: String,
      url: String, table: String): StreamingQuery = {
    // Sources.geojsonLinesDir plus the per-fetch limit a Kinesis consumer has
    val raw = spark.readStream.option("maxFilesPerTrigger", c.maxFiles.toLong).text(dir)
    pipeline(c, raw).writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch(sink(c, url, table))
      .start()
  }

  final case class CatchUp(q: StreamingQuery, url: String, firstBatchEndMs: Long,
      firstBatchRows: Long, restS: Double)

  /** Create a fresh table, start a fresh query over `dir`, wait for its
    * first batch, then time the rest of the backlog until everything
    * available has been processed and written. */
  private def catchUp(spark: SparkSession, c: Conf, dir: String, name: String): CatchUp = {
    val url = s"jdbc:derby:memory:$name;create=true"
    createTable(c, url, "results")
    val q = startQuery(spark, c, dir, s"${c.out}/ckpt-$name", url, "results")
    while (q.lastProgress == null && q.isActive) Thread.sleep(1)
    q.exception.foreach(e => throw e)
    val firstEndMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    q.processAllAvailable()
    CatchUp(q, url, firstEndMs, q.recentProgress.head.numInputRows, (System.nanoTime() - t0) / 1e9)
  }

  // ---- heap --------------------------------------------------------------

  /** Old-generation occupancy after a forced full GC, in MB. */
  private def oldGenAfterGcMb(): Double = {
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
    old.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(p.getUsage.getUsed)).sum / 1048576.0
  }

  // ---- progress counters -------------------------------------------------

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.min(s.size - 1, (p * s.size).toInt)) }

  private def progressMetrics(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val states = ps.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    Map(
      "sources.list_ms_p50" -> pct(ps.map(p => d(p, "latestOffset") + d(p, "getBatch")), 0.5),
      "sources.input_rows" -> ps.map(_.numInputRows.toDouble).sum,
      "streaming.batches" -> ps.size.toDouble,
      "streaming.trigger_ms_p50" -> pct(ps.map(d(_, "triggerExecution")), 0.5),
      "streaming.planning_ms_p50" -> pct(ps.map(d(_, "queryPlanning")), 0.5),
      "streaming.commit_ms_p50" -> pct(ps.map(p => d(p, "walCommit") + d(p, "commitOffsets")), 0.5),
      "streaming.state_rows_max" -> states.map(_.numRowsTotal.toDouble).foldLeft(0.0)(math.max),
      "streaming.state_bytes_max" -> states.map(_.memoryUsedBytes.toDouble).foldLeft(0.0)(math.max),
      "streaming.state_commit_ms_p50" -> pct(states.map(_.commitTimeMs.toDouble), 0.5),
      "streaming.state_update_ms" -> states.map(_.allUpdatesTimeMs.toDouble).sum,
      "streaming.dropped_by_watermark" -> states.map(_.numRowsDroppedByWatermark.toDouble).sum)
  }

  // ---- main --------------------------------------------------------------

  private def session(c: Conf, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.out}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${c.out}/hadoop-tmp")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val c = Conf(a("job"), a("size_s").toLong, a("backlog").toLong, a("feed"), a("replay"),
      a("out"), a("cores").toInt, a("max_files").toInt, a("backfill_reps").toInt,
      a("trace") == "1", a("run_id"))
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    val stdin = new BufferedReader(new InputStreamReader(System.in))

    // set-up: JVM start → session → Derby table → the query's first batch
    // done; catch-up is the rest of the backlog on the now warm JVM
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(c, c.cores)
    m("session_s") = (System.currentTimeMillis() - jvmStart) / 1000.0
    // tracing covers everything after the session start
    tracing = c.trace
    if (tracing) spark.sparkContext.addSparkListener(TaskLog)
    val root = if (tracing) spanIds.incrementAndGet() else 0
    val runT0 = wallMs()

    // phase 1: catch-up on the backlog
    val cu = span("catch_up", root) { id =>
      phaseSpan = id
      catchUp(spark, c, c.feed, "bench")
    }
    val (q, url) = (cu.q, cu.url)
    m("setup_s") = (cu.firstBatchEndMs - jvmStart) / 1000.0
    m("catch_up_s") = cu.restS
    m("catch_up_events") = (c.backlog - cu.firstBatchRows).toDouble
    m("catch_up_end_ms") = System.currentTimeMillis().toDouble
    val heap = ArrayBuffer(oldGenAfterGcMb())
    createTable(c, url, "backfill")
    println("@@CATCHUP_DONE")
    System.out.flush()

    // phase 2: live — the generator runs its open loop; stdin says when it ended
    span("live", root) { id =>
      phaseSpan = id
      val line = stdin.readLine()
      require(line != null && line.startsWith("go "), s"unexpected control line: $line")
      val published = line.drop(3).trim.toLong
      val processed = q.recentProgress.map(_.numInputRows).sum
      m("sources.lag_events_end") = (published - processed).toDouble
      val t0 = System.nanoTime()
      q.processAllAvailable()
      m("live_drain_s") = (System.nanoTime() - t0) / 1e9
    }
    q.exception.foreach(e => throw e)
    heap += oldGenAfterGcMb()
    m ++= progressMetrics(q.recentProgress.toSeq)
    q.stop()

    // phase 3: backfill — the same job in batch mode into a second table,
    // `backfillReps` times into fresh tables; the median counts
    val backfills = (1 to c.backfillReps).map { r =>
      val table = if (r == 1) "backfill" else s"backfill$r"
      if (r > 1) createTable(c, url, table)
      span("backfill", root) { _ =>
        val t0 = System.nanoTime()
        UpsertSink.jdbcForeachBatchUpsert(url, table, upsertKey(c))(pipeline(c, spark.read.text(c.feed)), 0L)
        (System.nanoTime() - t0) / 1e9
      }
    }
    m("backfill_s") = backfills.sorted.apply(backfills.size / 2)
    heap += oldGenAfterGcMb()
    m("live_heap_mb") = heap.max
    dumpTable(c, url, "results", new File(s"${c.out}/results.tsv"))
    (1 to c.backfillReps).foreach { r =>
      val table = if (r == 1) "backfill" else s"backfill$r"
      dumpTable(c, url, table, new File(s"${c.out}/$table.tsv"))
    }

    if (tracing) {
      m("upsert_sink.rows_written") = rowsWritten.get.toDouble
      traceLayers(spark, c, url, root, m)
      // catch-up replays over a copy of the backlog: a traced one between
      // two untraced ones (the JVM keeps warming up, so one pair would
      // favour whichever runs second), then a single-threaded one
      def replay(name: String, traced: Boolean): CatchUp = {
        tracing = traced
        val r = span("catch_up_replay", root) { id => phaseSpan = id; catchUp(spark, c, c.replay, name) }
        r.q.stop()
        dumpTable(c, r.url, "results", new File(s"${c.out}/$name.tsv"))
        r
      }
      val Seq(plain1, traced, plain2) = Seq(replay("replay_plain", traced = false),
        replay("replay_traced", traced = true), replay("replay_plain2", traced = false))
      val plainS = (plain1.restS + plain2.restS) / 2
      m("trace.overhead_ratio") = traced.restS / plainS
      m("replay_plain_eps") = (c.backlog - plain1.firstBatchRows) / plainS
      spark.stop()
      val one = session(c, 1)
      val single = catchUp(one, c, c.replay, "replay_1core")
      single.q.stop()
      m("replay_1core_eps") = (c.backlog - single.firstBatchRows) / single.restS
      dumpTable(c, single.url, "results", new File(s"${c.out}/replay_1core.tsv"))
      one.stop()
      spans.add(Span(root, "run", 0, runT0, wallMs()))
      writeSpans(new File(s"${c.out}/spans.jsonl"), c.runId)
    } else spark.stop()

    val w = new PrintWriter(new File(s"${c.out}/jvm.json"), "UTF-8")
    try w.print(m.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"))
    finally w.close()
    println("@@DONE")
  }

  /** The per-layer spans: each layer runs on the cached output of the one
    * before it, so a span holds that layer's work alone. */
  private def traceLayers(spark: SparkSession, c: Conf, url: String, root: Int,
      m: scala.collection.mutable.Map[String, Double]): Unit = span("layers", root) { id =>
    def cached[T](name: String)(df: => DataFrame): (DataFrame, Long) =
      span(name, id) { _ => val d = df.cache(); (d, d.count()) }
    val (raw, _) = cached("sources.read")(spark.read.text(c.feed))
    val (events, nParsed) = cached("ingest.parse")(parsed(raw))
    val t0 = System.currentTimeMillis()
    val (out, nOut) = cached("ops.window")(windowed(c, events))
    val t1 = System.currentTimeMillis()
    createTable(c, url, "traced")
    span("upsert_sink.write", id) { _ =>
      UpsertSink.jdbcForeachBatchUpsert(url, "traced", upsertKey(c))(out, 0L)
    }
    Seq(raw, events, out).foreach(_.unpersist())
    m("ingest.rows") = nParsed.toDouble
    m("ops.out_rows") = nOut.toDouble
    val inWindow = tasks.asScala.filter(t => t.endMs >= t0 && t.endMs <= t1).toSeq
    m("ops.shuffle_write_bytes") = inWindow.map(_.shuffleWriteBytes.toDouble).sum
    val reduce = inWindow.filter(_.recordsRead > 0).groupBy(_.stage).values
      .maxByOption(_.map(_.recordsRead).sum).getOrElse(Nil).map(_.recordsRead.toDouble)
    m("ops.reduce_skew") = if (reduce.isEmpty) 0.0 else reduce.max / math.max(1.0, pct(reduce, 0.5))
  }

  private def writeSpans(f: File, runId: String): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.startMs).foreach { s =>
      w.println(s"""{"run": "$runId", "id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}}""")
    } finally w.close()
  }
}
