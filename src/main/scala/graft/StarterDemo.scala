package graft

import java.sql.DriverManager

import scala.annotation.tailrec
import scala.util.Using

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampType}

import graft.ingest.Ingest
import graft.ops.Windows
import graft.sources.Sources
import graft.streaming.{StreamingJobs, UpsertSink}

/** Demo entry point with the reference's job-dispatch contract
  * (reference Starter.java:31–42: a `JOB_CLASS_NAME` property selects
  * one of the stream jobs; `INTERVAL_AMOUNT`/`INTERVAL_UOM` size the
  * window — StreamJobSqlTumbling.java:86–88). The jobs, 1:1 with the
  * reference classes, are the rows of its dispatch table `Jobs`.
  *
  * The one-line swap to the real front door: pass
  * `--source kinesis:<streamName>:<region>[:<initpos>]` and put the
  * awslabs `spark-streaming-sql-kinesis-connector` jar on the
  * classpath — [[Sources.kinesis]] already emits its option schema.
  * This container has no connector jar and zero egress, so the demo
  * (and DemoSpec) runs the file stand-in `--source dir:<path>`, whose
  * records reach the job as the same raw strings a Kinesis record
  * would ([[Sources.geojsonLinesDir]]).
  */
object StarterDemo {

  /** One reference job: its plan over the parsed, watermarked events
    * for an interval string, and the key its sink upserts on. */
  private final case class Job(plan: (DataFrame, String) => DataFrame, upsertKey: Seq[String])

  private val EventTime = col("received_on")
  private val RailwayClass = col("railway_class")

  /** Window aggregates upsert on (key, window bounds) — the reference
    * sink's idempotent key (sink/SinkDataApiTumbling.java ON CONFLICT
    * columns). */
  private val WindowKey = Seq("key", "window_start", "window_end")

  /** The dispatch table — the Spark form of Starter.java's switch. */
  private val Jobs: Map[String, Job] = {
    val tumbling = groupWindow(hopping = false)
    // per-row trailing COUNT(*) OVER RANGE (30-minute frame in
    // StreamJobSingle.java:152); the latest count per event time
    // replays idempotently
    val sliding = Job(slidingCount, Seq("key", "ts"))
    Map(
      // the Table-API job maps onto the same plan (W4)
      "StreamJobSqlTumbling" -> tumbling,
      "StreamJobTumbling" -> tumbling,
      // the reference hard-codes slide 0, degenerate in Flink and
      // rejected by Spark; slide = size/2 is the intended semantics
      // (SURVEY.md §7.3)
      "StreamJobSqlHopping" -> groupWindow(hopping = true),
      // TumblingEventTimeWindows.of(size, offset) with a 15-second
      // alignment offset (StreamJobTumblingOffset.java:157)
      "StreamJobTumblingOffset" -> groupWindow(hopping = false, offset = "15 seconds"),
      "StreamJobSqlSliding" -> sliding,
      "StreamJobSingle" -> sliding)
  }

  private def job(jobName: String): Job = Jobs.getOrElse(jobName,
    throw new IllegalArgumentException(s"unknown JOB_CLASS_NAME: $jobName"))

  /** Builds the job's output stream from raw string records; pure, so
    * tests drive it with any source. A record without a railway class
    * has no key to count or upsert under: it is dropped before the job
    * and counted as `rejected_null_class` in the `graft_ingest`
    * observation. Every job's output carries the `graft_sink`
    * observation, the Spark-native form of the reference's per-row
    * result logging (P6 — `log.warn("resultSet output: …")`,
    * StreamJobSqlTumbling.java:168): the emitted row count surfaces per
    * micro-batch in the query progress instead of as log lines in the
    * hot path. */
  def buildJob(jobName: String, raw: DataFrame, interval: String): DataFrame = {
    val plan = job(jobName).plan
    val events = Ingest.withEventTime(Ingest.parseGeoJson(raw), "received_on")
      .observe("graft_ingest", count_if(RailwayClass.isNull).as("rejected_null_class"))
      .filter(RailwayClass.isNotNull)
    plan(events, interval).observe("graft_sink", count(lit(1)).as("rows_emitted"))
  }

  /** The events as the keyed rows the stateful operators take. */
  private def keyed(events: DataFrame): Dataset[StreamingJobs.KeyedEvent] = {
    import events.sparkSession.implicits._
    events.select(RailwayClass.as("key"), EventTime.as("ts")).as[StreamingJobs.KeyedEvent]
  }

  /** A tumbling (slide = size) or hopping (slide = size/2) count. A
    * batch frame runs the Catalyst window aggregate; a stream runs
    * [[StreamingJobs.windowCountStreaming]], which writes each window in
    * the micro-batch that closes it instead of the one after. */
  private def groupWindow(hopping: Boolean, offset: String = "0 seconds"): Job =
    Job((events, interval) => {
      val slide =
        if (hopping) s"${StreamingJobs.dayTimeMicros("interval", interval) / 2} microseconds"
        else interval
      if (events.isStreaming) {
        val out = StreamingJobs.windowCountStreaming(keyed(events), interval, slide, offset).toDF()
        if (hopping) out.withColumn("window_rowtime", Windows.rowtime(col("window_end"))) else out
      } else if (hopping) Windows.hoppingCount(events, EventTime, RailwayClass, interval, slide)
      else Windows.tumblingCount(events, EventTime, RailwayClass, interval, offset)
    }, WindowKey)

  /** The sliding frame runs on whole seconds, so an interval the frame
    * cannot hold exactly is rejected rather than truncated. */
  private def slidingCount(events: DataFrame, interval: String): DataFrame = {
    val us = StreamingJobs.dayTimeMicros("interval", interval)
    require(us >= 0, s"interval must be non-negative, got: $interval")
    require(us % 1000000L == 0, s"interval must be a whole number of seconds, got: $interval")
    StreamingJobs.slidingCountStreaming(keyed(events), frameSeconds = us / 1000000L).toDF()
  }

  /** The key the job's sink upserts on. */
  def upsertKey(jobName: String): Seq[String] = job(jobName).upsertKey

  /** Wire source → job → idempotent JDBC upsert sink and start the
    * query; the sink table is created first when it is missing
    * ([[createSinkTable]]). */
  def start(jobName: String, raw: DataFrame, interval: String,
      checkpointDir: String, sinkTable: String, jdbcUrl: String): StreamingQuery = {
    val out = buildJob(jobName, raw, interval)
    createSinkTable(jdbcUrl, sinkTable, out.schema, upsertKey(jobName))
    out.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(UpsertSink.jdbcForeachBatchUpsert(jdbcUrl, sinkTable, upsertKey(jobName)) _)
      .start()
  }

  /** Creates `table` from a job's output schema unless it exists:
    * string → VARCHAR(256), bigint → BIGINT, timestamp → TIMESTAMP,
    * primary key = the upsert key. Identifiers are spelled by
    * [[UpsertSink.Idents]], so the `key` column is legal on Derby. */
  private def createSinkTable(url: String, table: String, schema: StructType,
      keyCols: Seq[String]): Unit =
    Using.resource(DriverManager.getConnection(url)) { conn =>
      val id = UpsertSink.Idents(conn)
      val exists = Using.resource(conn.getMetaData.getTables(
        null, conn.getSchema, id.stored(table), Array("TABLE")))(_.next())
      if (!exists) {
        val cols = schema.fields.map { f =>
          val sqlType = f.dataType match {
            case StringType => "VARCHAR(256)"
            case LongType => "BIGINT"
            case TimestampType => "TIMESTAMP"
            case t => throw new IllegalArgumentException(
              s"no sink column type for ${f.name}: ${t.simpleString}")
          }
          s"${id(f.name)} $sqlType" + (if (keyCols.contains(f.name)) " NOT NULL" else "")
        }
        val pk = keyCols.map(id(_)).mkString(", ")
        Using.resource(conn.createStatement())(
          _.execute(s"CREATE TABLE ${id(table)} (${cols.mkString(", ")}, PRIMARY KEY ($pk))"))
      }
    }

  /** Where the demo writes when `--jdbc` is not given. */
  private val DefaultJdbcUrl = "jdbc:derby:memory:graft_demo;create=true"

  private val Flags = Seq("--job", "--source", "--interval", "--checkpoint", "--table", "--jdbc")

  /** The CLI's `--flag value` pairs. An unknown flag or a flag without
    * a value is an error, so a mistyped `--jdbc` cannot silently fall
    * back to the default database. */
  def parseArgs(args: Seq[String]): Map[String, String] = {
    @tailrec def go(rest: List[String], opts: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => opts
        case flag :: _ if !Flags.contains(flag) =>
          throw new IllegalArgumentException(
            s"unknown flag: $flag (expected one of ${Flags.mkString(" ")})")
        case flag :: value :: tail if !value.startsWith("--") => go(tail, opts + (flag -> value))
        case flag :: _ => throw new IllegalArgumentException(s"flag $flag needs a value")
      }
    go(args.toList, Map.empty)
  }

  /** CLI — properties mirror the reference's config keys:
    * {{{
    * runMain graft.StarterDemo --job StreamJobSqlTumbling \
    *   --source dir:/tmp/feed --interval "1 minute" \
    *   --checkpoint /tmp/ckpt --table demo_tumbling [--jdbc <url>]
    * }}}
    * `--jdbc` defaults to in-memory Derby ([[DefaultJdbcUrl]]). With
    * `--source dir:` the demo generates a deterministic feed into the
    * directory first ([[graft.sources.GeoJsonGen]]) when it is empty,
    * processes everything available, prints the sink table, and exits
    * — a self-contained send.py + Starter run.
    */
  def main(args: Array[String]): Unit = {
    val opts =
      try parseArgs(args.toSeq)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"[demo] ${e.getMessage}")
          sys.exit(2)
      }
    val jobName = opts.getOrElse("--job", "StreamJobSqlTumbling")
    val source = opts.getOrElse("--source", "dir:/tmp/graft_demo_feed")
    val interval = opts.getOrElse("--interval", "1 minute")
    val ckpt = opts.getOrElse("--checkpoint",
      java.nio.file.Files.createTempDirectory("graft_demo_ckpt").toString)
    val table = opts.getOrElse("--table", "demo_sink")
    val url = opts.getOrElse("--jdbc", DefaultJdbcUrl)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val raw = source.split(":", 2) match {
      case Array("dir", path) =>
        val dir = java.nio.file.Paths.get(path)
        if (!java.nio.file.Files.isDirectory(dir) ||
            !Using.resource(java.nio.file.Files.list(dir))(_.findFirst().isPresent))
          // 1.2 s event-time steps: 500 records span 10 minutes, so a
          // 1-minute append-mode window demo closes ~9 windows (50 ms
          // steps — send.py's cadence — would close none)
          graft.sources.GeoJsonGen.writeFiles(dir, seed = 42L, count = 500,
            startEpochMs = java.time.Instant.parse("2020-09-14T09:20:00Z").toEpochMilli,
            stepMs = 1200L)
        Sources.geojsonLinesDir(spark, path)
      case Array("kinesis", rest) =>
        val parts = rest.split(":")
        Sources.kinesis(spark, parts(0), parts(1),
          if (parts.length > 2) parts(2) else "LATEST")
      case _ =>
        throw new IllegalArgumentException(s"unknown --source: $source (dir:<path> | kinesis:<stream>:<region>[:<pos>])")
    }

    val q = start(jobName, raw, interval, ckpt, table, url)
    if (source.startsWith("dir:")) {
      q.processAllAvailable() // bounded demo feed: drain and exit
      q.stop()
      printSink(url, table, jobName)
      spark.stop()
    } else {
      q.awaitTermination() // live source: run until externally stopped
    }
  }

  /** Prints the row count and the first 20 rows of the sink table in
    * upsert-key order. */
  private def printSink(url: String, table: String, jobName: String): Unit =
    Using.resource(DriverManager.getConnection(url)) { conn =>
      val id = UpsertSink.Idents(conn)
      val order = upsertKey(jobName).map(id(_)).mkString(", ")
      Using.resource(conn.createStatement()) { st =>
        val rs = st.executeQuery(s"SELECT * FROM ${id(table)} ORDER BY $order")
        val meta = rs.getMetaData
        val n = meta.getColumnCount
        val rows = Iterator.continually(rs).takeWhile(_.next())
          .map(r => (1 to n).map(r.getObject(_)).mkString(" | ")).toVector
        println(s"[demo] $jobName emitted ${rows.size} rows to '$table'")
        println(s"[demo]   ${(1 to n).map(meta.getColumnName(_)).mkString(" | ")}")
        rows.take(20).foreach(r => println(s"[demo]   $r"))
      }
    }
}
