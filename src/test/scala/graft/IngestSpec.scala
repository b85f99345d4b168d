package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GetStructField}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.CountAggregate
import graft.ingest.Ingest
import graft.ingest.IngestKernels.GeoJsonFields
import graft.model.{Schemas, Tables}

class IngestSpec extends SparkSpec {
  import spark.implicits._

  private val sendPyJson =
    """{"type":"Feature","properties":{"RECEIVED_ON":"2020-09-14T09:20:22.385001",
      |"N02_001":"14","N02_002":"5","N02_003":"x","N02_004":"y","ID":"5_14","COUNT":20}}"""
      .stripMargin.replace("\n", "")

  private def micros(iso: String): Long =
    ChronoUnit.MICROS.between(Instant.EPOCH, LocalDateTime.parse(iso).toInstant(ZoneOffset.UTC))

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("parseGeoJson extracts (railway_class, received_on) from the envelope") {
    val out = Ingest.parseGeoJson(Seq(sendPyJson).toDF("value")).collect()(0)
    assert(out.getString(0) == "14")
    assert(out.getTimestamp(1) == Timestamp.valueOf("2020-09-14 09:20:22.385001"))
  }

  test("malformed wire records degrade gracefully: null class, fallback event time") {
    // a corrupt Kinesis payload must not kill the job (the reference
    // swallows parse failures per record) — from_json yields nulls and
    // the timestamp fallback supplies an event time, so the record
    // stays countable (and filterable) downstream
    val fallback = lit(Timestamp.valueOf("1970-01-01 00:00:00"))
    val out = Ingest.parseGeoJson(
        Seq("{not json at all", """{"type":"Feature","properties":{}}""").toDF("value"),
        fallback = fallback)
      .collect()
    assert(out.forall(_.isNullAt(0)))
    assert(out.forall(_.getTimestamp(1) == Timestamp.valueOf("1970-01-01 00:00:00")))
  }

  test("timestamp parse falls back on malformed input (reference getTimestamp semantics)") {
    val fallback = lit(Timestamp.valueOf("1970-01-01 00:00:00"))
    val out = Seq("2020-09-14T09:20:22.385001", "not-a-timestamp", "2020-13-99T00:00:00.000000")
      .toDF("raw")
      .select(Ingest.parseTimestamp($"raw", fallback = fallback).as("t"))
      .as[Timestamp].collect()
    assert(out(0) == Timestamp.valueOf("2020-09-14 09:20:22.385001"))
    assert(out(1) == Timestamp.valueOf("1970-01-01 00:00:00"))
    assert(out(2) == Timestamp.valueOf("1970-01-01 00:00:00"))
  }

  test("3-digit-millis input parses under the 6-digit pattern (SURVEY §7.3 trap)") {
    // Spark's `SSSSSS` accepts 1 to 6 fraction digits, so the reference
    // generator's 3-digit `.385` parses; 7 digits, no fraction, spaces and
    // a signed year take the fallback.
    val fallback = lit(Instant.EPOCH)
    val parses = Seq("2020-09-14T09:20:22.3", "2020-09-14T09:20:22.38", "2020-09-14T09:20:22.385",
      "2020-09-14T09:20:22.3850", "2020-09-14T09:20:22.38500", "2020-09-14T09:20:22.385001")
    val fallsBack = Seq("2020-09-14T09:20:22.3850011", "2020-09-14T09:20:22",
      " 2020-09-14T09:20:22.385001", "2020-09-14T09:20:22.385001 ", "+2020-09-14T09:20:22.385001")
    val out = (parses ++ fallsBack).toDF("raw")
      .select(unix_micros(Ingest.parseTimestamp($"raw", fallback = fallback)))
      .as[Long].collect().toSeq
    assert(out == parses.map(micros) ++ fallsBack.map(_ => 0L))
  }

  test("the GeoJSON kernel takes the send.py line (no silent always-defer), generated and interpreted") {
    val line = BoundReference(0, StringType, nullable = true)
    val kernel = GetStructField(GetStructField(GeoJsonFields(line), 0), 1)
    val in = InternalRow(UTF8String.fromString(sendPyJson))
    val want = UTF8String.fromString("14")
    assert(kernel.eval(in) == want)
    // generated code: a compile error here fails instead of falling back
    val generated = GenerateUnsafeProjection.generate(Seq(kernel), subexpressionEliminationEnabled = true)
    assert(generated(in).getUTF8String(0) == want)
  }

  /** Lines mutated from send.py-shaped ones: spliced value and member
    * fragments that sit on the kernel's defer rules and on
    * try_to_timestamp's accepted shapes, then byte edits from
    * a JSON-significant alphabet (invalid UTF-8 included). */
  private def fuzzLines(seed: Long, n: Int): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    val t0 = LocalDateTime.of(2019, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)
    def canonical(): String = iso.format(LocalDateTime.ofEpochSecond(
      t0 + rnd.nextLong(4L * 365 * 86400), rnd.nextInt(1000000) * 1000, ZoneOffset.UTC))
    val tsFragments = Seq(
      "2020-09-14T09:20:22.3", "2020-09-14T09:20:22.38", "2020-09-14T09:20:22.385",
      "2020-09-14T09:20:22.3850", "2020-09-14T09:20:22.38500", "2020-09-14T09:20:22.3850011",
      "2020-02-29T12:00:00.000000", "2020-02-30T12:00:00.000000", "2019-02-29T12:00:00.000000",
      "2020-09-14T24:00:00.000000", "2020-09-14T23:60:00.000000", "2020-09-14T23:59:60.000000",
      "2020-13-01T00:00:00.000000", "2020-00-01T00:00:00.000000", "2020-01-00T00:00:00.000000",
      "2021-03-14T02:30:00.000000", "2021-11-07T01:30:00.000001", "2021-11-07T01:59:59.999999",
      "0000-01-01T00:00:00.000000", "9999-12-31T23:59:59.999999", "2020-09-14t09:20:22.385001",
      "2020-09-14 09:20:22.385001", "+2020-09-14T09:20:22.385001", " 2020-09-14T09:20:22.385001",
      "2020-09-14T09:20:22.385001Z", "2020-09-14T09:20:22.-38500", "2020-09-14T09:20:22.+38500",
      "2020-9-14T09:20:22.3850011", "2020-09-14T09:20:59.9]9999")
    val valueFragments = Seq("null", "\"\\u0031\"", "NaN", "-Infinity", "012", "14", "-0", "1.5e3",
      "true", "{}", "[]", "'14'", "\"é\"", "\"\"", "\"14\" ", "\"1\t4\"", "\"\\\"14\"", "\"/*\"")
    val memberFragments = Seq(
      "\"N02_001\":\"13\",", "\"N02_001\":null,",
      "\"RECEIVED_ON\":\"2020-01-01T00:00:00.000000\",",
      "\"n02_001\":\"13\",", "\"x\":NaN,", "\"x\":012,", "\"x\":\"\\n\",", "\"x\":/*c*/1,",
      "\"x\":" + "[" * 62 + "]" * 62 + ",", "\"x\":" + "[" * 63 + "]" * 63 + ",",
      "\"x\":" + "1" * 100 + ",", "\"x\":" + "1" * 101 + ",", "\"x\":{\"N02_001\":1},",
      "\"x\":[1,true,null,-2.5E+3,\"s\",{}],", "\"x\":[1,],", "\"x\":1.,", "\"x\":.5,")
    val rootFragments = Seq(
      "\"properties\":{},", "\"properties\":null,", "\"Properties\":{},", "\"properties\" :{\"N02_001\":\"9\"},")
    val propertiesValues = Seq("null", "\"x\"", "5", "[]", "{}", "{\"N02_001\":\"12\"}")
    val alphabet: Seq[Array[Byte]] = Seq("{", "}", "[", "]", ":", ",", "\"", "\\", "'", "/*", "*/", "//", " ", "\t",
      "\n", "\r", "\u0000", "\u0001", "\u001f", "\u007f", "0", "1", "9", "-", "+", ".", "e", "E",
      "n", "u", "l", "t", "T", "N", "a", "é", "日", "\ufffd").map(_.getBytes(UTF_8)) ++
      Seq(Array(0xff.toByte), Array(0xc3.toByte))
    def recv(): String = rnd.nextInt(10) match {
      case k if k < 6 => "\"" + canonical() + "\""
      case k if k < 9 => "\"" + pick(tsFragments) + "\""
      case _ => pick(valueFragments)
    }
    def cls(): String =
      if (rnd.nextInt(10) < 9) "\"1" + (1 + rnd.nextInt(8)) + "\"" else pick(valueFragments)
    def base(): String = {
      val extraRoot = if (rnd.nextInt(10) == 0) pick(rootFragments) else ""
      val extraProps = if (rnd.nextInt(5) == 0) pick(memberFragments) else ""
      val props =
        if (rnd.nextInt(50) == 0) pick(propertiesValues)
        else s"""{"RECEIVED_ON":${recv()},"N02_001":${cls()},$extraProps"N02_002":"5",""" +
          """"N02_003":"tokaido-shinkansen","N02_004":"jr-east","ID":"5_14","COUNT":20}"""
      val line = s"""{"type":"Feature",$extraRoot"properties":$props}"""
      if (rnd.nextInt(100) == 0) pick(Seq("", " ", "[1]", "{}", "\"x\"", line + "\n", " \t" + line + "\r\n"))
      else line
    }
    def mutate(b: Array[Byte]): Array[Byte] = {
      val at = if (b.isEmpty) 0 else rnd.nextInt(b.length)
      rnd.nextInt(5) match {
        case 0 => b.patch(at, Nil, 1 + rnd.nextInt(3))
        case 1 => b.patch(at, pick(alphabet).toSeq, 0)
        case 2 => b.patch(at, pick(alphabet).toSeq, 1)
        case 3 => b.take(at)
        case _ => b ++ pick(alphabet)
      }
    }
    Seq.fill(n) {
      var b = base().getBytes(UTF_8)
      if (rnd.nextBoolean()) for (_ <- 0 to rnd.nextInt(3)) b = mutate(b)
      b
    }
  }

  test("GeoJSON kernel: differential fuzz against from_json + try_to_timestamp in three zones") {
    val lines = fuzzLines(20261017L, 100000)
    val in = spark.sparkContext.parallelize(lines, 4).toDF("bytes")
      .select($"bytes".cast("string").as("value")).cache()
    try {
      val fallback = lit(Instant.EPOCH)
      // generated code only: a kernel that fails to compile must fail here
      withConf("spark.sql.codegen.factoryMode", "CODEGEN_ONLY") {
        for (tz <- Seq("UTC", "America/New_York", "Asia/Kolkata"))
            withConf("spark.sql.session.timeZone", tz) {
          // today's formulation, written out without the kernel
          val p = from_json($"value", Schemas.geojsonPruned).getField("properties")
          val want = in.select(p.getField("N02_001"), unix_micros(coalesce(
            try_to_timestamp(p.getField("RECEIVED_ON"), lit(Schemas.isoMicros)), fallback)))
          val got = Ingest.parseGeoJson(in, fallback = fallback)
            .select($"railway_class", unix_micros($"received_on"))
          def rows(df: DataFrame) = df.as[(Option[String], Long)].collect().toSeq
          val diffs = rows(got).zip(rows(want)).zipWithIndex.collect {
            case ((g, w), i) if g != w => s"${new String(lines(i), UTF_8)}: got $g want $w"
          }
          assert(diffs.isEmpty, s"$tz: ${diffs.size} differences, e.g.\n${diffs.take(5).mkString("\n")}")
        }
      }
      // the kernel must decide a real share of the lines and defer a real share
      val kernel = Bridge.column(GeoJsonFields(Bridge.expression($"value")))
      val hits = in.select(count(when(kernel.isNotNull, 1))).as[Long].head()
      assert(hits > lines.size / 10 && hits < lines.size * 9 / 10, s"$hits of ${lines.size}")
    } finally in.unpersist()
  }

  test("CountAggregate matches built-in count") {
    val events = Tables.load(spark, sf0001, "events")
    val got = events.groupBy("event_type").agg(CountAggregate($"event_id").as("c"))
    val want = events.groupBy("event_type").agg(count(lit(1)).as("c"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("events loader yields microsecond TimestampType despite nanos parquet") {
    val events = Tables.load(spark, sf0001, "events")
    assert(events.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(events.count() == 1000)
  }
}
