package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.ingest.IngestKernels.GeoJsonFields
import graft.model.Schemas

/** Ingest stage: JSON deserialization, projection, timestamp parse,
  * event-time assignment — operators S2/P1/P2/P3 of SURVEY.md §2.
  *
  * One logical-plan layer, two run modes: every function here is a pure
  * `DataFrame => DataFrame` and works identically on a batch frame
  * (`spark.read`) and a streaming frame (`spark.readStream`).
  */
object Ingest {

  /** P2 — timestamp parse with fallback.
    *
    * The reference parses `yyyy-MM-dd'T'HH:mm:ss.SSSSSS` and substitutes
    * wall-clock *now* when the parse fails (reference
    * StreamJobSqlTumbling.java:64–77). `to_timestamp` returns null on
    * failure, so the whole operator is a codegen'd `coalesce` — no UDF.
    * (`try_to_timestamp`, not `to_timestamp`: under Spark 4's default
    * ANSI mode the latter throws on malformed input instead of returning
    * null.)
    * The fallback column is a parameter: production uses
    * `current_timestamp()` (reference semantics); deterministic tests and
    * oracles pass a constant.
    */
  def parseTimestamp(
      raw: Column,
      fmt: String = Schemas.isoMicros,
      fallback: Column = current_timestamp()): Column =
    coalesce(try_to_timestamp(raw, lit(fmt)), fallback)

  /** S2 + P1 — GeoJSON envelope → (railway_class, received_on).
    *
    * The envelope is `coalesce(kernel, from_json)` over the pruned
    * schema: the [[IngestKernels.GeoJsonFields]] kernel validates the
    * line as strict JSON in one pass over its bytes and reads the two
    * consumed fields; on any line it is not certain about (escapes,
    * non-ASCII strings, duplicate target keys, non-string targets,
    * malformed JSON, ...) it returns null and `from_json` decides the
    * record as before. Mirrors the reference's first `.map`
    * (StreamJobSqlTumbling.java:106–119) which hand-drops 5 of 7 fields
    * before the shuffle.
    */
  def parseGeoJson(
      df: DataFrame,
      jsonCol: String = "value",
      fallback: Column = current_timestamp()): DataFrame = {
    val line = col(jsonCol)
    val parsed = coalesce(
      Bridge.column(GeoJsonFields(Bridge.expression(line))),
      from_json(line, Schemas.geojsonPruned))
    df.select(
      parsed.getField("properties").getField("N02_001").as("railway_class"),
      parseTimestamp(
        parsed.getField("properties").getField("RECEIVED_ON"),
        Schemas.isoMicros, fallback).as("received_on"))
  }

  /** P3 — event-time assignment with zero tolerated out-of-orderness.
    *
    * The reference emits a punctuated watermark equal to every record's
    * own timestamp (reference StreamJobSqlTumbling.java:122–134), i.e.
    * 0-second lateness. Spark advances watermarks per micro-batch rather
    * than per record, so emission *timing* differs but converged window
    * contents match (SURVEY.md §1.4). No-op on batch frames.
    */
  def withEventTime(df: DataFrame, tsCol: String, delay: String = "0 seconds"): DataFrame =
    if (df.isStreaming) df.withWatermark(tsCol, delay) else df
}
