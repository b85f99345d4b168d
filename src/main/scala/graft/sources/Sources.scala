package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source wiring — operator S1 of SURVEY.md §2.
  *
  * The reference consumes one Kinesis stream
  * (`FlinkKinesisConsumer`, reference StreamJobSqlTumbling.java:41–53,
  * config keys README.MD:113–116). In Spark that is a `readStream`
  * format; everything downstream is source-agnostic, so each helper
  * here returns a raw DataFrame of opaque string records that the
  * ingest stage ([[graft.ingest.Ingest.parseGeoJson]]) then shapes.
  *
  * This container has no Kinesis connector jar and zero egress, so
  * [[kinesis]] builds the reader without starting it, and the
  * streaming jobs run on [[geojsonLinesDir]], the connector-free
  * stand-in. Batch queries read their parquet tables through
  * [[graft.model.Tables]].
  */
object Sources {

  /** The one Kinesis connector this build targets:
    * **awslabs/spark-sql-kinesis-connector**
    * (`com.amazonaws:spark-streaming-sql-kinesis-connector_2.13`), the
    * actively maintained DSv2 connector for Spark 3.2+. */
  private val KinesisFormat = "aws-kinesis"

  /** The option keys the awslabs connector documents, as pure data —
    * [[kinesis]] is `format("aws-kinesis").options(this).load()`, and
    * SourcesSpec pins these keys so the one-line production swap
    * cannot rot silently while the connector jar is absent here. */
  private[graft] def kinesisOptions(
      streamName: String,
      region: String,
      initialPosition: String): Map[String, String] =
    Map(
      "kinesis.streamName" -> streamName,
      "kinesis.region" -> region,
      "kinesis.startingPosition" -> initialPosition)

  /** Streaming Kinesis source (per BASELINE.json `spark_approach`).
    * `streamName`/`region`/`initialPosition` mirror the reference's
    * consumer config keys (reference README.MD:113–116:
    * `inputStreamName`, `region`, `flink.stream.initpos`); position
    * values `LATEST` and `TRIM_HORIZON` map 1:1. The connector jar is
    * not present in this container (zero egress), so this builder is
    * exercised up to `load()` wiring only.
    */
  def kinesis(
      spark: SparkSession,
      streamName: String,
      region: String,
      initialPosition: String = "LATEST"): DataFrame =
    spark.readStream.format(KinesisFormat)
      .options(kinesisOptions(streamName, region, initialPosition))
      .load()

  /** Streaming text source over a directory of GeoJSON-lines files —
    * the closest connector-free stand-in for [[kinesis]]: like a
    * Kinesis record, each line arrives as one opaque string (`value`)
    * that the ingest stage parses
    * ([[graft.ingest.Ingest.parseGeoJson]], mirroring the reference's
    * consumer → map chain, StreamJobSqlTumbling.java:100–119). New
    * files are discovered per micro-batch; exactly-once file tracking
    * is engine-provided through the checkpoint. SourcesSpec runs this
    * end-to-end (dir → parse → watermark → tumble → upsert) and checks
    * convergence against the batch answer.
    */
  def geojsonLinesDir(spark: SparkSession, path: String): DataFrame =
    spark.readStream.text(path)
}
