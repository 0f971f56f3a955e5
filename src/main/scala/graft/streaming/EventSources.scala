package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming event sources (SURVEY.md §2.1 S5/S6/S13) behind one trait: a
  * raw stream of JSON payload strings in a `value` column — exactly what a
  * Kafka value deserializer hands the reference's consumers
  * (srvc-alert ParkingEventConsumer.scala:24-53, repo-events
  * RepoEventsApi.scala:32-90).
  */
trait EventSource {
  def stream(spark: SparkSession): DataFrame
}

/** Kafka source (reference topic "parking-events"). Requires the
  * spark-sql-kafka connector on the cluster classpath — not present in the
  * sandbox, so this class is exercised on a real cluster only; everything
  * downstream of the `value` column is covered by [[FileEventSource]] tests.
  * `maxOffsetsPerTrigger` is the backpressure bound (ST7): a 1000-executor
  * cluster re-planning a lagged topic must not pull the whole backlog into
  * one micro-batch. */
final case class KafkaEventSource(bootstrapServers: String, topic: String,
                                  maxOffsetsPerTrigger: Long = 100000L) extends EventSource {
  /** The reader options, exposed so the wiring is unit-testable without a
    * broker (the only Kafka surface a brokerless sandbox can check). */
  def options: Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "subscribe" -> topic,
    "startingOffsets" -> "earliest",
    "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString)

  def stream(spark: SparkSession): DataFrame =
    spark.readStream.format("kafka")
      .options(options)
      .load()
      .selectExpr("CAST(value AS STRING) AS value")
}

/** S7: the keyed Kafka producer sink shape (reference srvc-io Main.scala:
  * 23-47 / AlertEventPublisher.scala:12-35 — `ProducerRecord(topic,
  * licensePlate, json)`). Spark's Kafka sink consumes (key, value) string
  * columns; this helper shapes any event/alert frame accordingly and
  * returns the configured writer. Requires the spark-sql-kafka connector
  * at runtime (not present in the sandbox — compile-only here, the
  * key/value shaping itself is covered by the file-sink jobs which reuse
  * the same to_json projections). Keying by plate preserves the
  * reference's per-vehicle ordering guarantee across partitions. */
object KafkaEventSink {
  import org.apache.spark.sql.streaming.DataStreamWriter
  import org.apache.spark.sql.Row

  /** The producer-record shaping: exactly (key STRING, value STRING), the
    * schema Spark's Kafka sink requires. Split out so it is unit-testable
    * without a broker. */
  def shape(df: DataFrame, keyCol: String): DataFrame =
    df.select(
      col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"))

  /** The writer options, exposed for the same brokerless-testability
    * reason as [[KafkaEventSource.options]]. */
  def options(bootstrapServers: String, topic: String,
              checkpoint: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "topic" -> topic,
    "checkpointLocation" -> checkpoint)

  def writer(df: DataFrame, keyCol: String, bootstrapServers: String,
             topic: String, checkpoint: String): DataStreamWriter[Row] =
    StreamingConf.writeStream(shape(df, keyCol))
      .format("kafka")
      .options(options(bootstrapServers, topic, checkpoint))
}

/** File-backed source: JSON-lines files in a directory, one `value` string
  * per line — the sandbox/test stand-in for Kafka with identical downstream
  * semantics. `maxFilesPerTrigger = 1` forces multi-micro-batch replays so
  * tests exercise cross-batch state. */
final case class FileEventSource(dir: String, maxFilesPerTrigger: Int = 1) extends EventSource {
  def stream(spark: SparkSession): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
      .select(col("value"))
}

/** Decode + flatten of the raw value stream (S1/F10/P2 + decode-drop ST6). */
object EventDecode {

  /** The reference's explicit nested event schema
    * (MainHourly.scala:29-57, ParkingEvent.scala:3-21) plus an optional
    * `event_id` our replay harness carries for deterministic ordering. */
  val ParkingEventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = true),
    StructField("eventType", StringType, nullable = false),
    StructField("timestamp", StringType, nullable = false),
    StructField("vehicle", StructType(Seq(
      StructField("licensePlate", StringType, nullable = false),
      StructField("vehicleType", StringType, nullable = false),
      StructField("color", StringType, nullable = true))), nullable = false),
    StructField("parking", StructType(Seq(
      StructField("parkingLotId", StringType, nullable = false),
      StructField("parkingSpotId", StringType, nullable = false),
      StructField("isSlotHandicapped", BooleanType, nullable = false))), nullable = false),
    StructField("duration", LongType, nullable = true)))

  /** JSON value → flattened event rows. Undecodable payloads are dropped,
    * matching the reference's log-and-skip (ParkingEventConsumer.scala:
    * 55-63): `from_json` yields a null/empty struct, which the
    * eventType-null filter removes. Purely narrow — no shuffle. */
  def decode(raw: DataFrame): DataFrame =
    flattenNested(raw.select(from_json(col("value"), ParkingEventSchema).as("evt"))
      .select(col("evt.*")))

  /** Nested event columns (the reference shape, whether from `from_json`
    * or a schema'd lake read) → the canonical flat 9-column event frame
    * (P2, MainHourly.scala:70-80), dropping rows that failed to decode or
    * carry a foreign eventType (P1). */
  def flattenNested(nested: DataFrame): DataFrame =
    nested
      .filter(col("eventType").isNotNull && col("timestamp").isNotNull)
      .filter(col("eventType").isin("PARKING_ENTRY", "PARKING_EXIT"))
      .select(
        col("event_id"),
        to_timestamp(col("timestamp")).as("ts"),
        col("eventType"),
        col("vehicle.licensePlate").as("licensePlate"),
        col("vehicle.vehicleType").as("vehicleType"),
        col("parking.parkingLotId").as("parkingLotId"),
        col("parking.parkingSpotId").as("parkingSpotId"),
        col("parking.isSlotHandicapped").as("isSlotHandicapped"),
        col("duration").as("duration_ms"))
}
