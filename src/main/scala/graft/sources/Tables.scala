package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.EngineConf

/** Readers for the driver-provided parquet tables (TESTDATA.md).
  *
  * All reads are plain `spark.read.parquet` so Catalyst gets full predicate
  * pushdown + column pruning against the parquet footers; at cluster scale the
  * same call works against an object-store path (s3a://...) unchanged — the
  * reference instead hand-listed MinIO objects and staged them to /tmp
  * (reference MinioService.scala:57-135), which we deliberately do not port.
  */
object Tables {
  /** events.parquet's `ts` physical encoding is driver-controlled and has
    * changed between rounds (TIMESTAMP(NANOS) through round 9, timestamp[us]
    * since the round-10 regeneration) — so the adapter accepts every encoding
    * it has ever seen and normalizes to TimestampType(UTC):
    *   - TIMESTAMP(NANOS): Spark's reader rejects it outright; the legacy
    *     `nanosAsLong` conf (a no-op for other encodings) surfaces it as
    *     nanos-since-epoch LongType, converted with exact integer division
    *     (a double division would corrupt int64 ns).
    *   - timestamp[us] without isAdjustedToUTC: arrives as TimestampNTZType;
    *     under the pinned UTC session a cast to TimestampType is a pure
    *     re-tag of the same micros value, matching DuckDB's native read.
    *   - timestamp[us/ms] with UTC adjustment: already TimestampType.
    * Anything else fails loudly here (one line, named table+type) instead of
    * as dozens of downstream analysis exceptions.
    *
    * Both the legacy conf and the UTC time zone every date_format /
    * unix_timestamp downstream depends on are [[graft.EngineConf.Read]].
    * Callers may hand us an externally built session, so the read adopts
    * that group: it sets a key only where the session holds another value,
    * and leaves it set.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    EngineConf.adopt(spark, EngineConf.Read)
    normalizeTs(read(spark, dir, "events"))
  }

  /** `ts` → TimestampType regardless of the parquet physical encoding. */
  private[graft] def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long legacy read of TIMESTAMP(NANOS)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case TimestampNTZType => // micros, no UTC flag; session TZ is UTC
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts: expected INT64(nanos), TIMESTAMP, or TIMESTAMP_NTZ, got $other")
    }
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")

  /** U1 multi-path union scan (reference MainWeekly.scala:141-163 — the
    * weekly job concatenates seven day-prefixes into one read): Spark's
    * multi-path parquet read plans all paths as a single relation, so
    * pushdown/pruning apply across the whole union. */
  def eventsUnion(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    EngineConf.adopt(spark, EngineConf.Read)
    normalizeTs(spark.read.parquet(dirs.map(d => s"$d/events.parquet"): _*))
  }

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
