package graft

import org.apache.spark.sql.SparkSession

import graft.streaming.{LocalCheckpointFileManager, StreamingConf}

/** The session conf the engine depends on, declared once.
  *
  * The engine runs as library calls on a caller's session, so the settings
  * below are part of its contract. Two groups:
  *  - [[Read]]: what every events read needs. `events.ts` arrives in several
  *    parquet encodings ([[graft.sources.Tables.events]]); the legacy
  *    `nanosAsLong` conf surfaces TIMESTAMP(NANOS) as a long instead of
  *    failing the read, and every `date_format`/`unix_timestamp` downstream
  *    assumes the UTC session time zone.
  *  - [[Stream]]: what every engine stream starts on: RocksDB state with
  *    changelog checkpointing, and [[LocalCheckpointFileManager]] (why, and
  *    the limits, are in [[StreamingConf]]).
  *
  * [[session]] builds a local session with both groups. An entry point that
  * may run on a session built elsewhere calls [[adopt]] with the group it
  * needs: the events readers and `Contract.probe` adopt [[Read]], and
  * [[StreamingConf.writeStream]], through which every engine stream starts,
  * adopts [[Stream]]. Nothing restores or unsets these keys: the values are
  * the engine's, so a second call finds them in place and writes nothing.
  */
object EngineConf {

  val Read: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  val Stream: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" -> StreamingConf.RocksDbProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    StreamingConf.CheckpointFileManagerKey -> classOf[LocalCheckpointFileManager].getName)

  /** local[cpus] session with shuffle partitions = cpus, no UI, both
    * groups set, and Spark's log level set to `logLevel`. */
  def session(cpus: String, logLevel: String): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    val spark = (Read ++ Stream).foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Set each key of `group` that `spark` does not already hold at its
    * declared value; a session that holds them all is left untouched. */
  def adopt(spark: SparkSession, group: Map[String, String]): Unit = {
    val held = spark.conf.getAll
    group.foreach { case (k, v) => if (!held.get(k).contains(v)) spark.conf.set(k, v) }
  }
}
