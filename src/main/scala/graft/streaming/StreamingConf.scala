package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.EngineConf

/** How the engine starts its streams.
  *
  * Every engine function that starts a stream goes through [[writeStream]],
  * which adopts [[graft.EngineConf.Stream]] on the stream's session before
  * the start: RocksDB-backed state with changelog checkpointing, and
  * [[LocalCheckpointFileManager]] for the offset and commit logs, the
  * file-source log and the state stores.
  *
  * State backing (SURVEY.md §4): the default HDFS-backed state store keeps
  * every key in executor heap — fine for the reference's 150-slot
  * universe, fatal when the key space is 100× (per-vehicle sessions over a
  * national fleet). RocksDB spills state to local disk with a bounded
  * block cache, and changelog checkpointing ships per-batch deltas instead
  * of full snapshots, so state size is bounded by disk, not heap. Spark
  * reads the provider at query start, and existing checkpoints keep their
  * original provider.
  *
  * Checkpoint I/O is not a choice a caller makes: the checkpoint path's
  * scheme picks the code path (local paths use `java.nio`, every other
  * scheme gets Spark's own manager). The limits of both settings:
  *  - Spark reads each from ONE session-wide conf, so they also apply to
  *    streams a caller starts on the same session by hand afterwards.
  *    Every engine stream start adopts the same values, so the order in
  *    which they run does not matter.
  *  - Only local paths change checkpoint behaviour. Local checkpoints get
  *    no `.crc` sidecars; Hadoop's local file system still reads them (and
  *    this manager reads checkpoints that have sidecars), so an existing
  *    checkpoint restarts either way.
  *  - No fsync, the same as Hadoop's local file system.
  */
object StreamingConf {

  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The Spark conf that names the streaming checkpoint manager class. */
  val CheckpointFileManagerKey: String = "spark.sql.streaming.checkpointFileManagerClass"

  /** `df.writeStream` on a session holding [[graft.EngineConf.Stream]]:
    * the one way the engine starts a stream. */
  def writeStream(df: DataFrame): DataStreamWriter[Row] = {
    EngineConf.adopt(df.sparkSession, EngineConf.Stream)
    df.writeStream
  }

  /** Start `df` as a stream whose sink is `f(batch, batchId)`, run once per
    * micro-batch: the one way the engine starts a `foreachBatch` stream.
    * The sink path is at-least-once (a batch that fails between its sink
    * writes and the checkpoint commit is replayed under the same id), so
    * every `f` must be idempotent per batch id: [[writeBatch]] overwrites
    * the batch's own partition, keyed sinks upsert, and [[VersionedState]]
    * reads only the versions below the batch. */
  def eachBatch(df: DataFrame, checkpoint: String, trigger: Trigger,
                outputMode: String = "append")
               (f: (DataFrame, Long) => Unit): StreamingQuery =
    writeStream(df)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(f)
      .start()

  /** Overwrite `dir/batch=<batchId>` with `df` as parquet: the per-batch
    * output of the streaming twins. A replayed batch rewrites its own
    * partition instead of appending duplicates; readers discover `batch`
    * as a partition column and drop it. */
  def writeBatch(df: DataFrame, dir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
}
