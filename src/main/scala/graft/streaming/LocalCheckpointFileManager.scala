package graft.streaming

import java.io.BufferedOutputStream
import java.net.URI
import java.nio.file.{Files, LinkOption, StandardCopyOption, Path => NioPath}
import java.util.UUID
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus,
  FileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint manager of [[graft.EngineConf.Stream]]: the
  * offset and commit logs, the file-source log, and every state store's
  * files (HDFS-backed or RocksDB, on executors) go through it. The path's
  * scheme picks the code path:
  *
  *  - `file:` paths, and scheme-less paths when the default file system is
  *    local, are written with `java.nio`. Without Hadoop's native library,
  *    Spark's default `FileContext` manager starts a `chmod` process for
  *    every file it creates and a `readlink` process per path for every
  *    rename — thousands of process starts per minute of a live stream,
  *    each costing milliseconds on the micro-batch's critical path. Here
  *    an atomic write is a hidden temp file in the target's directory,
  *    published by `rename(2)` when overwriting is allowed, and otherwise
  *    by a hard link to the final name (which fails if that name exists)
  *    followed by removal of the temp file. Reads (`open`, `list`) go
  *    through Hadoop's raw local file system, which starts no process as
  *    long as callers only use a `FileStatus`'s path, length, type and
  *    times — the checkpoint readers do.
  *  - Any other scheme (hdfs, s3a, …) goes unchanged to the manager Spark
  *    would have picked itself.
  *
  * What the local path does not do, like Hadoop's own local file system:
  * fsync. What it does differently: it writes no `.crc` checksum sidecars.
  * Hadoop's checksummed local file system reads files without a sidecar
  * unchecked, so a checkpoint written here stays readable by Spark's
  * default manager; a sidecar left by that manager is removed when its
  * file is overwritten or deleted here, so it can never go stale. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val delegate: CheckpointFileManager =
    if (LocalCheckpointFileManager.isLocal(path, hadoopConf))
      new NioCheckpointFileManager(path, hadoopConf)
    else LocalCheckpointFileManager.sparkDefault(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  /** Whether `path` lives on the local file system: a `file:` URI, or no
    * scheme while the configuration's default file system is local. */
  def isLocal(path: Path, conf: Configuration): Boolean =
    "file".equalsIgnoreCase(
      Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme))

  /** The manager Spark picks when no manager class is configured. */
  private def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager = {
    val unset = new Configuration(conf)
    unset.unset(StreamingConf.CheckpointFileManagerKey)
    CheckpointFileManager.create(path, unset)
  }
}

/** The `java.nio` half of [[LocalCheckpointFileManager]]. */
private final class NioCheckpointFileManager(root: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val fs: RawLocalFileSystem = {
    val raw = new RawLocalFileSystem()
    raw.initialize(URI.create("file:///"), hadoopConf)
    raw
  }

  private def local(p: Path): NioPath = fs.pathToFile(p).toPath

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = local(p)
    // hidden, so HDFSMetadataLog's batch filter never lists it
    val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
    new AtomicOutput(temp, target, overwriteIfPossible)
  }

  override def open(p: Path): FSDataInputStream = fs.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = fs.listStatus(p, filter)

  override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

  override def exists(p: Path): Boolean = Files.exists(local(p))

  /** Recursive, and a no-op on a missing path, like the default manager. */
  override def delete(p: Path): Unit = {
    val target = local(p)
    if (Files.isDirectory(target, LinkOption.NOFOLLOW_LINKS)) {
      val walk = Files.walk(target)
      try walk.sorted(java.util.Comparator.reverseOrder[NioPath]())
        .forEach { f => Files.deleteIfExists(f); () }
      finally walk.close()
    } else {
      Files.deleteIfExists(target)
      Files.deleteIfExists(AtomicOutput.checksumOf(target))
    }
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    val qualified = fs.makeQualified(root)
    mkdirs(qualified)
    qualified
  }
}

/** An atomic write: bytes go to `temp`, `close` publishes it as `target`
  * and `cancel` drops it. Either way the temp file is gone afterwards. */
private final class AtomicOutput(temp: NioPath, target: NioPath, overwrite: Boolean)
    extends CancellableFSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(temp))) {

  private var done = false

  override def close(): Unit = synchronized {
    if (!done) {
      done = true
      try {
        super.close()
        if (overwrite) {
          // drop a stale sidecar before the new content becomes visible
          Files.deleteIfExists(AtomicOutput.checksumOf(target))
          Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
        } else {
          try Files.createLink(target, temp)
          catch {
            // HDFSMetadataLog catches Hadoop's type: another writer owns the batch
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists")
          }
        }
      } finally Files.deleteIfExists(temp)
    }
  }

  override def cancel(): Unit = synchronized {
    if (!done) {
      done = true
      Try(super.close())
      Try(Files.deleteIfExists(temp))
    }
  }
}

private object AtomicOutput {
  /** Where Hadoop's checksummed local file system keeps `file`'s CRCs. */
  def checksumOf(file: NioPath): NioPath = file.resolveSibling(s".${file.getFileName}.crc")
}
