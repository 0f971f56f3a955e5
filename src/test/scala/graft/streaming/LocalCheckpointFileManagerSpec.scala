package graft.streaming

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.apache.hadoop.fs.viewfs.ConfigUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  CommitLog, FileContextBasedCheckpointFileManager}

import graft.SparkSpec

/** Exposes the commit log's protected batch-file filter. */
private class CommitLogFilter(spark: SparkSession, dir: String) extends CommitLog(spark, dir) {
  def filter: PathFilter = batchFilesFilter
}

/** The contract of [[LocalCheckpointFileManager]]: every operation run on
  * a fresh temp directory through Spark's `FileContext` manager and
  * through ours gives the same result, a non-`file:` path is handed to
  * Spark's manager, and checkpoints move between the two managers in both
  * directions. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private val conf = new Configuration()

  /** `HDFSMetadataLog`'s batch-file filter, as the offset and commit logs
    * use it to list their batches. */
  private lazy val batchFilter: PathFilter =
    new CommitLogFilter(spark, tempDir("cfm-log").toString).filter

  private def sparkFm(root: Path): CheckpointFileManager =
    new FileContextBasedCheckpointFileManager(root, conf)

  private def ourFm(root: Path): CheckpointFileManager = new LocalCheckpointFileManager(root, conf)

  private def sparkFm(dir: NioPath): CheckpointFileManager = sparkFm(new Path(dir.toUri))
  private def ourFm(dir: NioPath): CheckpointFileManager = ourFm(new Path(dir.toUri))

  /** Run `body` once per manager, each on its own fresh directory, and
    * return both results: Spark's first. */
  private def both[T](body: (CheckpointFileManager, NioPath) => T): (T, T) = {
    val a = tempDir("cfm-spark")
    val b = tempDir("cfm-local")
    (body(sparkFm(a), a), body(ourFm(b), b))
  }

  private def p(dir: NioPath, name: String): Path = new Path(dir.resolve(name).toUri)

  /** An atomic write the way `HDFSMetadataLog` makes one: cancel on any
    * failure, then rethrow. */
  private def write(fm: CheckpointFileManager, path: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(path, overwrite)
    try {
      out.write(text.getBytes(UTF_8))
      out.close()
    } catch {
      case e: Throwable => out.cancel(); throw e
    }
  }

  private def read(fm: CheckpointFileManager, path: Path): String = {
    val in = fm.open(path)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every name in `dir` as the OS sees it, sidecars and hidden files
    * included. */
  private def onDisk(dir: NioPath): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
  }

  private def withoutSidecars(names: Seq[String]): Seq[String] = names.filterNot(_.endsWith(".crc"))

  private def visible(dir: NioPath): Seq[String] = onDisk(dir).filterNot(_.startsWith("."))

  "createAtomic" should "publish, overwrite, and refuse a second no-overwrite write alike" in {
    val (a, b) = both { (fm, dir) =>
      val f = p(dir, "0")
      write(fm, f, "first", overwrite = false)
      val afterFirst = read(fm, f)
      val refused = Try(write(fm, f, "second", overwrite = false)).failed.toOption.map(_.getClass)
      val afterRefused = read(fm, f)
      write(fm, f, "third", overwrite = true)
      ((afterFirst, refused, afterRefused, read(fm, f), visible(dir)), onDisk(dir))
    }
    a._1 shouldBe b._1
    b._1 shouldBe (("first", Some(classOf[FileAlreadyExistsException]), "first", "third", Seq("0")))
    // Spark's manager leaves the refused write's temp file behind; ours
    // leaves nothing but the published file
    b._2 shouldBe Seq("0")
  }

  "cancel" should "leave no file behind" in {
    val (a, b) = both { (fm, dir) =>
      val out = fm.createAtomic(p(dir, "1"), overwriteIfPossible = false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      (onDisk(dir), fm.exists(p(dir, "1")))
    }
    a shouldBe b
    b shouldBe ((Seq.empty, false))
  }

  "an unclosed atomic stream" should "leave only a hidden temp file the batch listing ignores" in {
    val (a, b) = both { (fm, dir) =>
      val out = fm.createAtomic(p(dir, "2"), overwriteIfPossible = false)
      out.write("in flight".getBytes(UTF_8))
      out.flush()
      val hidden = withoutSidecars(onDisk(dir))
      val listed = fm.list(new Path(dir.toUri), batchFilter).map(_.getPath.getName).toSeq
      out.cancel()
      (hidden.map(n => n.startsWith(".2.") && n.endsWith(".tmp")), listed)
    }
    a shouldBe b
    b shouldBe ((Seq(true), Seq.empty))
  }

  "open, list, exists, delete and mkdirs" should "give the default manager's results" in {
    val (a, b) = both { (fm, dir) =>
      val root = new Path(dir.toUri)
      fm.mkdirs(p(dir, "state/0/1"))
      fm.mkdirs(p(dir, "state/0/1")) // existing directory: a no-op
      Seq("0", "1", "10").foreach(n => write(fm, p(dir, n), s"batch $n", overwrite = false))
      val listed = fm.list(root).map { s =>
        (s.getPath.getName, s.getPath.toUri.getScheme, s.isDirectory, s.getLen)
      }.toSeq.sortBy(_._1)
      val batches = fm.list(root, batchFilter).map(_.getPath.getName).toSeq.sorted
      val content = read(fm, p(dir, "10"))
      val existed = Seq("0", "state/0/1", "9").map(n => fm.exists(p(dir, n)))
      fm.delete(p(dir, "0"))
      fm.delete(p(dir, "state")) // recursive
      fm.delete(p(dir, "missing")) // a no-op
      val missing = Seq(
        Try(fm.open(p(dir, "0"))).failed.toOption.map(_.getClass),
        Try(fm.list(p(dir, "state"))).failed.toOption.map(_.getClass))
      (listed, batches, content, existed, Seq("0", "state").map(n => fm.exists(p(dir, n))),
        missing, withoutSidecars(onDisk(dir)))
    }
    a shouldBe b
    b._2 shouldBe Seq("0", "1", "10")
    b._6 shouldBe Seq.fill(2)(Some(classOf[FileNotFoundException]))
    b._7 shouldBe Seq("1", "10")
  }

  "createCheckpointDirectory" should "create the root and return it qualified" in {
    val dir = tempDir("cfm-root")
    val made = Seq[Path => CheckpointFileManager](sparkFm, ourFm).zipWithIndex.map { case (mk, i) =>
      val root = dir.resolve(s"ckpt$i")
      // scheme-less, as a checkpointLocation usually is
      (mk(new Path(root.toString)).createCheckpointDirectory(), Files.isDirectory(root))
    }
    made shouldBe Seq(0, 1).map(i => (new Path(s"file:$dir/ckpt$i"), true))
  }

  "a checkpoint" should "move between the default manager and ours in both directions" in {
    val dir = tempDir("cfm-mixed")
    val f = p(dir, "3")
    write(sparkFm(dir), f, "from spark", overwrite = false)
    onDisk(dir) shouldBe Seq(".3.crc", "3")
    read(ourFm(dir), f) shouldBe "from spark"
    // an overwrite here drops the sidecar, so the default manager's
    // checksummed read does not fail on the new content
    write(ourFm(dir), f, "from ours, longer", overwrite = true)
    onDisk(dir) shouldBe Seq("3")
    read(sparkFm(dir), f) shouldBe "from ours, longer"
    write(sparkFm(dir), p(dir, "4"), "x", overwrite = false)
    ourFm(dir).delete(p(dir, "4"))
    onDisk(dir) shouldBe Seq("3")
  }

  "a non-file: path" should "go to Spark's own manager" in {
    val target = tempDir("cfm-viewfs")
    val viewConf = new Configuration()
    ConfigUtil.addLink(viewConf, "graft", "/ckpt", target.toUri)
    val root = new Path("viewfs://graft/ckpt")
    val fm = new LocalCheckpointFileManager(root, viewConf)
    fm.delegate shouldBe a[FileContextBasedCheckpointFileManager]
    write(fm, new Path(root, "0"), "via viewfs", overwrite = false)
    new String(Files.readAllBytes(target.resolve("0")), UTF_8) shouldBe "via viewfs"

    LocalCheckpointFileManager.isLocal(new Path("/tmp/ckpt"), conf) shouldBe true
    LocalCheckpointFileManager.isLocal(new Path("file:/tmp/ckpt"), conf) shouldBe true
    LocalCheckpointFileManager.isLocal(new Path("hdfs://nn:8020/ckpt"), conf) shouldBe false
    LocalCheckpointFileManager.isLocal(new Path("s3a://bucket/ckpt"), conf) shouldBe false
    // a scheme-less path resolves against the default file system
    val remoteDefault = new Configuration(viewConf)
    remoteDefault.set("fs.defaultFS", "viewfs://graft/")
    LocalCheckpointFileManager.isLocal(new Path("/ckpt"), remoteDefault) shouldBe false
    new LocalCheckpointFileManager(new Path(target.toUri), conf).delegate should not be
      a[FileContextBasedCheckpointFileManager]
  }
}
