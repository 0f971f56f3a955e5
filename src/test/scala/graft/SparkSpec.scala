package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** One shared local session for the whole suite (sessions are expensive;
  * ScalaTest suites run sequentially under sbt's single forked JVM). */
object TestSpark {
  lazy val spark: SparkSession = EngineConf.session("4", "ERROR")
}

/** Base spec: shared session, scoped temp dirs and scoped conf. */
abstract class SparkSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  private val tempDirs = ArrayBuffer.empty[Path]

  /** A new dir under `java.io.tmpdir`, deleted when the suite ends. */
  def tempDir(prefix: String): Path = synchronized {
    val dir = Files.createTempDirectory(prefix)
    tempDirs += dir
    dir
  }

  /** Interpreted expression evaluation, for withConf: the
    * generated-vs-interpreted agreement checks. */
  val NoCodegen: (String, Option[String]) = "spark.sql.codegen.factoryMode" -> Some("NO_CODEGEN")

  /** Run `body` with each key set to its value (`None` unsets it), then
    * put back what the session held before: the old value, or no value. */
  def withConf[T](settings: (String, Option[String])*)(body: => T): T = {
    def put(kv: (String, Option[String])): Unit = kv match {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val held = spark.conf.getAll
    val saved = settings.map { case (k, _) => k -> held.get(k) }
    settings.foreach(put)
    try body finally saved.foreach(put)
  }

  override def afterAll(): Unit =
    try tempDirs.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
    finally super.afterAll()
}
