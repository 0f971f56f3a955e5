package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.sources.{Contract, Tables}
import graft.streaming.StreamingConf

/** The engine's session conf is declared once, in [[EngineConf]]: engine
  * calls on a session that holds it change nothing, and on a session that
  * does not, they add exactly the group they need. */
class EngineConfSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def unchanged(what: String)(f: => Any): Unit = {
    val before = spark.conf.getAll
    f
    withClue(what)(spark.conf.getAll shouldBe before)
  }

  "Contract.probe" should "leave the session conf unchanged on a clean and a drifted dir" in {
    unchanged("clean")(Contract.probe(spark, sf) shouldBe empty)
    val drifted = tempDir("graft-conf-drift").toString
    // int64 micros where the contract expects nanos, and every other table missing
    spark.read.parquet(s"$sf/events.parquet")
      .withColumn("ts", unix_micros(col("ts").cast(TimestampType)))
      .write.parquet(s"$drifted/events.parquet")
    unchanged("drifted")(Contract.probe(spark, drifted) should not be empty)
  }

  "SparkEntry queries" should "leave the session conf unchanged" in {
    for (q <- Seq("p01_hourly_stats", "p11_violations", "p24_hourly_doc_flat", "p37_dedup_groups"))
      unchanged(q)(SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save())
  }

  "A session without the engine keys" should "gain the read group on the first events read " +
    "and the stream group on the first stream start, and nothing else" in {
    val s2 = spark.newSession()
    (EngineConf.Read ++ EngineConf.Stream).keys.foreach(s2.conf.unset)
    def added(f: => Any): Map[String, String] = {
      val before = s2.conf.getAll
      f
      val after = s2.conf.getAll
      before.keySet -- after.keySet shouldBe empty
      after.filter { case (k, v) => !before.get(k).contains(v) }
    }
    added(Tables.events(s2, sf).count()) shouldBe EngineConf.Read
    added(Tables.events(s2, sf).count()) shouldBe empty
    val emptyDir = tempDir("graft-conf-stream").toString
    val stream = s2.readStream.schema(new StructType().add("value", "string")).json(emptyDir)
    def drain(): Unit = {
      val q = StreamingConf.eachBatch(stream, tempDir("graft-conf-ckpt").toString,
        Trigger.AvailableNow())((_, _) => ())
      try q.awaitTermination(120000) shouldBe true finally q.stop()
    }
    added(drain()) shouldBe EngineConf.Stream
    added(drain()) shouldBe empty
  }

  "The engine packages" should "write no session conf: EngineConf declares it" in {
    val root = Paths.get("src/main/scala/graft")
    val packages = Seq("jobs", "ops", "sources", "streaming", "text", "ann", "functions",
      "sinks", "schema", "multimodal")
    val write = """conf\.(set|unset)\(""".r
    val hits = packages.map(root.resolve).filter(Files.isDirectory(_)).flatMap { dir =>
      val walk = Files.walk(dir)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally walk.close()
    }.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if write.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
      }
    }
    packages.map(root.resolve).filterNot(Files.isDirectory(_)) shouldBe empty
    hits shouldBe empty
  }
}
