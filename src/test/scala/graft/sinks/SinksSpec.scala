package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.SparkSpec
import graft.jobs.Jobs
import graft.ops.{HourlyDocs, ParkingAnalytics}

class SinksSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  "Resp" should "encode commands with byte-exact RESP framing" in {
    val bytes = Resp.encode(Seq("JSON.SET", "k1", ".", """{"a":1}"""))
    new String(bytes, StandardCharsets.UTF_8) shouldBe
      "*4\r\n$8\r\nJSON.SET\r\n$2\r\nk1\r\n$1\r\n.\r\n$7\r\n{\"a\":1}\r\n"
  }

  it should "frame multi-byte UTF-8 payloads by byte length, not char count" in {
    val bytes = Resp.encode(Seq("SET", "k", "é")) // é = 2 bytes in UTF-8
    new String(bytes, StandardCharsets.UTF_8) should include("$2\r\né\r\n")
  }

  "Jobs.publish" should "deliver idempotent window-keyed documents to a sink" in {
    val sink = new InMemoryKeyValueSink
    val docs = HourlyDocs.documents(spark, sfDir).select("redis_key", "doc")
    val puts = Jobs.publish(docs, sink)
    val sizeAfterFirst = sink.store.size
    puts shouldBe sizeAfterFirst
    Jobs.publish(docs, sink) // replay — at-least-once must converge
    sink.store.size shouldBe sizeAfterFirst
    sizeAfterFirst should be > 0
    val (key, doc) = sink.store.head
    key should fullyMatch regex "parking-stats:hourly:\\d{4}-\\d{2}-\\d{2}:\\d{2}"
    doc should include("\"NbrEntries\":")
  }

  it should "write documents through the file-backed sink" in {
    val dir = tempDir("graft-kv").toString
    val sink = new FileKeyValueSink(dir)
    Jobs.publish(HourlyDocs.documents(spark, sfDir).select("redis_key", "doc").limit(3), sink)
    val files = Files.list(Paths.get(dir)).toArray
    files.length shouldBe 3
    new String(Files.readAllBytes(files.head.asInstanceOf[java.nio.file.Path])) should
      include("\"Occupancy\":")
  }

  "InMemoryTimeSeriesSink" should "accumulate daily rollups as ordered series points" in {
    val sink = new InMemoryTimeSeriesSink
    val daily = ParkingAnalytics.dailyRollup(spark, sfDir).collect()
    daily.foreach { r =>
      val epoch = java.time.LocalDate.parse(r.getString(0))
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
      sink.add("parking-events:daily:entries", epoch, r.getLong(1).toDouble)
      sink.add("parking-events:daily:exits", epoch, r.getLong(2).toDouble)
    }
    sink.store("parking-events:daily:entries").size shouldBe daily.length
    sink.store("parking-events:daily:entries").map(_._1) shouldBe sorted
  }

  "HourlyDocs.documents" should "render the exact reference statsToJson field contract" in {
    val doc = HourlyDocs.documents(spark, sfDir)
      .filter("date_str = '2024-01-01'").orderBy("hour_str")
      .collect().head.getAs[String]("doc")
    // field order and capitalized names are the Grafana compatibility
    // contract (reference MainHourly.scala:158-171).
    doc should fullyMatch regex
      ("""\{"NbrEntries":\d+,"NbrExit":\d+,"Occupancy":\{[^}]*\},""" +
        """"RevenueSimulation":[0-9.]+,"VehicleTypes":\{[^}]*\}\}""")
    doc should include regex """"Occupancy":\{("lot-0\d":\d+,?)+\}"""
  }
}
