package graft.sources

import java.nio.file.Files
import graft.SparkSpec
import graft.schema.ParkingModel
import org.apache.spark.sql.functions._

class EventLakeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val lakeDir: String = {
    val dir = tempDir("graft-lake").toString
    EventLake.writePartitioned(ParkingModel.parkingEvents(spark, sfDir), dir)
    dir
  }

  "EventLake" should "round-trip events through partitioned gzip JSON at µs precision" in {
    val orig = ParkingModel.parkingEvents(spark, sfDir)
      .select("event_id", "ts", "eventType", "licensePlate", "vehicleType",
        "parkingLotId", "parkingSpotId", "isSlotHandicapped", "duration_ms")
    val back = EventLake.read(spark, lakeDir)
      .select("event_id", "ts", "eventType", "licensePlate", "vehicleType",
        "parkingLotId", "parkingSpotId", "isSlotHandicapped", "duration_ms")
    back.count() shouldBe orig.count()
    // exceptAll is symmetric-difference-empty ⇒ multiset equality
    back.exceptAll(orig).count() shouldBe 0
    orig.exceptAll(back).count() shouldBe 0
  }

  it should "write gzip JSON-lines files in y/m/d/h partition dirs (S8 layout)" in {
    val files = Files.walk(java.nio.file.Paths.get(lakeDir)).toArray.map(_.toString)
    files.exists(_.matches(".*y=\\d{4}/m=\\d{2}/d=\\d{2}/h=\\d{2}/part-.*\\.json\\.gz")) shouldBe true
  }

  it should "prune partitions for an hour-scoped read" in {
    val hour = EventLake.readHour(spark, lakeDir, "2024", "01", "01", "10")
    val expected = ParkingModel.parkingEvents(spark, sfDir)
      .filter(date_format(col("ts"), "yyyy-MM-dd HH") === "2024-01-01 10")
    hour.count() shouldBe expected.count()
    hour.count() should be > 0L
    val plan = hour.queryExecution.executedPlan.toString
    plan should include("PartitionFilters: [")
    plan should include("isnotnull(h")
  }

  it should "extract ingest time from the file path (F2) agreeing with event time truncation" in {
    val withIngest = EventLake.readWithIngestTime(spark, lakeDir)
    withIngest.count() should be > 0L
    // the lake partitions by event-time y/m/d/h, so path-derived ingest_ts
    // must equal the event ts truncated to the hour for every row
    withIngest
      .filter(col("ingest_ts") =!= date_trunc("hour", col("ts")))
      .count() shouldBe 0L
  }

  it should "survive schema evolution in both directions (declared-schema read)" in {
    val dir = tempDir("graft-lake-evolve")
    EventLake.writePartitioned(ParkingModel.parkingEvents(spark, sfDir).limit(5),
      dir.toString)
    val part = Files.walk(dir).filter(p => p.toString.contains("h=")).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).find(Files.isDirectory(_)).get
    // FORWARD compat: a writer added fields this reader doesn't know —
    // unknown keys are ignored by the declared-schema read, row survives.
    // BACKWARD compat: a writer omitted a known nullable field (duration)
    // — the row decodes with null there rather than being dropped.
    val newer =
      """{"event_id":900001,"eventType":"PARKING_ENTRY","timestamp":"2024-01-01T10:00:00.000Z","vehicle":{"licensePlate":"P-9","vehicleType":"car","color":"red"},"parking":{"parkingLotId":"lot-01","parkingSpotId":"7","isSlotHandicapped":false},"duration":null,"NEW_FIELD":{"a":1},"schema_rev":7}"""
    val older =
      """{"event_id":900002,"eventType":"PARKING_EXIT","timestamp":"2024-01-01T10:01:00.000Z","vehicle":{"licensePlate":"P-9","vehicleType":"car","color":"red"},"parking":{"parkingLotId":"lot-01","parkingSpotId":"7","isSlotHandicapped":false}}"""
    Files.write(part.resolve("evolved-extra.json"), (newer + "\n" + older).getBytes("UTF-8"))
    val out = EventLake.read(spark, dir.toString)
    out.count() shouldBe 7L
    val evolved = out.filter(col("event_id") >= 900001L).orderBy("event_id").collect()
    evolved.map(_.getAs[Long]("event_id")).toSeq shouldBe Seq(900001L, 900002L)
    evolved.last.isNullAt(evolved.last.fieldIndex("duration_ms")) shouldBe true
  }

  it should "tolerate corrupt lines in the lake (S3 permissive read)" in {
    val dir = tempDir("graft-lake-corrupt")
    EventLake.writePartitioned(ParkingModel.parkingEvents(spark, sfDir).limit(10),
      dir.toString)
    // drop a corrupt uncompressed file beside the gzip parts, inside a
    // valid partition dir
    val part = Files.walk(dir).filter(p => p.toString.contains("h=")).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).find(Files.isDirectory(_)).get
    Files.write(part.resolve("corrupt-extra.json"), "NOT JSON AT ALL\n{\"броken\"".getBytes)
    val n = EventLake.read(spark, dir.toString).count()
    n shouldBe 10L
  }
}
