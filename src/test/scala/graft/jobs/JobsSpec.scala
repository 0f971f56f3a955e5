package graft.jobs

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec
import graft.ops.ParkingAnalytics
import graft.schema.ParkingModel
import graft.sinks.{InMemoryKeyValueSink, InMemoryNotifier, InMemoryTimeSeriesSink}
import graft.sources.Tables
import graft.streaming.{EventDecode, FileEventSource, StreamingConf, ViolationStream}
import org.apache.spark.sql.functions._

class JobsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The sf0.001 events as the reference's nested JSON lines, in event_id
    * order. */
  private lazy val eventLines: Array[String] =
    ParkingModel.parkingEvents(spark, sfDir).orderBy("event_id")
      .select(to_json(struct(
        col("event_id"), col("eventType"), col("ts").as("timestamp"),
        struct(col("licensePlate"), col("vehicleType"), lit("gray").as("color")).as("vehicle"),
        struct(col("parkingLotId"), col("parkingSpotId"), col("isSlotHandicapped")).as("parking"),
        col("duration_ms").as("duration"))).as("l")).collect().map(_.getString(0))

  /** Land `lines` in `dir` as file `i`, its mtime ordering it after every
    * file of a lower index. */
  private def land(dir: Path, i: Int, lines: Seq[String]): Unit = {
    val f = dir.resolve(f"c$i%02d.json")
    Files.write(f, lines.mkString("\n").getBytes)
    f.toFile.setLastModified(1700000000000L + i * 60000L)
  }

  /** Numbered batch files of a checkpoint's offset or commit log. */
  private def batchIds(log: Path): Seq[Long] =
    if (!Files.isDirectory(log)) Seq.empty
    else {
      val s = Files.list(log)
      try s.iterator.asScala.map(_.getFileName.toString)
        .filter(_.forall(_.isDigit)).map(_.toLong).toSeq.sorted
      finally s.close()
    }

  "hourlyStats job" should "publish one document per clock hour" in {
    val sink = new InMemoryKeyValueSink
    val n = Jobs.hourlyStats(spark, sfDir, sink)
    sink.store.size.toLong shouldBe n
    sink.store.keys.foreach(_ should startWith("parking-stats:hourly:"))
    sink.store.values.foreach(_ should include("\"VehicleTypes\":"))
  }

  it should "fail on an empty events table, naming its directory and putting no key (P7)" in {
    val dir = tempDir("job-empty")
    Tables.events(spark, sfDir).limit(0).write.parquet(dir.resolve("events.parquet").toString)
    val sink = new InMemoryKeyValueSink
    val e = intercept[IllegalStateException](Jobs.hourlyStats(spark, dir.toString, sink))
    e.getMessage should include(dir.toString)
    sink.store shouldBe empty
  }

  "dailyRollup job" should "write entries/exits/revenue series points per day" in {
    val sink = new InMemoryTimeSeriesSink
    val days = Jobs.dailyRollup(spark, sfDir, sink)
    sink.store.keySet shouldBe Set(
      "parking-events:daily:entries", "parking-events:daily:exits",
      "parking-events:daily:revenue")
    sink.store("parking-events:daily:entries").size.toLong shouldBe days
    val totalEntries = sink.store("parking-events:daily:entries").map(_._2).sum
    totalEntries shouldBe ParkingAnalytics.dailyRollup(spark, sfDir)
      .agg(sum("entries")).collect().head.getLong(0).toDouble
  }

  "weeklyStats job" should "publish revenue-by-type and avgspent documents" in {
    val sink = new InMemoryKeyValueSink
    Jobs.weeklyStats(spark, sfDir, sink)
    sink.store.keys.count(_.startsWith("parking-stats:weekly:revenue-by-type:")) shouldBe 5
    sink.store.keys.count(_.startsWith("parking-stats:weekly:avgspent:")) should be > 0
    sink.store.values.foreach(_ should startWith("{"))
  }

  /** Run `job` and assert that it ran exactly one successful SQL execution
    * and left no new persisted RDD. A marker query run after `job` bounds
    * the count: the listener sees executions in the order they end, so
    * once it has seen the marker it has seen every execution of `job`. */
  private def inOneExecution[T](job: => T): T = {
    val marker = "jobs_spec_marker"
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var marked = false
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq(marker)) marked = true
        else if (!marked) runs.add(f)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        if (!marked) runs.add(s"failed $f")
    }
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    spark.listenerManager.register(listener)
    try {
      val out = job
      spark.range(1).toDF(marker).collect()
      eventually(timeout(30.seconds), interval(50.millis)) { marked shouldBe true }
      runs.asScala.toSeq should have size 1
      (persisted -- before) shouldBe empty
      out
    } finally spark.listenerManager.unregister(listener)
  }

  "the batch jobs" should "each execute one plan once and return what reached the sink" in {
    val hourly = new InMemoryKeyValueSink
    inOneExecution(Jobs.hourlyStats(spark, sfDir, hourly)) shouldBe hourly.store.size
    val daily = new InMemoryTimeSeriesSink
    val days = inOneExecution(Jobs.dailyRollup(spark, sfDir, daily))
    days should be > 0L
    daily.store.values.map(_.size.toLong).toSet shouldBe Set(days)
    val weekly = new InMemoryKeyValueSink
    inOneExecution(Jobs.weeklyStats(spark, sfDir, weekly)) shouldBe weekly.store.size
  }

  "liveSlotView job" should "stream the materialized view into the sink" in {
    // replay events as JSON through the file source (one file is enough —
    // cross-batch state is covered by StreamingParitySpec)
    val dir = tempDir("job-events")
    Files.write(dir.resolve("events.json"), String.join("\n", eventLines: _*).getBytes)
    val sink = new InMemoryKeyValueSink
    val q = Jobs.liveSlotView(spark, FileEventSource(dir.toString, maxFilesPerTrigger = 10),
      sink, tempDir("job-ckpt").toString)
    q.awaitTermination(120000)
    val batch = ParkingAnalytics.latestSlotState(spark, sfDir).collect()
    sink.store.size shouldBe batch.length
    batch.foreach { r =>
      val key = s"${r.getString(0)}-${r.getString(1)}"
      sink.store(key) should include(s""""occupied":${r.getBoolean(2)}""")
    }
  }

  "hourlyStatsStream job" should "converge the sink to the batch occupancyByLot rows" in {
    val dir = tempDir("job-hourly")
    eventLines.grouped(250).zipWithIndex.foreach { case (ls, i) => land(dir, i, ls) }
    val sink = new InMemoryKeyValueSink
    val q = Jobs.hourlyStatsStream(spark, FileEventSource(dir.toString, maxFilesPerTrigger = 1),
      sink, tempDir("hourly-ckpt").toString)
    q.awaitTermination(180000)
    val batch = ParkingAnalytics.occupancyByLot(spark, sfDir).collect()
    sink.store.size shouldBe batch.length
    batch.foreach { r =>
      val key = s"parking-stats:hourly:${r.getString(0)}:${r.getString(1)}:${r.getString(2)}"
      sink.store(key) shouldBe
        s"""{"entries":${r.getLong(3)},"exits":${r.getLong(4)},"occupancy":${r.getLong(5)}}"""
    }
  }

  /** The alert documents p11 gives over `dir`'s events and registry, keyed
    * `alert:<event_id>` as the alert stream puts them. */
  private def p11AlertDocs(dir: String): Map[String, String] =
    alertDocs(ParkingAnalytics.violations(spark, dir))

  private def alertDocs(alerts: DataFrame): Map[String, String] =
    alerts.select(concat(lit("alert:"), col("event_id")),
        to_json(struct(col("vehicle_plate"), col("spot_id"), col("lot_id"),
          col("violation_type"), col("severity"), col("event_time"))))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  /** A directory holding a copy of the sf0.001 events and `customers` as
    * its user registry. */
  private def registryDir(customers: DataFrame): Path = {
    val dir = tempDir("job-registry")
    Tables.events(spark, sfDir).write.parquet(dir.resolve("events.parquet").toString)
    customers.write.parquet(dir.resolve("customer.parquet").toString)
    dir
  }

  "alertStream job" should "publish exactly the batch violations as alert documents" in {
    val dir = tempDir("job-alerts")
    Files.write(dir.resolve("events.json"), String.join("\n", eventLines: _*).getBytes)
    val sink = new InMemoryKeyValueSink
    val q = Jobs.alertStream(spark, FileEventSource(dir.toString, maxFilesPerTrigger = 10),
      sfDir, sink, tempDir("alert-ckpt").toString)
    q.awaitTermination(120000)
    val expected = p11AlertDocs(sfDir)
    expected should not be empty
    sink.store.toMap shouldBe expected
  }

  it should "look up null, unregistered, registered and handicapped plates as p11 does" in {
    // sf0.001 registers P-1 (not handicapped) and P-13 (handicapped); P-7
    // (a multiple of 7) and P-999999 are not registered
    def event(id: Int, plate: String, handicappedSlot: Boolean = true): String =
      s"""{"event_id":$id,"eventType":"PARKING_ENTRY","timestamp":"2024-03-01T10:00:0${id}.000Z",""" +
        s""""vehicle":{"licensePlate":$plate,"vehicleType":"CAR","color":"gray"},""" +
        s""""parking":{"parkingLotId":"lot-01","parkingSpotId":"s$id",""" +
        s""""isSlotHandicapped":$handicappedSlot},"duration":0}"""
    val lines = Seq(event(1, "null"), event(2, "\"P-7\""), event(3, "\"P-999999\""),
      event(4, "\"P-1\""), event(5, "\"P-13\""), event(6, "\"P-999999\"", handicappedSlot = false))
    val dir = tempDir("job-plates")
    Files.write(dir.resolve("events.json"), lines.mkString("\n").getBytes)
    val sink = new InMemoryKeyValueSink
    Jobs.alertStream(spark, FileEventSource(dir.toString), sfDir, sink,
      tempDir("plates-ckpt").toString).awaitTermination(120000)
    def doc(id: Int, plate: String, violation: String, severity: String) =
      s"alert:$id" -> (s"""{$plate"spot_id":"s$id","lot_id":"lot-01",""" +
        s""""violation_type":"$violation","severity":"$severity","event_time":"2024-03-01 10:00:0$id"}""")
    sink.store.toMap shouldBe Map(
      doc(1, "", "unknown_user", "MEDIUM"),
      doc(2, "\"vehicle_plate\":\"P-7\",", "unknown_user", "MEDIUM"),
      doc(3, "\"vehicle_plate\":\"P-999999\",", "unknown_user", "MEDIUM"),
      doc(4, "\"vehicle_plate\":\"P-1\",", "unauthorized_user", "HIGH"))
    // the join the stream no longer runs gives the same documents
    sink.store.toMap shouldBe alertDocs(ViolationStream.alerts(
      EventDecode.decode(spark.read.text(dir.toString)), ParkingModel.users(spark, sfDir)))
  }

  it should "fail at start, naming the plate, when the registry names a plate twice" in {
    val customers = Tables.customer(spark, sfDir)
    val reg = registryDir(customers.unionByName(customers.filter(col("c_custkey") === 1)))
    val dir = tempDir("job-dup")
    Files.write(dir.resolve("events.json"), String.join("\n", eventLines: _*).getBytes)
    val sink = new InMemoryKeyValueSink
    val before = spark.streams.active.length
    val e = intercept[IllegalArgumentException](Jobs.alertStream(spark,
      FileEventSource(dir.toString), reg.toString, sink,
      tempDir("dup-ckpt").toString))
    e.getMessage should include("P-1 ")
    spark.streams.active.length shouldBe before
    sink.store shouldBe empty
  }

  it should "keep its start registry while running and read the rewritten one on restart" in {
    val customers = Tables.customer(spark, sfDir)
    val reg = registryDir(customers)
    val ids = ParkingModel.parkingEvents(spark, sfDir).orderBy("event_id")
      .select("event_id").collect().map(_.getLong(0))
    val parts = eventLines.indices.grouped(eventLines.length / 3 + 1).toSeq
    def keysOf(part: Int): Set[String] = parts(part).map(i => s"alert:${ids(i)}").toSet
    val dir = tempDir("job-rewrite")
    land(dir, 0, parts(0).map(eventLines))
    val ckpt = tempDir("rewrite-ckpt").toString
    val source = FileEventSource(dir.toString, maxFilesPerTrigger = 1)
    val sink = new InMemoryKeyValueSink
    val before = p11AlertDocs(reg.toString)

    val q1 = Jobs.alertStream(spark, source, reg.toString, sink, ckpt, availableNow = false)
    try {
      q1.processAllAvailable()
      // rewrite the registry under the running stream: every odd plate
      // leaves it, so its violations turn unknown_user/MEDIUM
      customers.filter(col("c_custkey") % 2 === 0).write.mode("overwrite")
        .parquet(reg.resolve("customer.parquet").toString)
      land(dir, 1, parts(1).map(eventLines))
      q1.processAllAvailable()
    } finally q1.stop()
    q1.exception shouldBe None
    val after = p11AlertDocs(reg.toString)
    // the rewrite changes what parts 1 and 2 alert on, or the test shows nothing
    Seq(1, 2).foreach { p =>
      before.filter(kv => keysOf(p)(kv._1)) should not equal after.filter(kv => keysOf(p)(kv._1))
    }

    land(dir, 2, parts(2).map(eventLines))
    Jobs.alertStream(spark, source, reg.toString, sink, ckpt).awaitTermination(120000)
    sink.store.toMap shouldBe
      before.filter(kv => keysOf(0)(kv._1) || keysOf(1)(kv._1)) ++
        after.filter(kv => keysOf(2)(kv._1))
  }

  "the alert streams" should "run one Spark job per micro-batch with input" in {
    val dir = tempDir("job-count")
    eventLines.grouped(eventLines.length / 3 + 1).zipWithIndex.foreach { case (ls, i) =>
      land(dir, i, ls)
    }
    val source = FileEventSource(dir.toString, maxFilesPerTrigger = 1)
    val marker = "jobs.spec.marker"
    val jobs = new java.util.concurrent.ConcurrentHashMap[(String, Long), Int]()
    @volatile var marked = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop(marker).isDefined) marked = true
        else prop("sql.streaming.queryId").foreach { q =>
          jobs.merge((q, prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L)), 1, _ + _)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val queries = try {
      val qs = Seq(
        Jobs.alertStream(spark, source, sfDir, new InMemoryKeyValueSink,
          tempDir("count-alert").toString),
        Jobs.alertNotifierStream(spark, source, sfDir, new InMemoryNotifier,
          tempDir("count-notify").toString))
      qs.foreach(_.awaitTermination(120000))
      // listener events arrive in order: once the marker job is seen, so
      // is every job the streams ran
      spark.sparkContext.setLocalProperty(marker, "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(marker, null)
      eventually(timeout(30.seconds), interval(50.millis)) { marked shouldBe true }
      qs
    } finally spark.sparkContext.removeSparkListener(listener)
    queries.foreach { q =>
      val withInput = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
      withInput should have size 3
      withInput.map(b => Option(jobs.get((q.id.toString, b))).getOrElse(0)) shouldBe Seq(1, 1, 1)
    }
  }

  "the Jobs entry points" should "leave the session conf as they found it" in {
    def unchanged(what: String)(f: => Any): Unit = {
      val before = spark.conf.getAll
      f
      withClue(what)(spark.conf.getAll shouldBe before)
    }
    unchanged("hourlyStats")(Jobs.hourlyStats(spark, sfDir, new InMemoryKeyValueSink))
    unchanged("dailyRollup")(Jobs.dailyRollup(spark, sfDir, new InMemoryTimeSeriesSink))
    unchanged("weeklyStats")(Jobs.weeklyStats(spark, sfDir, new InMemoryKeyValueSink))
    val dir = tempDir("job-conf")
    land(dir, 0, eventLines.toSeq)
    val source = FileEventSource(dir.toString)
    def ckpt = tempDir("conf-ckpt").toString
    val streams = Seq[(String, () => StreamingQuery)](
      "liveSlotView" -> (() => Jobs.liveSlotView(spark, source, new InMemoryKeyValueSink, ckpt)),
      "hourlyStatsStream" ->
        (() => Jobs.hourlyStatsStream(spark, source, new InMemoryKeyValueSink, ckpt)),
      "alertStream" ->
        (() => Jobs.alertStream(spark, source, sfDir, new InMemoryKeyValueSink, ckpt)),
      "alertNotifierStream" ->
        (() => Jobs.alertNotifierStream(spark, source, sfDir, new InMemoryNotifier, ckpt)))
    for ((name, start) <- streams) unchanged(name) {
      val q = start()
      try q.awaitTermination(120000) shouldBe true finally q.stop()
      q.recentProgress.map(_.numInputRows).sum shouldBe eventLines.length
    }
  }

  "local streaming checkpoints" should "start no chmod, readlink, stat or ls process" in {
    val dir = tempDir("job-noproc")
    eventLines.grouped(eventLines.length / 3 + 1).zipWithIndex.foreach { case (ls, i) =>
      land(dir, i, ls)
    }
    val source = FileEventSource(dir.toString, maxFilesPerTrigger = 1)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val queries = try {
      // a process the recording must see, so an empty record cannot pass
      new ProcessBuilder("true").start().waitFor()
      val qs = Seq(
        Jobs.liveSlotView(spark, source, new InMemoryKeyValueSink,
          tempDir("noproc-view").toString),
        Jobs.alertStream(spark, source, sfDir, new InMemoryKeyValueSink,
          tempDir("noproc-alert").toString))
      qs.foreach(_.awaitTermination(120000))
      qs
    } finally rec.stop()
    val jfr = tempDir("process-starts").resolve("starts.jfr")
    rec.dump(jfr)
    rec.close()
    queries.foreach { q =>
      q.isActive shouldBe false
      q.recentProgress.count(_.numInputRows > 0) shouldBe 3
    }
    val programs = RecordingFile.readAllEvents(jfr).asScala
      .map(_.getString("command").trim.split("\\s+").head.split('/').last)
    programs should contain("true")
    programs.filter(Set("chmod", "readlink", "stat", "ls")) shouldBe empty
  }

  "liveSlotView" should "restart on a checkpoint Spark's default manager wrote" in {
    val dir = tempDir("job-restart")
    val files = eventLines.grouped(eventLines.length / 6 + 1).toSeq
    files.indices.take(4).foreach(i => land(dir, i, files(i)))
    val ckpt = tempDir("restart-ckpt")
    val source = FileEventSource(dir.toString, maxFilesPerTrigger = 1)
    val sink = new InMemoryKeyValueSink
    // leg 1: the live view's own plan under Spark's default manager,
    // stopped once two batches are committed
    val firstLeg = withConf(StreamingConf.CheckpointFileManagerKey -> None) {
      val q1 = Jobs.liveSlotUpdates(spark, source).writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach((r: Row) => sink.put(r.getString(0), r.getString(1)))
        }
        .start()
      try {
        val deadline = System.currentTimeMillis() + 120000
        while (batchIds(ckpt.resolve("commits")).size < 2 && q1.isActive &&
            System.currentTimeMillis() < deadline) Thread.sleep(20)
      } finally q1.stop()
      batchIds(ckpt.resolve("commits"))
    }
    firstLeg.take(2) shouldBe Seq(0L, 1L)
    val walk = Files.walk(ckpt)
    try walk.iterator.asScala.exists(_.getFileName.toString.endsWith(".crc")) shouldBe true
    finally walk.close()

    // leg 2: more files land, and the job restarts on the same checkpoint
    files.indices.drop(4).foreach(i => land(dir, i, files(i)))
    val q2 = Jobs.liveSlotView(spark, source, sink, ckpt.toString)
    q2.awaitTermination(120000) shouldBe true
    val secondLeg = q2.recentProgress.map(_.batchId).toSeq
    val all = firstLeg ++ secondLeg
    all shouldBe (0L until all.size.toLong)
    batchIds(ckpt.resolve("commits")) shouldBe all
    batchIds(ckpt.resolve("offsets")) shouldBe all
    val expected = ParkingAnalytics.latestSlotState(spark, sfDir)
      .select(concat_ws("-", col("parkingLotId"), col("parkingSpotId")),
        to_json(struct(col("parkingLotId"), col("parkingSpotId"), col("occupied"), col("plate"))))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    sink.store.toMap shouldBe expected
  }
}
