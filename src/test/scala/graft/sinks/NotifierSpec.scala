package graft.sinks

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.SparkSpec

class NotifierSpec extends SparkSpec {

  "WebhookPayload" should "map severities to the reference's colors" in {
    WebhookPayload.severityColor("HIGH") shouldBe 0xff0000
    WebhookPayload.severityColor("high") shouldBe 0xff0000 // case-insensitive
    WebhookPayload.severityColor("MEDIUM") shouldBe 0xffa500
    WebhookPayload.severityColor("LOW") shouldBe 0x00bfff
    WebhookPayload.severityColor("whatever") shouldBe 0x808080
  }

  it should "render the content line, embed color and inline fields" in {
    val p = WebhookPayload.render("HIGH",
      "Parking violation detected: unauthorized_user - Vehicle P-13 at lot-01/7",
      "2024-01-02 03:04:05")
    p should startWith(
      """{"content":"**[HIGH]** Parking violation detected: unauthorized_user - Vehicle P-13 at lot-01/7"""")
    p should include(""""color":16711680""")
    p should include(""""name":"Severity","value":"HIGH","inline":true""")
    p should include(""""name":"Time","value":"2024-01-02 03:04:05","inline":true""")
  }

  it should "escape JSON-hostile characters in the message" in {
    val p = WebhookPayload.render("LOW", "a \"quoted\"\nplate\\x", "t")
    p should include("""a \"quoted\"\nplate\\x""")
    // the rendered document must stay one line of valid JSON
    p should not include "\n"
  }

  "HttpWebhookNotifier" should "POST the payload and tolerate server errors" in {
    val received = new ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      received.add(body)
      val code = if (received.size() == 2) 500 else 200 // second call: server-side failure
      ex.sendResponseHeaders(code, -1)
      ex.close()
    })
    server.start()
    try {
      val n = new HttpWebhookNotifier(s"http://127.0.0.1:${server.getAddress.getPort}/hook")
      n.notify("HIGH", "msg one", "t1")
      noException should be thrownBy n.notify("MEDIUM", "msg two", "t2") // 500 swallowed
      received.size() shouldBe 2
      received.peek() shouldBe WebhookPayload.render("HIGH", "msg one", "t1")
    } finally server.stop(0)
  }

  it should "swallow connection failures (dead webhook must not kill the stream)" in {
    // closed server socket: connection refused
    noException should be thrownBy
      new HttpWebhookNotifier("http://127.0.0.1:1/hook").notify("LOW", "m", "t")
  }

  "Jobs.alertNotifierStream" should "deliver one rendered alert per batch violation" in {
    import graft.streaming.FileEventSource
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.001"
    // reuse the parity harness's JSON shape: dump events once
    val dir = tempDir("graft-notifier-events")
    val lines = graft.schema.ParkingModel.parkingEvents(spark, sfDir)
      .orderBy("event_id")
      .select(to_json(struct(
        col("event_id"), col("eventType"), col("ts").as("timestamp"),
        struct(col("licensePlate"), col("vehicleType"), lit("gray").as("color")).as("vehicle"),
        struct(col("parkingLotId"), col("parkingSpotId"), col("isSlotHandicapped")).as("parking"),
        col("duration_ms").as("duration"))).as("l"))
      .collect().map(_.getString(0))
    java.nio.file.Files.write(dir.resolve("all.json"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val notifier = new InMemoryNotifier
    val ckpt = tempDir("graft-notifier-ckpt").toString
    val q = graft.jobs.Jobs.alertNotifierStream(
      spark, FileEventSource(dir.toString, maxFilesPerTrigger = 1), sfDir, notifier, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive)
    val batch = graft.ops.ParkingAnalytics.violations(spark, sfDir).collect()
    notifier.payloads.size shouldBe batch.length
    // spot-check: every batch violation's plate appears in some payload
    val all = notifier.payloads.mkString("\n")
    batch.take(5).foreach(r => all should include(r.getAs[String]("vehicle_plate")))
    // severity set matches
    notifier.payloads.count(_.contains("**[HIGH]**")) shouldBe
      batch.count(_.getAs[String]("severity") == "HIGH")
  }
}
