package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.jobs.Jobs
import graft.ops.{DocAnalytics, HourlyDocs, ParkingAnalytics}
import graft.schema.ParkingModel
import graft.sinks.{HttpWebhookNotifier, InMemoryTimeSeriesSink, RedisKeyValueSink, WebhookPayload}
import graft.streaming.{EventDecode, FileEventSource, ViolationStream}

/** What every workload gets: the session, a private work directory, the
  * run's knobs and the record it fills. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Double, val trace: Boolean, val rec: Record) {
  /** An empty directory under the work directory. */
  def fresh(name: String): Path = {
    Workloads.deleteTree(work.resolve(name))
    Files.createDirectories(work.resolve(name))
  }

  /** Set-up is repeated `SetupRepeats` times and each one timed; the last
    * one stays in place for the measurement. */
  def setup(once: () => Unit): Unit =
    for (_ <- 1 to Workloads.SetupRepeats) {
      rec.phase = "setup"
      val t0 = System.nanoTime()
      once()
      rec.setupS += (System.nanoTime() - t0) / 1e9
    }

  /** Warm up before measuring; nothing in it is measured. */
  def warmup(body: => Unit): Unit = {
    rec.phase = "warmup"
    rec.span("warmup", "bench", "prep")(_ => body)
  }

  /** Seconds the current measured phase lasts. */
  var phaseSeconds: Double = seconds

  /** Run the measured phase: `restart` before it, `finish` after it. A
    * traced run puts the traced phase between two untraced halves (phase
    * "baseline"), back to back in this JVM, so that the cost of tracing is
    * their difference with the drift of a warming JVM cancelled. Sink calls
    * are recorded as spans only in the traced phase, and the sink timings
    * kept are the measured phase's. */
  def measure(restart: => Unit = (), finish: => Unit = ())(body: => Unit): Unit = {
    val phases = if (trace) Seq("baseline", "measure", "baseline") else Seq("measure")
    for (phase <- phases) {
      restart
      Tap.reset()
      rec.phase = phase
      phaseSeconds = if (phase == "baseline") seconds / 2 else seconds
      Tap.timing = true
      Tap.tracing = trace && phase == "measure"
      val ticks0 = Main.cpuTicks()
      try body finally { Tap.timing = false; Tap.tracing = false }
      if (phase == "measure") {
        val ticks1 = Main.cpuTicks()
        val total = ticks1._2 - ticks0._2
        rec.values("host_steal_frac") = if (total > 0) (ticks1._1 - ticks0._1).toDouble / total else 0.0
        finish
        rec.sinkUs = Tap.durations
      }
    }
  }

  /** Closed loop: `once(i)` as many times as fit in the phase at a nominal
    * `repetitionS` each (at least once). The count depends only on the
    * arguments, so every run of a workload reports a median over the same
    * number of repetitions, however fast the machine is that day. */
  def repeat(repetitionS: Double)(once: Int => Unit): Unit =
    for (i <- 0 until math.max(1, (phaseSeconds / repetitionS).toInt)) once(i)
}

object Workloads {
  val SetupRepeats = 3
  /** live_alerts: offered rate and file cadence */
  val LiveRate = 500
  val LiveFileMs = 100
  val LiveWarmupS = 5.0
  /** live_alerts: catch-up bursts after the window, each landing at once
    * for the live view to take in one micro-batch, for its catch-up rate;
    * the first ones are not measured (the JVM is still compiling the
    * large-batch path) */
  val LiveBurstWarmups = 2
  val LiveBursts = 3
  val LiveBurstEvents = 40000
  /** files per burst: one task each in the stage that reads and decodes
    * them, as a Kafka catch-up reads its topic partitions in parallel */
  val LiveBurstFiles = 8
  /** scheduled_stats: rows of the events table (sf0.1), warm-up cycles,
    * nominal seconds of one cycle of the three jobs */
  val StatsEvents = 100000
  val StatsWarmupCycles = 1
  val StatsCycleS = 4.0
  /** curation_queries: table sizes (sf0.01 has 500 of each, sf0.1 5000
    * documents and 2000 vectors) */
  val CurationDocs = 600
  val CurationVectors = 400
  /** One query per mechanism the roadmap's performance items target:
    * simhash pairs into the CC loop, ANN pairs into the CC loop, and the
    * trained IVF/PQ index with its recall check. */
  val CurationQueries: Seq[String] = Seq("p37_dedup_groups", "p59_embedding_dedup_groups",
    "p119_pqr_recall_trained")
  /** nominal seconds of one pass */
  val CurationPassS = 9.0

  private val mapper = new ObjectMapper()

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def run(name: String, ctx: Ctx): Unit = name match {
    case "live_alerts"      => liveAlerts(ctx)
    case "scheduled_stats"  => scheduledStats(ctx)
    case "curation_queries" => curationQueries(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  // ---------------------------------------------------------------- checks

  /** The alert bodies the webhook must receive, keyed by event_id, from
    * `ViolationStream.alerts` over the given files read as a static
    * frame. */
  private def expectedAlertBodies(spark: SparkSession, files: Seq[Path],
                                  users: Path): Seq[(Long, String)] =
    ViolationStream.alerts(EventDecode.decode(spark.read.text(files.map(_.toString): _*)),
        ParkingModel.users(spark, users.toString))
      .select(col("event_id"), col("severity"),
        concat(lit("Parking violation detected: "), col("violation_type"),
          lit(" - Vehicle "), col("vehicle_plate"),
          lit(" at "), col("lot_id"), lit("/"), col("spot_id")).as("message"),
        col("event_time"))
      .collect().toSeq
      .map(r => r.getLong(0) -> WebhookPayload.render(r.getString(1), r.getString(2), r.getString(3)))

  /** Compare a keyed store with the expected documents; returns the
    * number of keys missing, extra or different. */
  private def diffStore(rec: Record, what: String, expected: Map[String, String],
                        got: Map[String, String],
                        same: (String, String) => Boolean = _ == _): Unit = {
    val wrong = expected.filter { case (k, v) => !got.get(k).exists(same(v, _)) }
    val bad = wrong.size + got.keySet.diff(expected.keySet).size
    rec.fail(bad, s"$what: $bad of ${expected.size} keys differ" + wrong.headOption
      .map { case (k, v) => s" (e.g. $k: expected $v, got ${got.get(k)})" }.getOrElse(""))
  }

  /** The live view's documents: latest state per slot by event_id. */
  private def expectedLiveView(events: Iterable[Ev]): Map[String, String] =
    Gen.latestBySlot(events).map { case (k, e) =>
      k -> (s"""{"parkingLotId":"${e.lot}","parkingSpotId":"${e.spot}",""" +
        s""""occupied":${e.entry}""" + (if (e.entry) s""","plate":"${e.plate}"}""" else "}"))
    }

  /** What the endpoints saw since their counts were reset. */
  private def endpointCounts(rec: Record, endpoints: (String, LoopbackEndpoint)*): Unit =
    endpoints.foreach { case (name, e) =>
      rec.values(s"${name}_connections") = e.connections.get
      rec.values(s"${name}_requests") = e.requests.get
    }

  private def sameJson(a: String, b: String): Boolean =
    mapper.readTree(a) == mapper.readTree(b)

  // ----------------------------------------------------------- live_alerts

  /** Open loop at a fixed rate into a file source directory, with the
    * alert-notifier and live-view streams running concurrently; then
    * catch-up bursts through the live view alone. */
  def liveAlerts(ctx: Ctx): Unit = {
    import ctx._
    val resp = new RespEndpoint
    val hook = new WebhookEndpoint
    var queries = Seq.empty[StreamingQuery]
    var gen: Gen = null
    var src, staging, users: Path = null
    /** every landed event with when it became visible and its phase */
    val landed = mutable.ArrayBuffer.empty[(Ev, Double, String)]
    val files = mutable.ArrayBuffer.empty[Path]
    var fileSeq = 0

    /** land `n` events in `parts` files at once; one row for them all */
    def landFile(n: Int, due: Double, parts: Int = 1): Unit = {
      val evs = gen.take(n)
      val named = evs.grouped((n + parts - 1) / parts).toSeq.map { chunk =>
        fileSeq += 1
        f"events-$fileSeq%06d.json" -> chunk.toSeq
      }
      val vis = Gen.land(named, staging, src)
      evs.foreach(e => landed += ((e, vis, rec.phase)))
      files ++= named.map(f => src.resolve(f._1))
      rec.row("files", "due" -> due, "visible" -> vis, "events" -> n)
    }
    /** one open-loop window: a file every LiveFileMs, due on schedule */
    def openLoop(deadline: Double): Unit = {
      val perFile = LiveRate * LiveFileMs / 1000
      val t0 = Clock.nowMs()
      var k = 0
      var due = t0
      while (due < deadline) {
        val wait = due - Clock.nowMs()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos((wait * 1e6).toLong)
        landFile(perFile, due)
        k += 1
        due = t0 + k.toDouble * LiveFileMs
      }
    }

    try {
      setup { () =>
        queries.foreach(_.stop())
        resp.reset(); hook.reset(); landed.clear(); files.clear(); fileSeq = 0
        src = fresh("live/src"); staging = fresh("live/staging"); users = fresh("live/users")
        TableGen.customers(spark, users.toString)
        gen = new Gen(seed)
        val notifier = new TimedNotifier(new HttpWebhookNotifier(s"http://127.0.0.1:${hook.port}/alert"))
        val sink = new TimedKeyValueSink(new RedisKeyValueSink("127.0.0.1", resp.port))
        // the Kafka source takes every offset available at a trigger (up
        // to maxOffsetsPerTrigger); the file source needs a file cap above
        // the files that can land during one micro-batch to match that
        val source = FileEventSource(src.toString, maxFilesPerTrigger = 1000)
        val qa = Jobs.alertNotifierStream(spark, source, users.toString, notifier,
          fresh("live/ck-alert").toString, availableNow = false)
        val ql = Jobs.liveSlotView(spark, source, sink, fresh("live/ck-view").toString,
          availableNow = false)
        queries = Seq(qa, ql)
        rec.pipelines ++= Seq(qa.id.toString -> "alert_notify", ql.id.toString -> "live_view")
        landFile(LiveRate * LiveFileMs / 1000, Clock.nowMs())
        queries.foreach(_.processAllAvailable())
      }
      val Seq(qa, ql) = queries
      warmup(openLoop(Clock.nowMs() + LiveWarmupS * 1000))
      measure(Seq(resp, hook).foreach(_.resetCounts()),
          endpointCounts(rec, "resp" -> resp, "webhook" -> hook)) {
        rec.span("window", "bench", "workload")(_ => openLoop(Clock.nowMs() + phaseSeconds * 1000))
      }
      // let both streams take every landed file, then stop the alerts
      queries.foreach(_.processAllAvailable())
      qa.stop()
      val alertFiles = files.toList
      // catch-up: each burst lands at once while the live view is idle
      for (i <- 1 to LiveBurstWarmups + LiveBursts) {
        rec.phase = if (i > LiveBurstWarmups) "burst" else "warmup"
        landFile(LiveBurstEvents, Clock.nowMs(), LiveBurstFiles)
        ql.processAllAvailable()
      }
      ql.stop()
      rec.attempted += landed.size

      // checks: alerts against the static violation plan over the files
      // the alert stream took, live view against latest-state-by-event_id
      val visibleOf = landed.iterator.map { case (e, v, ph) => e.id -> (v, ph) }.toMap
      val expected = expectedAlertBodies(spark, alertFiles, users)
      val pending = mutable.HashMap.empty[String, mutable.Queue[(Double, String)]]
      expected.sortBy(_._1).foreach { case (id, body) =>
        pending.getOrElseUpdate(body, mutable.Queue.empty) += visibleOf(id)
      }
      var unexpected = 0L
      hook.received.asScala.toSeq.sortBy(_._1).foreach { case (at, body) =>
        pending.get(body).filter(_.nonEmpty) match {
          case Some(q) =>
            val (vis, ph) = q.dequeue()
            rec.row("alerts", "visible" -> vis, "arrival" -> at, "phase" -> ph)
          case None => unexpected += 1
        }
      }
      val missing = pending.values.map(_.size.toLong).sum
      rec.fail(missing + unexpected,
        s"alerts: $missing expected alerts not delivered, $unexpected unexpected")
      diffStore(rec, "live view", expectedLiveView(landed.map(_._1)), resp.snapshot, sameJson)
    } finally {
      queries.foreach(q => if (q.isActive) q.stop())
      resp.close(); hook.close()
    }
  }

  // ------------------------------------------------------- scheduled_stats

  /** One client repeating the recurring batch jobs back to back. */
  def scheduledStats(ctx: Ctx): Unit = {
    import ctx._
    val resp = new RespEndpoint
    val kv = new TimedKeyValueSink(new RedisKeyValueSink("127.0.0.1", resp.port))
    var dir: Path = null
    try {
      setup { () =>
        dir = fresh("stats/sf")
        TableGen.events(spark, dir.toString, StatsEvents, seed)
        TableGen.customers(spark, dir.toString)
      }
      val d = dir.toString
      // the jobs' plans run directly, for the sink checks
      lazy val hourlyExp = HourlyDocs.documents(spark, d).select("redis_key", "doc")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      lazy val dailyExp: Map[String, Seq[(Long, Double)]] = {
        val rows = ParkingAnalytics.dailyRollup(spark, d)
          .join(ParkingAnalytics.dailyRevenue(spark, d), Seq("date_str")).collect()
        def series(name: String, f: org.apache.spark.sql.Row => Double) =
          s"parking-events:daily:$name" -> rows.map { r =>
            java.time.LocalDate.parse(r.getAs[String]("date_str"))
              .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli -> f(r)
          }.toSeq.sortBy(_._1)
        Map(series("entries", _.getAs[Long]("entries").toDouble),
          series("exits", _.getAs[Long]("exits").toDouble),
          series("revenue", _.getAs[Double]("daily_revenue")))
      }
      lazy val weeklyExp = ParkingAnalytics.revenueByType(spark, d)
        .select(concat(lit("parking-stats:weekly:revenue-by-type:"), col("vehicleType")).as("k"),
          to_json(struct(col("vehicleType"), col("n_sessions"), col("revenue"))).as("v"))
        .unionByName(ParkingAnalytics.avgSpentByTypeDay(spark, d)
          .select(concat(lit("parking-stats:weekly:avgspent:"), col("vehicleType"),
              lit(":"), col("date_str")).as("k"),
            to_json(struct(col("date_str"), col("vehicleType"), col("avg_spent"))).as("v")))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap

      var call = 0
      def job(name: String, cycle: Int, parent: String)(f: => Unit): Unit = {
        call += 1
        val tag = s"job:$name:$call"
        val ((), t0, t1) = rec.span(name, "jobs", parent, tag) { _ =>
          Probes.tagged(spark, tag) {
            try f catch { case e: Exception =>
              rec.fail(1, s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage.take(200)}")
            }
          }
        }
        rec.row("job_calls", "job" -> name, "tag" -> tag, "cycle" -> cycle, "start" -> t0,
          "end" -> t1)
      }
      /** one cycle of the three jobs; measured cycles check every sink */
      def cycle(n: Int, parent: String): Unit = {
        val check = n >= 0
        resp.reset()
        job("hourly_stats", n, parent)(Jobs.hourlyStats(spark, d, kv))
        if (check) diffStore(rec, "hourly stats sink", hourlyExp, resp.snapshot)
        val ts = new InMemoryTimeSeriesSink
        job("daily_rollup", n, parent)(Jobs.dailyRollup(spark, d, new TimedTimeSeriesSink(ts)))
        if (check) {
          val got = ts.store.toMap.map { case (k, v) => k -> v.toSeq }
          val badSeries = dailyExp.count { case (k, v) => !got.get(k).contains(v) } +
            got.keySet.diff(dailyExp.keySet).size
          rec.fail(badSeries, s"daily rollup sink: $badSeries series differ")
        }
        resp.reset()
        job("weekly_stats", n, parent)(Jobs.weeklyStats(spark, d, kv))
        if (check) {
          diffStore(rec, "weekly stats sink", weeklyExp, resp.snapshot)
          rec.attempted += 3
        }
      }
      warmup(for (_ <- 1 to StatsWarmupCycles) cycle(-1, "warmup"))
      // the expected documents, computed after the warm-up
      (hourlyExp.size, dailyExp.size, weeklyExp.size)
      measure(resp.resetCounts(), endpointCounts(rec, "resp" -> resp)) {
        repeat(StatsCycleS) { n =>
          val (_, t0, t1) = rec.span("cycle", "bench", "workload")(id => cycle(n, id))
          rec.row("cycles", "cycle" -> n, "start" -> t0, "end" -> t1)
        }
      }
      rec.values("stats_events") = StatsEvents
    } finally resp.close()
  }

  // ------------------------------------------------------ curation_queries

  /** Sequential passes over the curation queries, each executed the way
    * `graft.Bench` executes it (phased pipelines through
    * `DocAnalytics.phasedQueries`, everything else through a noop write). */
  def curationQueries(ctx: Ctx): Unit = {
    import ctx._
    var dir: Path = null
    var inputs = ""
    setup { () =>
      dir = fresh("curation/sf")
      inputs = s"documents=${TableGen.documents(spark, dir.toString, CurationDocs, seed)}," +
        s"embeddings=${TableGen.embeddings(spark, dir.toString, CurationVectors, seed)}"
    }
    val d = dir.toString
    val queries = graft.SparkEntry.queries

    def frame(name: String): DataFrame = DocAnalytics.phasedQueries.get(name) match {
      case Some((_, pf)) => pf(spark, d, _ => ())
      case None => queries(name)(spark, d)
    }
    /** Execute a query like `graft.Bench` (noop write), observing its row
      * count and order-insensitive hash in the same execution. */
    def execute(name: String): (Long, Long) = {
      val df = frame(name)
      val obs = Observation(name)
      val hash = pmod(xxhash64(df.columns.map(c => col(s"`$c`")): _*), lit(Int.MaxValue.toLong))
      df.observe(obs, count(lit(1)).as("rows"), coalesce(sum(hash), lit(0L)).as("hash"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      m("rows").asInstanceOf[Long] -> m("hash").asInstanceOf[Long]
    }
    val reference = mutable.HashMap.empty[String, (Long, Long)]
    var call = 0
    def pass(n: Int, parent: String): Unit =
      CurationQueries.foreach { name =>
        call += 1
        val tag = s"op:$name:$call"
        val (fp, t0, t1) = rec.span(name, "ops", parent, tag) { _ =>
          Probes.tagged(spark, tag) {
            try Some(execute(name))
            catch { case e: Exception =>
              rec.fail(1, s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage.take(200)}")
              None
            }
          }
        }
        // every pass must give the warm-up pass's result (and run.py
        // compares it with earlier runs of the same seed)
        fp.foreach { f =>
          val ref = reference.getOrElseUpdate(name, f)
          if (f != ref) rec.fail(1, s"$name: result changed across passes: $ref -> $f")
        }
        rec.row("query_calls", "query" -> name, "tag" -> tag, "pass" -> n, "start" -> t0,
          "end" -> t1)
        if (n >= 0) rec.attempted += 1
      }
    warmup(pass(-1, "warmup"))
    measure() {
      repeat(CurationPassS) { n =>
        val (_, t0, t1) = rec.span("pass", "bench", "workload")(id => pass(n, id))
        rec.row("passes", "pass" -> n, "start" -> t0, "end" -> t1)
      }
    }
    rec.values("inputs") = inputs
    reference.foreach { case (q, (rows, hash)) =>
      rec.row("fingerprints", "query" -> q, "rows" -> rows, "hash" -> hash)
    }
  }
}
