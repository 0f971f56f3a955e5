package graft.jobs

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{HourlyDocs, ParkingAnalytics}
import graft.sinks.{AlertNotifier, KeyValueSink, TimeSeriesSink}
import graft.streaming.{EventDecode, EventSource, LiveSlotView, StreamingConf, ViolationStream}

/** The reference's job entry points (SURVEY.md §3) as library functions:
  * each wires source → single-pass distributed plan → idempotent sink.
  * Where the reference scheduled three Spark apps and three consumer
  * services, a user of this engine calls one function per pipeline (or
  * schedules them; the plans are identical either way).
  *
  * Each batch job executes one plan once: the hourly and weekly jobs
  * through [[publish]], whose accumulator gives the returned count, the
  * daily job through one `collect` of at most a row per day.
  *
  * The alert streams run one Spark job per micro-batch that has input,
  * the sink's `foreachPartition`: they look plates up in a registry
  * snapshot taken when they start ([[ViolationStream.fromRegistry]])
  * instead of joining the registry in every batch.
  */
object Jobs {

  /** §3.1 hourly stats (reference srvc_stats.MainHourly.main): full-shape
    * JSON documents keyed `parking-stats:hourly:$date:$hour` (same keys →
    * reruns overwrite idempotently, like the reference's "@every 1m"
    * schedule). Returns the number of documents put; an empty input window
    * puts none and fails with `IllegalStateException` (P7). */
  def hourlyStats(spark: SparkSession, dir: String, sink: KeyValueSink): Long = {
    val n = publish(HourlyDocs.documents(spark, dir).select("redis_key", "doc"), sink)
    if (n == 0) throw new IllegalStateException(s"no input rows for hourly stats over $dir")
    n
  }

  /** §3.1 daily job (reference MainDaily): daily entry/exit/revenue points
    * into the time-series sink under the reference's series names
    * (`parking-events:daily:…`, MainDaily.scala:264-288). Returns the
    * number of days written. */
  def dailyRollup(spark: SparkSession, dir: String, sink: TimeSeriesSink): Long = {
    val daily = ParkingAnalytics.dailyTotals(spark, dir)
      .collect() // ≤ one row per day — driver-side is the correct scale here
    daily.foreach { r =>
      val epoch = java.time.LocalDate.parse(r.getAs[String]("date_str"))
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
      sink.add("parking-events:daily:entries", epoch, r.getAs[Long]("entries").toDouble)
      sink.add("parking-events:daily:exits", epoch, r.getAs[Long]("exits").toDouble)
      sink.add("parking-events:daily:revenue", epoch, r.getAs[Double]("daily_revenue"))
    }
    daily.length.toLong
  }

  /** §3.1 weekly job (reference MainWeekly): revenue by type and average
    * spend per (day, type) as keyed documents
    * (`parking-stats:weekly:…`, MainWeekly.scala:271-319), both from one
    * read of the paired sessions. Returns the number of documents put. */
  def weeklyStats(spark: SparkSession, dir: String, sink: KeyValueSink): Long = {
    val sessions = ParkingAnalytics.sessionPairing(spark, dir)
    val revenue = ParkingAnalytics.revenueByTypeOf(sessions)
      .select(
        concat(lit("parking-stats:weekly:revenue-by-type:"), col("vehicleType")).as("k"),
        to_json(struct(col("vehicleType"), col("n_sessions"), col("revenue"))).as("v"))
    val avgSpent = ParkingAnalytics.avgSpentByTypeDayOf(sessions)
      .select(
        concat(lit("parking-stats:weekly:avgspent:"), col("vehicleType"),
          lit(":"), col("date_str")).as("k"),
        to_json(struct(col("date_str"), col("vehicleType"), col("avg_spent"))).as("v"))
    publish(revenue.unionByName(avgSpent), sink)
  }

  /** Put every (key, value) row of `kv`, its first two string columns,
    * into `sink`, and return the number of rows put. The batch jobs' whole
    * contract is this one execution of `kv`'s plan: `foreachPartition`
    * delivers executor-side, one sink connection per partition, and counts
    * into an accumulator in the same pass, so no second action re-runs the
    * plan to report what it wrote. Spark merges an action's accumulator
    * updates once per successful task, so a retried partition is counted
    * once (its keys are put again, which a keyed sink absorbs). */
  private[graft] def publish(kv: DataFrame, sink: KeyValueSink): Long = {
    val puts = kv.sparkSession.sparkContext.longAccumulator("keyed sink puts")
    kv.foreachPartition { (it: Iterator[Row]) =>
      it.foreach { r => sink.put(r.getString(0), r.getString(1)); puts.add(1L) }
    }
    puts.sum
  }

  /** Every streaming entry point below starts its stream through
    * [[StreamingConf.eachBatch]], so it runs on [[graft.EngineConf.Stream]]:
    * RocksDB-backed state and the
    * [[graft.streaming.LocalCheckpointFileManager]]. NOTE the scope: Spark
    * reads both only from session conf, so the start adopts them on the
    * caller's session, where they also apply to streams started on it
    * afterwards (existing checkpoints keep their original provider; the
    * limits are in [[StreamingConf]]).
    *
    * Start `df` into a per-row sink action, one `foreachPartition` per
    * micro-batch: the shape every keyed streaming job below shares.
    * `availableNow = false` keeps Spark's default trigger,
    * `ProcessingTime(0)`: the next micro-batch starts as soon as the last
    * one ends. */
  private def startEach(df: DataFrame, outputMode: String, checkpoint: String,
                        availableNow: Boolean)(each: Row => Unit): StreamingQuery = {
    val trigger = if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(0L)
    StreamingConf.eachBatch(df, checkpoint, trigger, outputMode) { (batch, _) =>
      batch.foreachPartition { (it: Iterator[Row]) => it.foreach(each) }
    }
  }

  /** §3.3 live view (reference repo-events): the slot materialized view as
    * a continuously-updating stream into a keyed sink — key
    * `"$lot-$spot"` exactly like RepoEventsApi.scala:39. Returns the
    * running query; callers own its lifecycle. */
  def liveSlotView(spark: SparkSession, source: EventSource, sink: KeyValueSink,
                   checkpoint: String, availableNow: Boolean = true): StreamingQuery =
    startEach(liveSlotUpdates(spark, source), "update", checkpoint, availableNow) { r =>
      sink.put(r.getString(0), r.getString(1))
    }

  /** The live view's (k, v) update stream, before any sink. */
  private[jobs] def liveSlotUpdates(spark: SparkSession, source: EventSource): DataFrame =
    LiveSlotView.updates(EventDecode.decode(source.stream(spark))).toDF()
      .select(
        concat_ws("-", col("parkingLotId"), col("parkingSpotId")).as("k"),
        to_json(struct(col("parkingLotId"), col("parkingSpotId"),
          col("occupied"), col("plate"))).as("v"))

  /** ST2/ST3 → S9: the watermarked hourly window stream delivered to a
    * keyed sink. Update mode emits only the (date, hour, lot) rows whose
    * counts changed in a micro-batch; the sink upserts by window key, so
    * replays and late (within-watermark) corrections converge — the
    * streaming successor to the reference's re-run-the-hour-every-minute
    * schedule. Keys are per-lot (`parking-stats:hourly:$date:$hour:$lot`);
    * the cross-lot document of the batch job needs the whole hour and
    * remains [[hourlyStats]]'s output. */
  def hourlyStatsStream(spark: SparkSession, source: EventSource, sink: KeyValueSink,
                        checkpoint: String, availableNow: Boolean = true): StreamingQuery = {
    val agg = graft.streaming.HourlyStatsStream.aggregates(
      EventDecode.decode(source.stream(spark)))
      .select(
        concat_ws(":", lit("parking-stats"), lit("hourly"),
          col("date_str"), col("hour_str"), col("parkingLotId")).as("k"),
        to_json(struct(col("entries"), col("exits"), col("occupancy"))).as("v"))
    startEach(agg, "update", checkpoint, availableNow) { r =>
      sink.put(r.getString(0), r.getString(1))
    }
  }

  /** §3.2 alerting (reference srvc-alert): violation stream into a keyed
    * sink (`alert:<event_id>` — the Kafka publisher's role, keyed and
    * idempotent). The user registry under `usersDir` is read once, when
    * the stream starts ([[ViolationStream.fromRegistry]]). */
  def alertStream(spark: SparkSession, source: EventSource, usersDir: String,
                  sink: KeyValueSink, checkpoint: String,
                  availableNow: Boolean = true): StreamingQuery = {
    val alerts = ViolationStream.fromRegistry(spark, source, usersDir)
      .select(
        concat(lit("alert:"), col("event_id")).as("k"),
        to_json(struct(col("vehicle_plate"), col("spot_id"), col("lot_id"),
          col("violation_type"), col("severity"), col("event_time"))).as("v"))
    startEach(alerts, "append", checkpoint, availableNow) { r =>
      sink.put(r.getString(0), r.getString(1))
    }
  }

  /** §3.2 delivery leg (reference srvc-notifier AlertEventSubscriber.scala:
    * 73-84 + DiscordNotifier.scala:22-57): the violation stream rendered to
    * the reference's human-readable alert message and handed to a webhook
    * notifier. The message is formatted in the plan (one narrow projection);
    * only delivery happens in the sink closure, per partition, and the
    * notifier swallows delivery errors so a dead webhook never kills the
    * stream. The registry is read as in [[alertStream]]. */
  def alertNotifierStream(spark: SparkSession, source: EventSource, usersDir: String,
                          notifier: AlertNotifier, checkpoint: String,
                          availableNow: Boolean = true): StreamingQuery = {
    val alerts = ViolationStream.fromRegistry(spark, source, usersDir)
      .select(
        col("severity"),
        concat(lit("Parking violation detected: "), col("violation_type"),
          lit(" - Vehicle "), col("vehicle_plate"),
          lit(" at "), col("lot_id"), lit("/"), col("spot_id")).as("message"),
        col("event_time"))
    startEach(alerts, "append", checkpoint, availableNow) { r =>
      notifier.notify(r.getString(0), r.getString(1), r.getString(2))
    }
  }
}
