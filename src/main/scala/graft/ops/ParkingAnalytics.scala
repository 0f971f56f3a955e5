package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.schema.ParkingModel

/** The reference's analytics surface (SURVEY.md §2), rebuilt as single-pass
  * declarative DataFrame plans.
  *
  * Where the reference ran ≥6 driver-collected jobs per hour
  * (MainHourly.scala:82-156,239) or driver-side List folds
  * (MainDaily.scala:81-163, MainWeekly.scala:111-319), each query here is ONE
  * distributed plan: conditional aggregation replaces multi-pass counts,
  * window functions replace the order-fragile `zip` pairing
  * (MainWeekly.scala:111-128), and `greatest(0, entries-exits)` replaces the
  * keyset-union merge (MainHourly.scala:101-117).
  *
  * Every oracle lives in [[graft.OracleSql]]; column names and arithmetic
  * orderings are mirrored exactly (see notes there on float determinism).
  */
object ParkingAnalytics {
  import ParkingModel.{parkingEvents, users, RatePerHour, ReplayCutoff}

  private def dateStr(c: String) = date_format(col(c), "yyyy-MM-dd")
  private def hourStr(c: String) = date_format(col(c), "HH")
  private def secondStr(c: String) = date_format(col(c), "yyyy-MM-dd HH:mm:ss")
  private[graft] val isEntry = col("eventType") === "PARKING_ENTRY"
  private[graft] val isExit = col("eventType") === "PARKING_EXIT"

  /** Net occupancy of a per-lot count row: max(0, entries − exits). */
  private[graft] val netOccupancy = greatest(lit(0L), col("entries") - col("exits"))

  /** The per-(date, hour, lot) entry/exit count: the first level p01, p02,
    * p24 and the hourly stats documents all aggregate from. */
  private[ops] def hourLotCounts(events: DataFrame): DataFrame =
    events
      .groupBy(dateStr("ts").as("date_str"), hourStr("ts").as("hour_str"), col("parkingLotId"))
      .agg(
        count(when(isEntry, 1)).as("entries"),
        count(when(isExit, 1)).as("exits"))

  /** A1+A4+A8 (MainHourly.scala:94-156): per clock hour — entries, exits, and
    * RevenueSimulation = Σ_lot max(0, entries−exits) × rate. Two-level agg:
    * the first groupBy shrinks to (hour × lot) cardinality, so the second
    * shuffle is negligible at any scale.
    */
  def hourlyStats(spark: SparkSession, dir: String): DataFrame =
    hourLotCounts(parkingEvents(spark, dir))
      .groupBy("date_str", "hour_str")
      .agg(
        sum("entries").as("nbr_entries"),
        sum("exits").as("nbr_exit"),
        (sum(netOccupancy).cast("double") * RatePerHour).as("revenue_simulation"))
      .orderBy("date_str", "hour_str")

  /** A4/J4: net occupancy per (hour, lot) — the keyset-union + max(0,·) merge
    * (MainHourly.scala:101-117) as one conditional aggregation, no driver. */
  def occupancyByLot(spark: SparkSession, dir: String): DataFrame =
    hourLotCounts(parkingEvents(spark, dir))
      .withColumn("occupancy", netOccupancy)
      .orderBy("date_str", "hour_str", "parkingLotId")

  /** A3 (MainHourly.scala:120-126): vehicle-type distribution. */
  def vehicleTypes(spark: SparkSession, dir: String): DataFrame =
    parkingEvents(spark, dir)
      .groupBy("vehicleType").agg(count(lit(1)).as("cnt"))
      .orderBy("vehicleType")

  /** A7 (MainWeekly.scala:211-231): daily entry/exit rollup. */
  def dailyRollup(spark: SparkSession, dir: String): DataFrame =
    parkingEvents(spark, dir)
      .groupBy(dateStr("ts").as("date_str"))
      .agg(
        count(when(isEntry, 1)).as("entries"),
        count(when(isExit, 1)).as("exits"),
        count(lit(1)).as("total_events"))
      .orderBy("date_str")

  /** J2/F6 (MainWeekly.scala:111-128): entry/exit session pairing. The
    * reference `zip`s two driver-side lists (order-fragile, mispairs on
    * re-entry); here: `lag` over (plate, spot) ordered by event_id — a single
    * shuffle on the session key, correct for any interleaving, and the same
    * partitioning a 1000-executor cluster would want (state colocated by key).
    * event_id is ts-ordered and unique ⇒ deterministic in both engines.
    */
  def sessionPairing(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("licensePlate", "parkingSpotId").orderBy("event_id")
    parkingEvents(spark, dir)
      .withColumn("prev_type", lag("eventType", 1).over(w))
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .filter(isExit && col("prev_type") === "PARKING_ENTRY")
      .select(
        col("event_id").as("exit_event_id"),
        col("licensePlate"), col("parkingSpotId"), col("parkingLotId"),
        col("vehicleType"),
        secondStr("prev_ts").as("entry_ts"),
        secondStr("ts").as("exit_ts"),
        floor((unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) / 60)
          .cast("long").as("duration_min"))
      .orderBy("exit_event_id")
  }

  /** A10 (MainWeekly.scala:310-319): revenue by vehicle type over paired
    * sessions; Σduration is exact integer math, floats only at the end. */
  def revenueByType(spark: SparkSession, dir: String): DataFrame =
    revenueByTypeOf(sessionPairing(spark, dir)).orderBy("vehicleType")

  /** A9 (MainWeekly.scala:280-308): average spend per (exit-day, type). */
  def avgSpentByTypeDay(spark: SparkSession, dir: String): DataFrame =
    avgSpentByTypeDayOf(sessionPairing(spark, dir)).orderBy("date_str", "vehicleType")

  /** [[revenueByType]] over a [[sessionPairing]] frame, in no order. */
  private[graft] def revenueByTypeOf(sessions: DataFrame): DataFrame =
    sessions
      .groupBy("vehicleType")
      .agg(
        count(lit(1)).as("n_sessions"),
        (sum("duration_min").cast("double") * RatePerHour / 60.0).as("revenue"))

  /** [[avgSpentByTypeDay]] over a [[sessionPairing]] frame, in no order. */
  private[graft] def avgSpentByTypeDayOf(sessions: DataFrame): DataFrame =
    sessions
      .groupBy(substring(col("exit_ts"), 1, 10).as("date_str"), col("vehicleType"))
      .agg(
        count(lit(1)).as("n_sessions"),
        (sum("duration_min").cast("double") * RatePerHour / 60.0 / count(lit(1)))
          .as("avg_spent"))

  /** W5 (doc/schemas/srvc_stats.json "top_vehicles_by_frequency"): top-10
    * plates, deterministic tiebreak. At scale: partial agg shrinks the input
    * before the single ordered limit (TakeOrderedAndProject). */
  def topVehicles(spark: SparkSession, dir: String): DataFrame =
    parkingEvents(spark, dir)
      .groupBy("licensePlate").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("licensePlate"))
      .limit(10)

  /** A12 (RepoEventsApi.scala:38-69): latest state per (lot, spot) — the live
    * materialized view as a batch query; streaming twin in
    * [[graft.streaming.LiveSlotView]].
    *
    * Scale note: `max_by(struct, event_id)` instead of a
    * `row_number` window — the slot-key universe is tiny (~300), so a window
    * would shuffle every event into ≤300 partitions and totally sort each
    * slot's entire history. The aggregate runs map-side partial `max_by`
    * first: each task reduces its split to ≤300 rows before the shuffle, and
    * nothing is ever sorted. event_id is unique ⇒ deterministic.
    */
  def latestSlotState(spark: SparkSession, dir: String): DataFrame =
    parkingEvents(spark, dir)
      .groupBy("parkingLotId", "parkingSpotId")
      .agg(max_by(struct(col("eventType"), col("licensePlate")), col("event_id")).as("last"))
      .select(
        col("parkingLotId"), col("parkingSpotId"),
        (col("last.eventType") === "PARKING_ENTRY").as("occupied"),
        when(col("last.eventType") === "PARKING_ENTRY", col("last.licensePlate")).as("plate"))
      .orderBy("parkingLotId", "parkingSpotId")

  /** A5 (MainDaily.scala:81-101): event-time occupancy replay at a cutoff.
    * The reference folds a totally-ordered driver-side list; distributed
    * equivalent: last event per (lot, spot) ≤ cutoff decides slot occupancy —
    * one shuffle on (lot, spot), then a cheap count per lot. */
  def occupancyReplay(spark: SparkSession, dir: String): DataFrame =
    parkingEvents(spark, dir)
      .filter(col("ts") <= lit(ReplayCutoff).cast("timestamp"))
      .groupBy("parkingLotId", "parkingSpotId")
      // map-side partial max_by, not a row_number window: see latestSlotState.
      .agg(max_by(col("eventType"), col("event_id")).as("last_type"))
      .groupBy("parkingLotId")
      .agg(count(when(col("last_type") === "PARKING_ENTRY", 1)).as("occupied_slots"))
      .orderBy("parkingLotId")

  /** J1+P5+P6 (ParkingEventConsumer.scala:77-89, AlertEventSubscriber.scala:
    * 85-91): violation detection. The reference did one Redis RTT per event;
    * here the user registry joins to the scan and AQE picks broadcast-vs-
    * shuffle from the measured dimension size (no forced broadcast of an
    * unbounded dimension — that is how drivers OOM at 100 TB). At test scale
    * the registry is ≤10 MB so the physical plan is still a broadcast-hash
    * join with zero shuffles on the big side. Missing user ⇒
    * unknown_user/MEDIUM; non-handicapped user on a handicapped slot ⇒
    * unauthorized_user/HIGH. */
  def violations(spark: SparkSession, dir: String): DataFrame =
    violationsFrom(parkingEvents(spark, dir), users(spark, dir)).orderBy("event_id")

  /** Events × user dimension → alert rows: the left join on the plate,
    * then [[violationRule]]. The batch query above calls it, and so does
    * [[graft.streaming.ViolationStream.alerts]] on a decoded event stream
    * (stream-static joins are supported unchanged by Structured
    * Streaming). No sort here: streaming append mode forbids it; the batch
    * wrapper adds the total order for the oracle. */
  def violationsFrom(events: DataFrame, userDim: DataFrame): DataFrame =
    violationRule(events.join(userDim, col("licensePlate") === col("u_plate"), "left"))

  /** The violation rule itself, over events that carry their plate's
    * `handicapped` flag (null: the plate is not registered): shared
    * verbatim by p11 and both alert streams, whichever way they enrich the
    * events. */
  private[graft] def violationRule(enriched: DataFrame): DataFrame =
    enriched
      .filter(col("isSlotHandicapped") && (col("handicapped").isNull || !col("handicapped")))
      .select(
        col("event_id"),
        col("licensePlate").as("vehicle_plate"),
        col("parkingSpotId").as("spot_id"),
        col("parkingLotId").as("lot_id"),
        when(col("handicapped").isNull, "unknown_user").otherwise("unauthorized_user")
          .as("violation_type"),
        when(col("handicapped").isNull, "MEDIUM").otherwise("HIGH").as("severity"),
        secondStr("ts").as("event_time"))

  /** A6 (MainDaily.scala:132-163): cumulative per-lot entry series by hour —
    * the reference's per-file-timestamp snapshot loop as one window sum. */
  def cumulativeHourly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = parkingEvents(spark, dir)
      .groupBy(col("parkingLotId"), date_format(col("ts"), "yyyy-MM-dd HH").as("hour_bucket"))
      .agg(count(when(isEntry, 1)).as("entries"))
    val w = Window.partitionBy("parkingLotId").orderBy("hour_bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourly
      .withColumn("cum_entries", sum("entries").over(w))
      .orderBy("parkingLotId", "hour_bucket")
  }

  /** J3+P8 (MainWeekly.scala:237-251): per-exit session duration with
    * fallback — an EXIT whose preceding event is a paired ENTRY gets the
    * measured duration; an orphan EXIT falls back to the event's own
    * reported duration_ms (the null-safe P8 column every earlier query
    * dropped). Same single shuffle on the session key as sessionPairing. */
  def sessionDurations(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("licensePlate", "parkingSpotId").orderBy("event_id")
    val paired = col("prev_type") === "PARKING_ENTRY"
    parkingEvents(spark, dir)
      .withColumn("prev_type", lag("eventType", 1).over(w))
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .filter(isExit)
      .select(
        col("event_id").as("exit_event_id"),
        col("licensePlate"), col("parkingSpotId"), col("parkingLotId"),
        when(paired,
          floor((unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) / 60))
          .otherwise(floor(col("duration_ms") / 60000))
          .cast("long").as("duration_min"),
        when(paired, "paired").otherwise("fallback").as("duration_source"))
      .orderBy("exit_event_id")
  }

  /** A13 (GeneratorService.scala:201-206): available capacity per lot —
    * static capacity dimension (the reference's 41/101/150 universe) minus
    * currently-occupied slots from the latest-state view. */
  def capacityByLot(spark: SparkSession, dir: String): DataFrame = {
    val cap = when(col("parkingLotId") === "lot-01", 41L)
      .when(col("parkingLotId") === "lot-02", 101L)
      .otherwise(150L)
    latestSlotState(spark, dir)
      .groupBy("parkingLotId")
      .agg(count(when(col("occupied"), 1)).as("occupied_slots"))
      .select(
        col("parkingLotId"),
        cap.as("capacity"),
        col("occupied_slots"),
        (cap - col("occupied_slots")).as("available"))
      .orderBy("parkingLotId")
  }

  /** A6 complete (MainDaily.scala:132-163): the reference snapshots
    * entries/exits/occupancy/revenue per file-timestamp T; here the full
    * running series per (lot, hour) — hourly deltas plus cumulative
    * entries/exits, the running net occupancy (clamped at 0 like every
    * occupancy in the reference) and the running revenue at the daily
    * formula's rate. One pre-aggregation to (lot × hour) cardinality, then
    * windows over the tiny aggregate — never over raw events. */
  def cumulativeSeries(spark: SparkSession, dir: String): DataFrame = {
    val hourly = parkingEvents(spark, dir)
      .groupBy(col("parkingLotId"), date_format(col("ts"), "yyyy-MM-dd HH").as("hour_bucket"))
      .agg(
        count(when(isEntry, 1)).as("entries"),
        count(when(isExit, 1)).as("exits"))
    val w = Window.partitionBy("parkingLotId").orderBy("hour_bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourly
      .withColumn("cum_entries", sum("entries").over(w))
      .withColumn("cum_exits", sum("exits").over(w))
      .withColumn("occupancy_running",
        greatest(lit(0L), col("cum_entries") - col("cum_exits")))
      .withColumn("revenue_running",
        col("occupancy_running").cast("double") * RatePerHour)
      .orderBy("parkingLotId", "hour_bucket")
  }

  /** A8 daily variant (MainDaily.scala:127-130): daily revenue = net
    * occupied × rate × 24 — the reference's documented formula (it bills a
    * spot for the whole day regardless of actual stay; kept verbatim for
    * compatibility, flagged in SURVEY §7.3 as a reference quirk). */
  def dailyRevenue(spark: SparkSession, dir: String): DataFrame =
    dailyTotals(spark, dir).select("date_str", "daily_revenue").orderBy("date_str")

  /** Per day, in no order: entries, exits and [[dailyRevenue]]'s
    * `daily_revenue`, all summed from one per-(date, lot) count. Projected
    * to `daily_revenue` alone, the two extra sums are pruned from the plan. */
  private[graft] def dailyTotals(spark: SparkSession, dir: String): DataFrame =
    parkingEvents(spark, dir)
      .groupBy(dateStr("ts").as("date_str"), col("parkingLotId"))
      .agg(
        count(when(isEntry, 1)).as("entries"),
        count(when(isExit, 1)).as("exits"))
      .groupBy("date_str")
      .agg(
        sum("entries").as("entries"),
        sum("exits").as("exits"),
        (sum(netOccupancy).cast("double") * RatePerHour * 24.0).as("daily_revenue"))

  /** doc/schemas/srvc_stats.json "duration_stats": min/max/avg session
    * duration per lot over the paired-session frame (documented-but-never-
    * implemented in the reference; built here as a first-class query). The
    * avg is an exact integer sum followed by one double division, so both
    * engines agree bit-for-bit. */
  def durationStats(spark: SparkSession, dir: String): DataFrame =
    sessionPairing(spark, dir)
      .groupBy("parkingLotId")
      .agg(
        count(lit(1)).as("n_sessions"),
        min("duration_min").as("min_duration_min"),
        max("duration_min").as("max_duration_min"),
        (sum("duration_min").cast("double") / count(lit(1))).as("avg_duration_min"))
      .orderBy("parkingLotId")

  /** doc/schemas/srvc_stats.json "entry_exit_ratio_per_hour": per clock
    * hour, entries / exits (null when the hour has no exits — division by
    * zero is engine-dependent, so it is guarded identically in the oracle). */
  def entryExitRatio(spark: SparkSession, dir: String): DataFrame =
    parkingEvents(spark, dir)
      .groupBy(dateStr("ts").as("date_str"), hourStr("ts").as("hour_str"))
      .agg(
        count(when(isEntry, 1)).as("entries"),
        count(when(isExit, 1)).as("exits"))
      .withColumn("entry_exit_ratio",
        when(col("exits") === 0L, lit(null).cast("double"))
          .otherwise(col("entries").cast("double") / col("exits")))
      .orderBy("date_str", "hour_str")

  /** doc/schemas/srvc_stats.json "lot_with_highest_turnover": the lot
    * completing the most sessions, deterministic tiebreak on lot id. Partial
    * agg shrinks to ≤#lots rows before the single ordered limit. */
  def lotTurnover(spark: SparkSession, dir: String): DataFrame =
    sessionPairing(spark, dir)
      .groupBy("parkingLotId")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("parkingLotId"))
      .limit(1)

  /** doc/schemas/srvc_stats.json "heatmap_entries_per_hour": the
    * hour-of-day × lot entry grid (flat rows; the dashboard pivots). */
  def entriesHeatmap(spark: SparkSession, dir: String): DataFrame =
    parkingEvents(spark, dir)
      .filter(isEntry)
      .groupBy(hourStr("ts").as("hour_str"), col("parkingLotId"))
      .agg(count(lit(1)).as("entries"))
      .orderBy("hour_str", "parkingLotId")

  /** A11 (MainDaily.scala:170): newest event time + total count. */
  def latestTimestamp(spark: SparkSession, dir: String): DataFrame =
    parkingEvents(spark, dir)
      .agg(
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("latest_ts"),
        count(lit(1)).as("n_events"))

  /** As-of enrichment: every event tagged with the lot's running occupancy
    * as of the last COMPLETED hour before it (strict as-of — the hour the
    * event itself falls in is still open, so its bucket must not match).
    * Events in a lot's first active hour have no prior snapshot → null.
    * Exercises [[AsOfJoin.asOfRanged]] over the p28 cumulative series:
    * with only 3 lots as keys, the plain as-of window would sort each
    * lot's entire history in one task; the adaptive time-range sub-split
    * ([[Adaptive.numRanges]]: row count / target rows-per-range, floor
    * 32) makes parallelism ranges × lots AND keeps per-range volume
    * constant as the table grows, while returning identical rows
    * (range-split ≡ single-window, IntervalJoinPropertySpec). */
  def occupancyAsOf(spark: SparkSession, dir: String): DataFrame = {
    val series = cumulativeSeries(spark, dir)
      .select(col("parkingLotId"), col("hour_bucket"), col("occupancy_running"))
    val ev = parkingEvents(spark, dir).select(
      col("event_id"), col("parkingLotId"),
      date_format(col("ts"), "yyyy-MM-dd HH").as("hour_bucket_ev"))
    AsOfJoin.asOfRanged(ev, series, Seq("parkingLotId"),
        "hour_bucket_ev", "hour_bucket", Seq("occupancy_running"), strict = true,
        axis = c => to_timestamp(c, "yyyy-MM-dd HH"))
      .select(col("event_id"), col("parkingLotId"), col("hour_bucket_ev"),
        col("occupancy_running").as("occ_prev_hour"))
      .orderBy("event_id")
  }

  /** Range-join attribution: every event matched to the sessions at its
    * (lot, spot) whose [entry, exit] second-interval contains it —
    * exercises [[RangeJoin]] with day-width bins over the session
    * intervals. Events covered by no session (e.g. an ENTRY whose EXIT
    * never arrived) produce no row, inner-join semantics the oracle
    * mirrors. */
  def eventSessionAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("licensePlate", "parkingSpotId").orderBy("event_id")
    val sess = parkingEvents(spark, dir)
      .withColumn("prev_type", lag("eventType", 1).over(w))
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .filter(isExit && col("prev_type") === "PARKING_ENTRY")
      .select(col("event_id").as("sess_id"),
        col("parkingLotId"), col("parkingSpotId"),
        unix_timestamp(col("prev_ts")).as("entry_sec"),
        unix_timestamp(col("ts")).as("exit_sec"))
    val ev = parkingEvents(spark, dir).select(
      col("event_id"), col("parkingLotId"), col("parkingSpotId"),
      unix_timestamp(col("ts")).as("ev_sec"))
    RangeJoin.pointInInterval(ev, sess, Seq("parkingLotId", "parkingSpotId"),
        "ev_sec", "entry_sec", "exit_sec", binWidth = 86400L)
      .groupBy("event_id", "parkingLotId", "parkingSpotId")
      .agg(count(lit(1)).as("n_sessions"), min("sess_id").as("first_session"))
      .orderBy("event_id")
  }

  /** Multi-level rollup via CUBE over (lot, vehicleType): one pass emits
    * per-(lot, type), per-lot, per-type, and grand totals — the grouping-
    * sets family SURVEY §2.9 lists as absent in the reference (which runs
    * a separate driver-side pass per level). Rolled-up dimensions are
    * COALESCEd to 'ALL' (the source columns are never null, so no
    * ambiguity) keeping the sort order engine-independent. */
  def cubeStats(spark: SparkSession, dir: String): DataFrame =
    parkingEvents(spark, dir)
      .cube(col("parkingLotId"), col("vehicleType"))
      .agg(count(lit(1)).as("n_events"), count(when(isEntry, 1)).as("entries"))
      .select(
        coalesce(col("parkingLotId"), lit("ALL")).as("lot"),
        coalesce(col("vehicleType"), lit("ALL")).as("vtype"),
        col("n_events"), col("entries"))
      .orderBy("lot", "vtype")

  /** ROLLUP — the hierarchical member of the grouping-sets family (cube's
    * p46 sibling): per-(lot, type), per-lot, and grand total, WITHOUT the
    * per-type-across-lots level cube adds. Same Expand-based single-pass
    * plan; rolled-up dims COALESCEd to 'ALL' for engine-independent
    * order. */
  def rollupStats(spark: SparkSession, dir: String): DataFrame =
    parkingEvents(spark, dir)
      .rollup(col("parkingLotId"), col("vehicleType"))
      .agg(count(lit(1)).as("n_events"), count(when(isEntry, 1)).as("entries"))
      .select(
        coalesce(col("parkingLotId"), lit("ALL")).as("lot"),
        coalesce(col("vehicleType"), lit("ALL")).as("vtype"),
        col("n_events"), col("entries"))
      .orderBy("lot", "vtype")

  /** PIVOT — long-to-wide reshaping: entry counts per lot with one column
    * per vehicle type. The value list is EXPLICIT (the schema must never
    * depend on a distinct-scan of the data — at 100 TB that is a full
    * extra pass, and a nondeterministic column order); missing (lot,
    * type) combos land as 0, not null. One partial-agg pass — pivot plans
    * as a regular aggregate over conditional counts. */
  def vehicleTypePivot(spark: SparkSession, dir: String): DataFrame =
    parkingEvents(spark, dir)
      .filter(isEntry)
      .groupBy(col("parkingLotId").as("lot"))
      .pivot("vehicleType", graft.schema.ParkingModel.VehicleTypes)
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("lot")

  /** Explicit GROUPING SETS — the general member of the family (cube p46
    * and rollup p72 are its two canned shapes): per-lot totals, per-type
    * totals, and the grand total — WITHOUT the (lot, type) cross level —
    * plus `grouping_id()` so consumers can tell the levels apart without
    * sentinel-value sniffing. Single Expand pass like its siblings. */
  def groupingSetStats(spark: SparkSession, dir: String): DataFrame =
    parkingEvents(spark, dir)
      .groupingSets(
        Seq(Seq(col("parkingLotId")), Seq(col("vehicleType")), Seq()),
        col("parkingLotId"), col("vehicleType"))
      .agg(count(lit(1)).as("n_events"), grouping_id().as("gid"))
      .select(
        coalesce(col("parkingLotId"), lit("ALL")).as("lot"),
        coalesce(col("vehicleType"), lit("ALL")).as("vtype"),
        col("gid"), col("n_events"))
      .orderBy("lot", "vtype")

  /** UNPIVOT — the inverse reshaping of [[vehicleTypePivot]]: the wide
    * per-type columns melt back into (lot, vehicle_type, n_entries) long
    * rows, zeros included. Like the pivot, the value-column list is
    * explicit — schema is static, no data scan decides it. */
  def vehicleTypeUnpivot(spark: SparkSession, dir: String): DataFrame =
    vehicleTypePivot(spark, dir)
      .unpivot(Array(col("lot")),
        graft.schema.ParkingModel.VehicleTypes.map(col).toArray,
        "vehicle_type", "n_entries")
      .orderBy("lot", "vehicle_type")

  /** Pearson correlation of per-document token vs char counts from EXACT
    * integer moments: built-in `corr()` accumulates floating sums whose
    * order shuffle timing decides — unverifiable and subtly
    * nondeterministic at any scale. Here all six moments are exact
    * integer sums (map-side partial), and the only floating math is the
    * closing fixed-order expression; the two variance factors convert to
    * double BEFORE multiplying (their long product would overflow even
    * at bench scale — at larger scale the moments themselves graduate to
    * decimal(38,0) like p68's charge sum). */
  def tokenCharCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val st = graft.text.TextStats.stats(
        graft.sources.Tables.documents(spark, dir), "doc_id", "text")
      .select(col("n_tokens").as("x"), col("n_chars").as("y"))
    st.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n").as("n_docs"), col("sx").as("sum_tokens"),
        col("sy").as("sum_chars"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("token_char_corr"))
  }

  /** RANGE-frame sliding window — the time-based frame the windows family
    * still lacked (p12/p28 use ROWS frames): per lot, the count of events
    * in the trailing hour of VALUE range (3599 seconds preceding through
    * now), per event. RANGE frames are tie-safe by definition (all rows
    * at equal ordering value share one frame), so no tiebreak column is
    * needed for determinism. Scale: one shuffle on the lot key; the frame
    * is evaluated by a sliding two-pointer over each partition's sort —
    * O(n) per partition, state bounded by the hour's row count. Like p44,
    * a plain per-lot window's parallelism = key cardinality, so the frame
    * runs through [[RangedWindow.trailingCount]]: the time axis sub-splits
    * into adaptively many ranges ([[Adaptive.numRanges]] — row count /
    * target rows-per-range, floor 32) with cross-range exactness from the
    * prefix-sum sweep — ranges × lots tasks of bounded size instead of
    * one ever-growing task per lot, exact by construction
    * (RangedWindowSpec pins ranged ≡ single-window). */
  def trailingHourLoad(spark: SparkSession, dir: String): DataFrame =
    RangedWindow.trailingCount(
      parkingEvents(spark, dir)
        .select(col("event_id"), col("parkingLotId"),
          unix_timestamp(col("ts")).as("epoch_s")),
      Seq("parkingLotId"), "epoch_s", frame = 3599L,
      out = "events_last_hour")
      .orderBy("event_id")

  /** Navigation window functions (lead / first_value / nth_value) over
    * the per-slot event sequence — the forward-looking complement of
    * p05's lag pairing. Ordering is (ts, event_id): unique by event_id,
    * so every navigation result is deterministic; the nth_value frame is
    * explicit ROWS so both engines evaluate the same prefix. */
  def slotEventSequence(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("parkingLotId", "parkingSpotId")
      .orderBy("ts", "event_id")
    val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parkingEvents(spark, dir)
      .select(col("event_id"), col("parkingLotId"), col("parkingSpotId"),
        col("ts"), col("eventType"), col("licensePlate"))
      .withColumn("next_event_type", lead(col("eventType"), 1).over(w))
      .withColumn("first_plate", first(col("licensePlate")).over(wRows))
      .withColumn("second_plate", nth_value(col("licensePlate"), 2).over(wRows))
      .select("event_id", "eventType", "next_event_type",
        "first_plate", "second_plate")
      .orderBy("event_id")
  }

  /** Anti join: event counts for plates with NO row in the user registry
    * (the registry drops every 7th key, so these are real). left_anti is
    * the broadcast-friendly negative-membership plan — the registry side
    * broadcasts exactly like J1's positive enrichment join. */
  def unregisteredPlates(spark: SparkSession, dir: String): DataFrame =
    parkingEvents(spark, dir)
      .join(graft.schema.ParkingModel.users(spark, dir),
        col("licensePlate") === col("u_plate"), "left_anti")
      .groupBy("licensePlate").agg(count(lit(1)).as("n_events"))
      .orderBy("licensePlate")

  /** INTERSECT: plates observed with BOTH an ENTRY and an EXIT event —
    * the set-op family (§2.9 absent list). (Lot-vs-lot intersect would be
    * vacuously empty here: a plate's lot is a pure function of its id.)
    * Spark plans intersect as a distinct-then-semi-join; both sides prune
    * to the single plate column before the exchange. */
  def sharedPlates(spark: SparkSession, dir: String): DataFrame = {
    val ev = parkingEvents(spark, dir)
    ev.filter(isEntry).select("licensePlate")
      .intersect(ev.filter(isExit).select("licensePlate"))
      .orderBy("licensePlate")
  }

  /** Gap-based sessionization per plate via Spark's NATIVE session_window
    * (30-minute gap): merges events whose windows overlap, i.e. a new
    * session starts exactly when the gap to the previous event is
    * >= 30 min. Reported as (first_ts, last_ts, n_events) rather than the
    * raw window struct so the oracle's gaps-and-islands twin (exact
    * microsecond arithmetic) compares value-for-value. */
  def plateSessions(spark: SparkSession, dir: String): DataFrame =
    parkingEvents(spark, dir)
      .groupBy(col("licensePlate"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
      .select(col("licensePlate"), col("first_ts"), col("last_ts"), col("n_events"))
      .orderBy("licensePlate", "first_ts")

  /** EXCEPT: registered plates never observed in any event — the last
    * set-op family (§2.6/§2.9). (ENTRY-except-EXIT would be vacuously
    * empty on this data: every plate has both, see p48.) Spark plans
    * except as distinct-then-anti-join, both sides pruned to one column. */
  def neverParkedPlates(spark: SparkSession, dir: String): DataFrame =
    graft.schema.ParkingModel.users(spark, dir).select(col("u_plate").as("licensePlate"))
      .except(parkingEvents(spark, dir).select("licensePlate"))
      .orderBy("licensePlate")

  /** Exact per-lot duration percentiles by DETERMINISTIC rank selection:
    * the value at ascending rank ceil(q·n) (1-based, the lower discrete
    * quantile) — integer comparisons end-to-end, so the oracle matches
    * value-for-value where interpolating percentile implementations could
    * drift in double math.
    *
    * Scale shape: BUCKETED rank selection via
    * [[Percentiles.exactRankSelect]] (the round-7 remedy) — a plain
    * `row_number() over (partition by lot)` would sort each lot's entire
    * history in one task (parallelism = 3 lots, p44's scale-killer
    * class); the bucketed plan ranks only inside per-quantile target
    * bins, lots × quantiles tasks of ~n/64 rows each. PercentilesSpec
    * pins bucketed ≡ naive-window on random data; the oracle pins the
    * values. */
  def durationPercentiles(spark: SparkSession, dir: String): DataFrame =
    Percentiles.exactRankSelect(
        sessionDurations(spark, dir).select(col("parkingLotId"), col("duration_min")),
        "parkingLotId", "duration_min", Seq(0.5, 0.9, 0.99))
      .groupBy("parkingLotId")
      .agg(max(col("n")).as("n_sessions"),
        max(when(col("q") === 0.5, col("duration_min"))).as("p50_min"),
        max(when(col("q") === 0.9, col("duration_min"))).as("p90_min"),
        max(when(col("q") === 0.99, col("duration_min"))).as("p99_min"))
      .orderBy("parkingLotId")

  /** Distinct aggregation: per-lot distinct plates/spots beside the plain
    * event count — the distinct-agg family (§2.9 absent list). Spark
    * plans multi-distinct via Expand + two-level aggregation; the
    * partial-dedup still runs map-side before the shuffle. */
  def lotCardinalities(spark: SparkSession, dir: String): DataFrame =
    parkingEvents(spark, dir)
      .groupBy("parkingLotId")
      .agg(
        countDistinct(col("licensePlate")).as("n_plates"),
        countDistinct(col("parkingSpotId")).as("n_spots"),
        count(lit(1)).as("n_events"))
      .orderBy("parkingLotId")

  /** Ranking window functions: the top-3 busiest hours per lot by entry
    * count, dense_rank over a per-lot window with a deterministic
    * (count desc, hour asc) total order — the ranking family (§2.9
    * absent list; p08's top-K is a global TakeOrderedAndProject, this is
    * the per-group windowed form). */
  def busiestHours(spark: SparkSession, dir: String): DataFrame = {
    val hourly = parkingEvents(spark, dir)
      .filter(isEntry)
      .groupBy(col("parkingLotId"), date_format(col("ts"), "yyyy-MM-dd HH").as("hour_bucket"))
      .agg(count(lit(1)).as("entries"))
    hourly
      .withColumn("rnk", dense_rank().over(
        Window.partitionBy("parkingLotId")
          .orderBy(col("entries").desc, col("hour_bucket"))))
      .filter(col("rnk") <= 3)
      .select(col("parkingLotId"), col("rnk").cast("long").as("rnk"),
        col("hour_bucket"), col("entries"))
      .orderBy("parkingLotId", "rnk", "hour_bucket")
  }

  /** Semi join: registry rows (plate + handicapped flag) for plates with
    * at least one observed event — left_semi keeps registry columns only
    * and never multiplies rows by match count, the membership-probe
    * counterpart of p47's anti join. */
  def activeRegisteredPlates(spark: SparkSession, dir: String): DataFrame =
    graft.schema.ParkingModel.users(spark, dir)
      .join(parkingEvents(spark, dir),
        col("u_plate") === col("licensePlate"), "left_semi")
      .orderBy("u_plate")

  /** EXCEPT ALL — multiset (bag) difference, a different operator from
    * p51's set EXCEPT: each plate appears (entries − exits) times when
    * positive, i.e. the unbalanced-entry multiset (plates currently inside
    * if the stream ended now). Spark plans exceptAll via a count-annotated
    * anti-semantics join + generate, all distributed. */
  def unbalancedEntries(spark: SparkSession, dir: String): DataFrame = {
    val ev = parkingEvents(spark, dir)
    ev.filter(isEntry).select("licensePlate")
      .exceptAll(ev.filter(isExit).select("licensePlate"))
      .orderBy("licensePlate")
  }

  /** CDC upsert-merge registry view ([[graft.sources.UserRegistry]]) over
    * a DETERMINISTIC synthetic mutation log, so the merge semantics —
    * latest-mutation-per-plate, delete tombstones, temporary-user TTL
    * expiry (an expired latest mutation hides the plate entirely, exactly
    * like the reference's `setex` replacing the permanent Redis key) —
    * are value-exact against the DuckDB oracle. Mutations derive from the
    * customer dimension: custkey % 5 == 0 upserts a new email (including
    * % 35 == 0 plates ABSENT from the base — the insert path), % 85 == 0
    * carries a TTL straddling the fixed "now", % 11 == 0 appends a later
    * tombstone. Scale: one max_by aggregate keyed by plate (map-side
    * partials, no window) — the A12 latest-state shape. */
  def userRegistryMerge(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.sources.Tables.customer(spark, dir)
    val plate = concat(lit("P-"), col("c_custkey").cast("string")).as("u_plate")
    val ups = c.filter(col("c_custkey") % 5 === 0).select(
      plate, col("c_name").as("username"),
      concat(lit("updated-"), col("c_custkey").cast("string"),
        lit("@example.com")).as("email"),
      (col("c_custkey") % 13 === 0).as("handicapped"),
      lit("upsert").as("op"), col("c_custkey").cast("long").as("mut_seq"),
      when(col("c_custkey") % 17 === 0,
        lit(500L) + col("c_custkey") % 1000).cast("long").as("expires_at"))
    val dels = c.filter(col("c_custkey") % 11 === 0).select(
      plate, lit(null).cast("string").as("username"),
      lit(null).cast("string").as("email"),
      lit(null).cast("boolean").as("handicapped"),
      lit("delete").as("op"),
      (lit(1000000L) + col("c_custkey")).as("mut_seq"),
      lit(null).cast("long").as("expires_at"))
    graft.sources.UserRegistry.view(
      graft.sources.UserRegistry.baseUsers(spark, dir),
      ups.unionByName(dels), nowEpochS = 1000L)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_hourly_stats" -> (hourlyStats _),
    "p02_occupancy_by_lot" -> (occupancyByLot _),
    "p03_vehicle_types" -> (vehicleTypes _),
    "p04_daily_rollup" -> (dailyRollup _),
    "p05_session_pairing" -> (sessionPairing _),
    "p06_revenue_by_type" -> (revenueByType _),
    "p07_avg_spent_by_type_day" -> (avgSpentByTypeDay _),
    "p08_top_vehicles" -> (topVehicles _),
    "p09_latest_slot_state" -> (latestSlotState _),
    "p10_occupancy_replay" -> (occupancyReplay _),
    "p11_violations" -> (violations _),
    "p12_cumulative_hourly" -> (cumulativeHourly _),
    "p25_session_durations" -> (sessionDurations _),
    "p26_capacity_by_lot" -> (capacityByLot _),
    "p27_latest_ts" -> (latestTimestamp _),
    "p28_cumulative_series" -> (cumulativeSeries _),
    "p29_daily_revenue" -> (dailyRevenue _),
    "p32_duration_stats" -> (durationStats _),
    "p33_entry_exit_ratio" -> (entryExitRatio _),
    "p34_lot_turnover" -> (lotTurnover _),
    "p35_entries_heatmap" -> (entriesHeatmap _),
    "p44_asof_occupancy" -> (occupancyAsOf _),
    "p45_event_session_range" -> (eventSessionAttribution _),
    "p46_cube_stats" -> (cubeStats _),
    "p47_unregistered_plates" -> (unregisteredPlates _),
    "p48_shared_plates" -> (sharedPlates _),
    "p49_plate_sessions" -> (plateSessions _),
    "p51_never_parked" -> (neverParkedPlates _),
    "p52_duration_percentiles" -> (durationPercentiles _),
    "p54_lot_cardinalities" -> (lotCardinalities _),
    "p55_busiest_hours" -> (busiestHours _),
    "p56_active_registered" -> (activeRegisteredPlates _),
    "p57_unbalanced_entries" -> (unbalancedEntries _),
    "p72_rollup_stats" -> (rollupStats _),
    "p73_vehicle_type_pivot" -> (vehicleTypePivot _),
    "p76_trailing_hour_load" -> (trailingHourLoad _),
    "p77_slot_event_sequence" -> (slotEventSequence _),
    "p79_grouping_sets" -> (groupingSetStats _),
    "p83_vehicle_type_unpivot" -> (vehicleTypeUnpivot _),
    "p84_token_char_corr" -> (tokenCharCorrelation _),
    "p85_user_registry_merge" -> (userRegistryMerge _))
}
