package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Input row for the per-slot stateful view. */
final case class SlotEvent(parkingLotId: String, parkingSpotId: String,
                           event_id: Long, eventType: String, licensePlate: String)

/** Per-slot state: the newest event seen so far (by event_id). */
final case class SlotState(last_event_id: Long, eventType: String, licensePlate: String)

/** One live-view row, emitted every micro-batch a slot changes. */
final case class SlotUpdate(parkingLotId: String, parkingSpotId: String,
                            occupied: Boolean, plate: Option[String])

/** Input row for session pairing. */
final case class SessEvent(licensePlate: String, parkingSpotId: String,
                           parkingLotId: String, vehicleType: String,
                           event_id: Long, eventType: String, ts: java.sql.Timestamp)

/** Per-(plate, spot) state: the last event observed. */
final case class LastEvent(event_id: Long, eventType: String, ts: java.sql.Timestamp)

/** A closed parking session (ENTRY immediately followed by EXIT). */
final case class PairedSession(exit_event_id: Long, licensePlate: String,
                               parkingSpotId: String, parkingLotId: String,
                               vehicleType: String, entry_ts: java.sql.Timestamp,
                               exit_ts: java.sql.Timestamp, duration_min: Long)

/** ST4/A12 (reference repo-events RepoEventsApi.scala:38-69): the live
  * latest-state-per-slot materialized view as a `mapGroupsWithState`
  * stream — the streaming twin of the batch `latestSlotState` query (p09).
  *
  * State is one tiny record per (lot, spot): bounded by the physical slot
  * universe, not the stream length, so the state store stays O(slots) at
  * any event volume. Newest-by-event_id selection makes the operator
  * insensitive to ordering within and across micro-batches (exactly like
  * the batch max_by plan).
  */
object LiveSlotView {
  def updates(decoded: DataFrame): Dataset[SlotUpdate] = {
    val spark = decoded.sparkSession
    import spark.implicits._
    decoded
      .select("parkingLotId", "parkingSpotId", "event_id", "eventType", "licensePlate")
      .as[SlotEvent]
      .groupByKey(e => (e.parkingLotId, e.parkingSpotId))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: (String, String), events: Iterator[SlotEvent], state: GroupState[SlotState]) =>
          val batchLast = events.maxBy(_.event_id)
          val cur = state.getOption match {
            case Some(s) if s.last_event_id > batchLast.event_id => s
            case _ => SlotState(batchLast.event_id, batchLast.eventType, batchLast.licensePlate)
          }
          state.update(cur)
          val occupied = cur.eventType == "PARKING_ENTRY"
          SlotUpdate(key._1, key._2, occupied, if (occupied) Some(cur.licensePlate) else None)
      }
  }
}

/** ST5/J2 (reference GeneratorService session lifecycle + MainWeekly.scala:
  * 111-128 pairing): closed-session emission via `flatMapGroupsWithState`,
  * the streaming twin of the batch `sessionPairing` query (p05).
  *
  * Keyed by (plate, spot) — the same partitioning the batch window uses, so
  * state is colocated per session key. Within a micro-batch events are
  * sorted by event_id; across batches the single-record state carries the
  * last event, so an ENTRY in batch N pairs with its EXIT in batch N+k.
  * duration_min reproduces the batch formula floor((exit_s − entry_s)/60)
  * with the same truncation.
  */
object SessionStream {
  def pairs(decoded: DataFrame): Dataset[PairedSession] = {
    val spark = decoded.sparkSession
    import spark.implicits._
    decoded
      .select("licensePlate", "parkingSpotId", "parkingLotId", "vehicleType",
        "event_id", "eventType", "ts")
      .as[SessEvent]
      .groupByKey(e => (e.licensePlate, e.parkingSpotId))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (String, String), events: Iterator[SessEvent], state: GroupState[LastEvent]) =>
          val sorted = events.toIndexedSeq.sortBy(_.event_id)
          var last = state.getOption
          val out = Seq.newBuilder[PairedSession]
          sorted.foreach { e =>
            if (e.eventType == "PARKING_EXIT" && last.exists(_.eventType == "PARKING_ENTRY")) {
              val l = last.get
              val entrySec = Math.floorDiv(l.ts.getTime, 1000L)
              val exitSec = Math.floorDiv(e.ts.getTime, 1000L)
              out += PairedSession(e.event_id, e.licensePlate, e.parkingSpotId,
                e.parkingLotId, e.vehicleType, l.ts, e.ts,
                Math.floorDiv(exitSec - entrySec, 60L))
            }
            last = Some(LastEvent(e.event_id, e.eventType, e.ts))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }
}

/** Gap-based sessionization as a STREAMING aggregate over Spark's native
  * session_window — the streaming twin of the batch `plateSessions` query
  * (p49). Sessions merge statefully across micro-batches. Append-mode
  * finalization (Spark 4 supports streaming session_window aggregation in
  * append only): a session is emitted exactly ONCE, when its window end
  * (last event + gap) falls behind the watermark and no late event can
  * extend it — so downstream sinks receive closed sessions, no upsert
  * key needed. The watermark bounds state by evicting those finalized
  * windows. */
object SessionWindowStream {
  def sessions(decoded: DataFrame, gap: String = "30 minutes",
               lateness: String = "1 hour"): DataFrame =
    decoded
      .withWatermark("ts", lateness)
      .groupBy(col("licensePlate"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
      .select(col("licensePlate"), col("first_ts"), col("last_ts"), col("n_events"))
}

/** Streaming exact dedup — the stateful twin of the batch
  * [[graft.text.TextDedup.exactDedup]]: the first arrival of each distinct
  * normalized-text content survives, keyed by the SAME two independent
  * polynomial hashes the batch operator groups on, via Spark's native
  * streaming `dropDuplicates` (state store holds one tiny entry per
  * distinct content — fixed-width hashes, never text). Which copy
  * represents a content group depends on arrival order (the batch twin
  * keeps min id); the content GROUPS are identical, which is what the
  * parity case asserts. For bounded state retention at an unbounded
  * stream, add a watermark + `dropDuplicatesWithinWatermark`. */
object ExactDedupStream {
  def firstSeen(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.TextPrims._
    docs
      .select(col(idCol).as("id"), normText(col(textCol)).as("norm"))
      .select(col("id"), charHash(col("norm")).as("text_hash"),
        graft.functions.PolyHash(col("norm"), 11L, 37L, 998244353L).as("text_hash2"))
      .dropDuplicates("text_hash", "text_hash2")
  }
}

/** One event of the streaming as-of join's unioned input: left lookups and
  * right snapshots tagged by side (`is_right`). */
final case class AsOfEvent(key: String, t: Long, is_right: Boolean,
                           left_id: Long, payload: Option[Long])

/** Per-key as-of state: the latest right snapshot seen so far. A genuinely
  * null payload VALUE is preserved (`payload = None` with the snapshot
  * still winning) — the same latest-ROW semantics as the batch operator's
  * payload-struct fix. */
final case class RightSnap(t: Long, payload: Option[Long])

/** One joined output row: the left lookup with the as-of payload. */
final case class AsOfJoined(key: String, left_id: Long, t: Long,
                            payload: Option[Long])

/** Streaming as-of join — the `flatMapGroupsWithState` twin of
  * [[graft.ops.AsOfJoin.asOf]] (the same pattern SessionStream uses for
  * p05): state is ONE tiny record per key (the latest right snapshot), so
  * the state store is O(keys) at any stream length. Within a micro-batch
  * events replay in (t, side-tag) order with the batch operator's exact
  * tie rule — right before left at equal t for ≤ semantics, after left
  * under `strict`; left rows emit on arrival against the state as of
  * their replay point.
  *
  * Contract for batch parity: per key, events arrive time-ordered ACROSS
  * micro-batches (any order within one) — an out-of-order right row
  * arriving after a later left row has been emitted cannot retroactively
  * re-join it (the standard emit-on-arrival streaming as-of trade; the
  * parity suite feeds time-chunked batches, as would any replay from a
  * time-partitioned lake or a per-key-ordered Kafka topic). */
object AsOfStream {
  def joined(events: Dataset[AsOfEvent], strict: Boolean = false): Dataset[AsOfJoined] = {
    val spark = events.sparkSession
    import spark.implicits._
    val rightTag = if (strict) 2 else 0
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, evs: Iterator[AsOfEvent], state: GroupState[RightSnap]) =>
          val sorted = evs.toIndexedSeq
            .sortBy(e => (e.t, if (e.is_right) rightTag else 1))
          var last = state.getOption
          val out = Seq.newBuilder[AsOfJoined]
          sorted.foreach { e =>
            if (e.is_right) last = Some(RightSnap(e.t, e.payload))
            else out += AsOfJoined(key, e.left_id, e.t, last.flatMap(_.payload))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }
}

/** ST2/ST3 (reference hourly batch window, MainHourly.scala:14-24 + the
  * "@every 1m" reprocessing schedule): the hourly per-lot stats as a
  * watermarked tumbling-window streaming aggregate — the streaming twin of
  * the batch `occupancyByLot` query (p02). Update mode: each micro-batch
  * emits the hours whose counts changed; sinks upsert by the
  * (date, hour, lot) key exactly as the reference idempotently re-JSON.SETs
  * its hourly Redis key. The watermark bounds state: windows more than
  * `lateness` behind the max event time are finalized and evicted.
  */
object HourlyStatsStream {
  import graft.ops.ParkingAnalytics.{isEntry, isExit, netOccupancy}

  def aggregates(decoded: DataFrame, lateness: String = "1 hour"): DataFrame =
    decoded
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("parkingLotId"))
      .agg(
        count(when(isEntry, 1)).as("entries"),
        count(when(isExit, 1)).as("exits"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("date_str"),
        date_format(col("window.start"), "HH").as("hour_str"),
        col("parkingLotId"),
        col("entries"), col("exits"),
        netOccupancy.as("occupancy"))
}
