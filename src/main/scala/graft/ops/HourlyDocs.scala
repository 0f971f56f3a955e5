package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.ParkingModel

/** F9 + A3/A4 map shape (reference MainHourly.scala:158-171 `statsToJson` +
  * AggregatedStatsSpark): the complete hourly stats document —
  * `{"NbrEntries":…,"NbrExit":…,"Occupancy":{lot→n},"RevenueSimulation":…,
  * "VehicleTypes":{type→n}}` — with the exact capitalized field names the
  * reference's Grafana dashboards read back from Redis
  * (real_time.json panels JSON.GET .NbrEntries/.RevenueSimulation).
  *
  * One distributed plan: two partial aggregations (per-lot, per-type) that
  * shrink to (hour × lot) / (hour × type) cardinality before the map
  * assembly — where the reference collected ≥6 jobs to the driver and
  * string-interpolated JSON by hand. The per-lot level is
  * [[ParkingAnalytics.hourLotCounts]], shared with p01/p02. Map keys are
  * sorted before `map_from_entries`, so the rendered JSON is
  * byte-deterministic.
  */
object HourlyDocs {
  import ParkingModel.RatePerHour

  /** (redis_key, date_str, hour_str, doc) per clock hour, in no order: the
    * keyed sink it is published to needs none, and a sort would add a
    * range-partitioning job. */
  def documents(spark: SparkSession, dir: String): DataFrame =
    perHour(ParkingModel.parkingEvents(spark, dir), (pairs, _, _) => map_from_entries(pairs))
      .select(
        concat_ws(":", lit("parking-stats"), lit("hourly"), col("date_str"), col("hour_str"))
          .as("redis_key"),
        col("date_str"), col("hour_str"),
        to_json(struct(
          col("nbr_entries").as("NbrEntries"),
          col("nbr_exit").as("NbrExit"),
          col("occupancy_by_lot").as("Occupancy"),
          col("revenue_simulation").as("RevenueSimulation"),
          col("vehicle_types").as("VehicleTypes"))).as("doc"))

  /** The oracle-checkable flattened form of the same document (maps as
    * deterministic "k=v,…" strings — parquet/DuckDB compare cannot hash a
    * JSON map reliably, a sorted string can). */
  def flat(spark: SparkSession, dir: String): DataFrame =
    perHour(ParkingModel.parkingEvents(spark, dir), (pairs, k, v) =>
      array_join(transform(pairs,
        x => concat(x.getField(k), lit("="), x.getField(v).cast("string"))), ","))
      .select("date_str", "hour_str", "nbr_entries", "nbr_exit",
        "revenue_simulation", "occupancy_by_lot", "vehicle_types")
      .orderBy("date_str", "hour_str")

  /** The aggregation both renderers share: per (date, hour) the entry/exit
    * totals, the revenue simulation, and the sorted (lot, occupancy) and
    * (type, count) pairs, each rendered inside its aggregate by
    * `render(pairs, keyField, valueField)`. */
  private def perHour(events: DataFrame, render: (Column, String, String) => Column): DataFrame = {
    def pairs(k: String, v: String): Column =
      render(array_sort(collect_list(struct(col(k), col(v)))), k, v)
    val lotAgg = ParkingAnalytics.hourLotCounts(events)
      .withColumn("occ", ParkingAnalytics.netOccupancy)
      .groupBy("date_str", "hour_str")
      .agg(
        sum("entries").as("nbr_entries"),
        sum("exits").as("nbr_exit"),
        (sum("occ").cast("double") * RatePerHour).as("revenue_simulation"),
        pairs("parkingLotId", "occ").as("occupancy_by_lot"))
    val typeAgg = events.select(
      date_format(col("ts"), "yyyy-MM-dd").as("date_str"),
      date_format(col("ts"), "HH").as("hour_str"),
      col("vehicleType"))
      .groupBy("date_str", "hour_str", "vehicleType")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("date_str", "hour_str")
      .agg(pairs("vehicleType", "cnt").as("vehicle_types"))
    lotAgg.join(typeAgg, Seq("date_str", "hour_str"))
  }
}
