package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.{col, udf}
import graft.ops.ParkingAnalytics
import graft.schema.ParkingModel

/** §3.2 (reference srvc-alert ParkingEventConsumer.scala:24-53 +
  * AlertEventPublisher): real-time violation alerting, the streaming twin
  * of the batch p11 query. Both apply the same rule expression,
  * [[ParkingAnalytics.violationRule]]; they differ in how an event gets its
  * plate's `handicapped` flag. Stateless append: no watermark or state
  * store involved.
  *
  * The alert streams ([[fromRegistry]]) look the flag up in a snapshot of
  * the user registry taken when the stream starts. The reference paid one
  * blocking Redis round-trip per event; a stream-static join instead
  * re-plans, re-scans and re-broadcasts the registry every micro-batch (a
  * second Spark job per batch, and an adaptive plan whose stage updates
  * the driver re-describes). The snapshot contract:
  *  - a running stream keeps the registry it started with; a registry
  *    rewrite reaches it when it is restarted (from the same checkpoint or
  *    a new one), which takes a new snapshot;
  *  - the snapshot is collected to the driver and broadcast once. Spark's
  *    `SizeEstimator` puts the map at about 85 bytes per plate of the form
  *    `P-<n>` (84 MB for 1M plates), held on the driver and once per
  *    executor; the driver also keeps the serialized broadcast, about 22
  *    bytes per plate. A registry of 10M plates thus costs about 1 GB of
  *    driver memory; one too large for that belongs in [[alerts]]' join.
  */
object ViolationStream {
  /** decoded event stream (EventDecode.decode) × user dim → alert rows
    * (event_id, vehicle_plate, spot_id, lot_id, violation_type, severity,
    * event_time), by a stream-static join. */
  def alerts(decoded: DataFrame, users: DataFrame): DataFrame =
    ParkingAnalytics.violationsFrom(decoded, users)

  /** `source`'s events → the same alert rows as [[alerts]], each event's
    * plate looked up in a snapshot of the registry under `usersDir` taken
    * now (contract above). Fails here, before any batch, if the registry
    * names a plate twice. */
  def fromRegistry(spark: SparkSession, source: EventSource, usersDir: String): DataFrame = {
    val handicapped = registrySnapshot(ParkingModel.users(spark, usersDir))
    ParkingAnalytics.violationRule(EventDecode.decode(source.stream(spark))
      .withColumn("handicapped", handicapped(col("licensePlate"))))
  }

  /** The (u_plate → handicapped) map of `users`, collected and broadcast
    * once, as a per-row lookup whose null means "not registered" — the
    * left join's null. A null `u_plate` matches no event in the join, so it
    * is left out; a plate named twice would have doubled the join's alerts
    * and would silently keep one value in a map, so it fails instead. */
  private def registrySnapshot(users: DataFrame): UserDefinedFunction = {
    val rows = users.where(col("u_plate").isNotNull)
      .select("u_plate", "handicapped").collect()
    val byPlate = rows.iterator
      .map(r => r.getString(0) -> r.getAs[java.lang.Boolean](1)).toMap
    if (byPlate.size != rows.length) {
      val twice = rows.map(_.getString(0)).diff(byPlate.keys.toSeq).distinct
      throw new IllegalArgumentException(
        s"user registry names plate(s) ${twice.take(3).mkString(", ")} more than once;" +
          " each plate needs one row")
    }
    val snapshot = users.sparkSession.sparkContext.broadcast(byPlate)
    udf((plate: String) => snapshot.value.getOrElse(plate, null): java.lang.Boolean)
  }
}
