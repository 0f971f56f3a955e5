package graft.sources

import graft.SparkSpec
import graft.ops.ParkingAnalytics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** S13/F11 generator behavior + the SURVEY §5 ScalaCheck invariants:
  * occupancy ≥ 0, Σentries − Σexits = open sessions, every EXIT pairs with
  * ≤1 ENTRY. The analytic operators run against generated universes here,
  * not the driver testdata — property coverage independent of the oracle.
  */
class GeneratorSpec extends SparkSpec {

  /** Deterministic ScalaCheck sampling (the scalatest bridge artifact is
    * not in the offline cache; raw generators + fixed seeds are). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  "plate DSL" should "expand letters, digits and choices deterministically" in {
    val p1 = Generator.plate("aa-ddd-aa", 7L)
    p1 should fullyMatch regex "[A-Z]{2}-[0-9]{3}-[A-Z]{2}"
    Generator.plate("aa-ddd-aa", 7L) shouldBe p1 // same seed → same plate
    Generator.plate("aa-ddd-aa", 8L) should not be p1
    Generator.plate("[xyz]d", 3L).charAt(0).toString should fullyMatch regex "[xyz]"
    Generator.plate("AB-d", 1L) should startWith("AB-")
  }

  // pure lag-based pairing over a generated frame (the p05 core without
  // the parquet adapter)
  private def pairCount(events: DataFrame): Long = {
    val w = Window.partitionBy("licensePlate", "parkingSpotId").orderBy("event_id")
    events
      .withColumn("prev_type", lag("eventType", 1).over(w))
      .filter(col("eventType") === "PARKING_EXIT" && col("prev_type") === "PARKING_ENTRY")
      .count()
  }

  private val sizes = for {
    nClosed <- Gen.choose(1, 40)
    nOpen <- Gen.choose(0, 10)
  } yield (nClosed, nOpen)

  "generated universes" should "satisfy the pairing invariant (every EXIT pairs exactly once)" in {
    samples(sizes, 5).foreach { case (nClosed, nOpen) =>
      val ev = Generator.sessions(spark, nClosed, nOpen)
      withClue(s"nClosed=$nClosed nOpen=$nOpen: ") {
        pairCount(ev) shouldBe nClosed.toLong
      }
    }
  }

  it should "satisfy Σentries − Σexits = open sessions and occupancy ≥ 0" in {
    samples(sizes, 5).foreach { case (nClosed, nOpen) =>
      val ev = Generator.sessions(spark, nClosed, nOpen)
      val counts = ev.agg(
        count(when(col("eventType") === "PARKING_ENTRY", 1)).as("e"),
        count(when(col("eventType") === "PARKING_EXIT", 1)).as("x")).collect().head
      counts.getLong(0) - counts.getLong(1) shouldBe nOpen.toLong
      // per-(lot,spot) last event decides occupancy; count never negative
      val occ = ev.groupBy("parkingLotId", "parkingSpotId")
        .agg(max_by(col("eventType"), col("event_id")).as("last"))
        .groupBy("parkingLotId")
        .agg(count(when(col("last") === "PARKING_ENTRY", 1)).as("occupied"))
        .collect()
      all(occ.map(_.getLong(1))) should be >= 0L
      occ.map(_.getLong(1)).sum shouldBe
        ev.filter(col("eventType") === "PARKING_ENTRY")
          .groupBy("parkingSpotId", "parkingLotId")
          .agg(max("event_id")).join(
            ev.groupBy("parkingSpotId", "parkingLotId")
              .agg(max_by(col("eventType"), col("event_id")).as("t")),
            Seq("parkingSpotId", "parkingLotId"))
          .filter(col("t") === "PARKING_ENTRY").count()
    }
  }

  "eventsUnion" should "plan a multi-path scan equal to the per-path union (U1)" in {
    val single = Tables.events(spark, "/root/testdata/sf0.001").count()
    val double = Tables.eventsUnion(spark,
      Seq("/root/testdata/sf0.001", "/root/testdata/sf0.001")).count()
    double shouldBe 2 * single
  }

  "sessionDurations" should "fall back to duration_ms for orphan exits (J3)" in {
    val out = ParkingAnalytics.sessionDurations(spark, "/root/testdata/sf0.001")
    val bySource = out.groupBy("duration_source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySource.keySet should contain("paired")
    bySource.keySet should contain("fallback")
    out.filter(col("duration_min") < 0).count() shouldBe 0 // paired exits follow entries
  }
}
