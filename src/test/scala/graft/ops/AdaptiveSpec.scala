package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The data-adaptive knob derivations (round-8 verdict item: "make
  * numRanges/nCells data-adaptive"): the unit contract on the formulas
  * (floor, cap, and PROPORTIONAL growth — a 100× input picks ~100× more
  * ranges / 10× more IVF cells), plus the wiring — an Auto-ranged as-of
  * on data large enough to clear the floor really partitions its window
  * by more ranges than the old fixed default, while still returning
  * exactly the single-window rows. */
class AdaptiveFormulaSpec extends AnyFlatSpec with Matchers {

  "Adaptive.numRanges" should "hold the floor on small inputs and grow proportionally past it" in {
    // sf0.1's ~600k rows sit below the 1M-per-range target: floor
    Adaptive.numRanges(0L) shouldBe 32
    Adaptive.numRanges(600000L) shouldBe 32
    // past the floor: ceil(n / RowsPerRange), so 100× rows → 100× ranges
    Adaptive.numRanges(60000000L) shouldBe 60
    Adaptive.numRanges(6000000000L) shouldBe 4096 // capped
    val base = Adaptive.numRanges(40L * Adaptive.RowsPerRange)
    val at100x = Adaptive.numRanges(4000L * Adaptive.RowsPerRange)
    at100x shouldBe base * 100 // 100× input → 100× ranges (inside the cap)
  }

  it should "reject invalid floor/cap and negative requests" in {
    an[IllegalArgumentException] should be thrownBy Adaptive.numRanges(10L, floor = 0)
    an[IllegalArgumentException] should be thrownBy Adaptive.numRanges(10L, floor = 8, cap = 4)
    an[IllegalArgumentException] should be thrownBy Adaptive.resolveRanges(-1, 10L)
    Adaptive.resolveRanges(7, 10L) shouldBe 7 // explicit value wins verbatim
    Adaptive.resolveRanges(Adaptive.Auto, 10L) shouldBe 32
  }

  "Adaptive.ivfCells" should "follow the sqrt rule between floor and cap" in {
    Adaptive.ivfCells(0L) shouldBe 8
    Adaptive.ivfCells(100L) shouldBe 10
    Adaptive.ivfCells(1000000L) shouldBe 1000
    // 100× corpus → 10× cells (sqrt growth)
    Adaptive.ivfCells(100000000L) shouldBe 10000
    Adaptive.ivfCells(Long.MaxValue / 4) shouldBe 65536 // capped
  }
}

/** Wiring: Auto really flows the observed row count into the plan. */
class AdaptiveWiringSpec extends SparkSpec {

  "asOfRanged(Auto)" should "ride the bounds aggregate and return exactly the single-window rows" in {
    import spark.implicits._
    // 500k left rows over 3 keys: Auto resolves via the count the bounds
    // aggregate observed (here the 32 floor; proportional growth past the
    // floor is pinned by AdaptiveFormulaSpec — a 32M-row wiring case
    // would prove nothing more about the plumbing, just slower)
    val n = 500000L
    val left = spark.range(n).select(
      concat(lit("k"), (col("id") % 3).cast("string")).as("key"),
      col("id").as("lt"), col("id").as("lid"))
    val right = spark.range(0L, n, 1000L).select(
      concat(lit("k"), (col("id") % 3).cast("string")).as("key"),
      col("id").as("rt"), (col("id") * 7).as("v"))
    val auto = AsOfJoin.asOfRanged(left, right, Seq("key"), "lt", "rt", Seq("v"))
    Adaptive.numRanges(n) shouldBe 32
    // exactness: Auto ≡ plain single-window as-of on a sampled slice
    // (as-of is per-left-row, so filtering left commutes with the join)
    val sampleIds = (0L until n by 7777L).toSet
    val gotSample = auto.filter(col("lid").isin(sampleIds.toSeq: _*))
      .collect().map(r => (r.getString(0), r.getLong(2), Option(r.get(3)))).sortBy(t => (t._1, t._2))
    val plain = AsOfJoin.asOf(
        left.filter(col("lid").isin(sampleIds.toSeq: _*)), right,
        Seq("key"), "lt", "rt", Seq("v"))
      .collect().map(r => (r.getString(0), r.getLong(2), Option(r.get(3)))).sortBy(t => (t._1, t._2))
    gotSample shouldBe plain
  }

  "lshPlanes" should "hold the historical 8 at test scale and bound bucket occupancy past it" in {
    // the floor IS the round-7/8 constant: every sf dir's embedding
    // count (500–2000) derives exactly 8, so p22/p58's oracle-pinned
    // rows are unchanged when a caller opts into Auto (the default
    // stays the fixed 8 — the Adaptive doctrine for result-affecting
    // knobs)
    Adaptive.lshPlanes(500L) shouldBe 8
    Adaptive.lshPlanes(2000L) shouldBe 8
    Adaptive.lshPlanes(16000L) shouldBe 8
    // past the floor: expected occupancy n / 2^planes stays within
    // [LshBucketRows/2, LshBucketRows] until the cap
    for (n <- Seq(100000L, 1000000L, 50000000L)) {
      val p = Adaptive.lshPlanes(n)
      val expOcc = n.toDouble / (1L << p)
      assert(expOcc <= Adaptive.LshBucketRows.toDouble,
        s"n=$n planes=$p occ=$expOcc")
      assert(expOcc > Adaptive.LshBucketRows / 2.0, s"n=$n planes=$p occ=$expOcc")
    }
    Adaptive.lshPlanes(1000000000L) shouldBe 20 // capped
  }

  it should "agree with the float-log form everywhere (the oracle-twin pin)" in {
    // the integer bitlength(n−1) − 6 derivation is exactly
    // ⌈log2(n/64)⌉; p164's DuckDB twin replays `length(bin(n−1)) − 6`,
    // so this sweep (dense small range + exact powers of two, where a
    // float log could straddle ceil) pins the three forms together
    def fp(n: Long): Long = math.ceil(
      math.log(math.max(1.0, n.toDouble / 64.0)) / math.log(2.0)).toLong
    def clamp(w: Long, floor: Int, cap: Int): Int =
      math.min(cap.toLong, math.max(floor.toLong, w)).toInt
    val ns = (1L to 70000L) ++ (1 to 40).map(k => 1L << k).flatMap(p =>
      Seq(p - 1, p, p + 1)) ++ Seq(500L, 5000L, 1000000L)
    for (n <- ns; (floor, cap) <- Seq((8, 20), (4, 20))) {
      Adaptive.lshPlanes(n, floor, cap) shouldBe clamp(fp(n), floor, cap)
      val bl = if (n <= 1L) 0L
        else (64L - java.lang.Long.numberOfLeadingZeros(n - 1L)) - 6L
      Adaptive.lshPlanes(n, floor, cap) shouldBe clamp(bl, floor, cap)
    }
    // the gate corpora at the SEARCH target (bucketRows 64): sf0.01's
    // 500 docs sit at floor 4, sf0.1's 5000 derive 7
    Adaptive.lshPlanes(500L, floor = 4) shouldBe 4
    Adaptive.lshPlanes(5000L, floor = 4) shouldBe 7
  }

  it should "derive the miner target (bucketRows 16) as bitlength(n−1) − 4, the p164 twin" in {
    // the miner form is ⌈log2(n/16)⌉ — two planes MORE than the search
    // form everywhere above both floors (16 = 64/2², and the shift
    // commutes with the ceil), and p164's DuckDB twin replays
    // `length(bin(n−1)) − 4` — pin the fp form, the bitlength form,
    // and the +2 relationship together
    def fp16(n: Long): Long = math.ceil(
      math.log(math.max(1.0, n.toDouble / 16.0)) / math.log(2.0)).toLong
    def clamp(w: Long, floor: Int, cap: Int): Int =
      math.min(cap.toLong, math.max(floor.toLong, w)).toInt
    val ns = (1L to 70000L) ++ (1 to 40).map(k => 1L << k).flatMap(p =>
      Seq(p - 1, p, p + 1)) ++ Seq(500L, 5000L, 1000000L)
    for (n <- ns) {
      Adaptive.lshPlanes(n, floor = 4, cap = 20,
        bucketRows = Adaptive.MinerBucketRows) shouldBe clamp(fp16(n), 4, 20)
      val bl = if (n <= 1L) 0L
        else (64L - java.lang.Long.numberOfLeadingZeros(n - 1L)) - 4L
      Adaptive.lshPlanes(n, floor = 4, cap = 20,
        bucketRows = Adaptive.MinerBucketRows) shouldBe clamp(bl, 4, 20)
    }
    // the gate corpora at the MINER target: 500 docs derive 5, 5000
    // derive 9 — the Auto config diverges from fixed-4 at BOTH scales
    Adaptive.lshPlanes(500L, floor = 4,
      bucketRows = Adaptive.MinerBucketRows) shouldBe 5
    Adaptive.lshPlanes(5000L, floor = 4,
      bucketRows = Adaptive.MinerBucketRows) shouldBe 9
    // non-power-of-two targets are a loud error, not a silent wrong shift
    an[IllegalArgumentException] should be thrownBy
      Adaptive.lshPlanes(5000L, bucketRows = 48)
  }

  "lshMultiTables" should "keep the historical 4 at the plane floor and grow with plane count" in {
    Adaptive.lshMultiTables(8) shouldBe 4   // the (8 planes, 4 tables) floor pair
    Adaptive.lshMultiTables(12) shouldBe 6
    Adaptive.lshMultiTables(20) shouldBe 10 // the plane-cap pairing
    Adaptive.lshMultiTables(64) shouldBe 16 // capped
    an[IllegalArgumentException] should be thrownBy Adaptive.lshMultiTables(0)
  }

  "knnLshMulti(Auto, Auto)" should "reproduce the explicit (4, 8) result at test scale" in {
    import graft.ann.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // sf0.001's ~500 vectors sit below every floor: Auto derives planes=8,
    // tables=4 — exactly the historical constants, so the oracle-pinned
    // p92 rows cannot move when a caller opts in
    val auto = Similarity.knnLshMulti(emb, "vec_id", "embedding",
        org.apache.spark.sql.functions.col("vec_id") < 20,
        tables = Adaptive.Auto, planesPerTable = Adaptive.Auto)
      .collect().map(_.toSeq)
    val explicitRes = Similarity.knnLshMulti(emb, "vec_id", "embedding",
        org.apache.spark.sql.functions.col("vec_id") < 20)
      .collect().map(_.toSeq)
    auto shouldBe explicitRes
  }

  "materialize" should "leave nothing in the CacheManager once its frames are consumed" in {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def cached(df: org.apache.spark.sql.DataFrame) =
      cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined
    val wasEmpty = cm.isEmpty
    val frames = (1 to 5).map(i =>
      Adaptive.materialize(spark.range(10000L).select((col("id") * i).as("v"))))
    // each frame read by two actions, the "compute once, read twice" use
    frames.zipWithIndex.foreach { case (f, i) =>
      f.agg(sum("v")).head().getLong(0) shouldBe (i + 1) * 49995000L
      f.filter(col("v") % 2 === 0).count() should be > 0L
    }
    frames.foreach(f => cached(f) shouldBe false)
    if (wasEmpty) cm.isEmpty shouldBe true
    // the check sees a frame a persist leaves behind
    val held = spark.range(100L).toDF("v").persist()
    held.count()
    cached(held) shouldBe true
    held.unpersist(true)
  }

  "withRangeBucket" should "bucket contiguously, cover [0, nR), and survive the degenerate frames" in {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // sparse non-zero-based ids: buckets must be monotone in id and
    // bounded by the requested count
    val df = Seq(1000L, 1007L, 1040L, 1999L, 2500L, 3999L).toDF("id")
    val b = Adaptive.withRangeBucket(df, "id", numRanges = 4)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    b.map(_._2).distinct.foreach { x => x should (be >= 0L and be < 4L) }
    b.map(_._2).toSeq shouldBe b.map(_._2).sorted.toSeq // monotone in id
    b.head._2 shouldBe 0L
    b.last._2 shouldBe 3L
    // empty frame: no rows, no crash
    Adaptive.withRangeBucket(df.filter(col("id") < 0), "id", 4)
      .count() shouldBe 0L
    // single row: span 1 clamps nR to 1, bucket 0
    Adaptive.withRangeBucket(Seq(42L).toDF("id"), "id", 4)
      .collect().map(_.getLong(1)).toSeq shouldBe Seq(0L)
  }
}
