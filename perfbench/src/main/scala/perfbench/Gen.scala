package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import scala.collection.mutable

/** Zipf(s) sampler over ranks 0 until n (rank 0 hottest), by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One generated parking event, in the shape `EventDecode` reads. */
final case class Ev(id: Long, tsSec: Long, entry: Boolean, custKey: Int,
                    lot: String, spot: String, handicappedSlot: Boolean,
                    durationMs: Option[Long]) {
  def plate: String = s"P-$custKey"
  def vehicleType: String = Gen.VehicleTypes(custKey % Gen.VehicleTypes.length)
  def json: String = {
    val sb = new java.lang.StringBuilder(256)
    sb.append("{\"event_id\":").append(id)
      .append(",\"eventType\":\"").append(if (entry) "PARKING_ENTRY" else "PARKING_EXIT")
      .append("\",\"timestamp\":\"").append(java.time.Instant.ofEpochSecond(tsSec))
      .append("\",\"vehicle\":{\"licensePlate\":\"").append(plate)
      .append("\",\"vehicleType\":\"").append(vehicleType)
      .append("\",\"color\":\"").append(Gen.Colors(custKey % Gen.Colors.length))
      .append("\"},\"parking\":{\"parkingLotId\":\"").append(lot)
      .append("\",\"parkingSpotId\":\"").append(spot)
      .append("\",\"isSlotHandicapped\":").append(handicappedSlot).append('}')
    durationMs.foreach(d => sb.append(",\"duration\":").append(d))
    sb.append('}').toString
  }
}

/** Seeded, single-threaded parking-event generator.
  *
  * Plates are customer keys drawn Zipf-skewed from a range 10% wider than
  * the registered customers, so events carry registered, handicapped and
  * unknown plates; slots (3 lots x 100 spots) are Zipf-skewed too, and a
  * seeded quarter of them are handicapped slots, so both violation types
  * occur. Each slot alternates ENTRY/EXIT like the reference generator's
  * session lifecycle. Event time advances one second per event; a fixed
  * share of events is stamped up to 30 minutes early (out of order, but
  * inside the hourly stream's 1 h watermark).
  */
final class Gen(seed: Long) {
  import Gen._
  private val rng = new SplittableRandom(seed)
  private val plateRanks = shuffled(PlateRange, rng)
  private val slotRanks = shuffled(Lots * Spots, rng)
  private val handicapped = Array.fill(Lots * Spots)(rng.nextDouble() < 0.25)
  private val plateZipf = new Zipf(PlateRange, 1.05)
  private val slotZipf = new Zipf(Lots * Spots, 0.9)
  private val occupant = Array.fill(Lots * Spots)(-1)
  private val enteredAt = new Array[Long](Lots * Spots)
  private var nextId = 0L

  def next(): Ev = {
    val id = nextId
    nextId += 1
    val slot = slotRanks(slotZipf.sample(rng))
    val late = rng.nextDouble() < OutOfOrderShare
    val ts = BaseEpochSec + id - (if (late) 1 + rng.nextInt(MaxEarlySec) else 0)
    val lot = s"lot-0${slot / Spots + 1}"
    val spot = (slot % Spots).toString
    if (occupant(slot) < 0) {
      val cust = plateRanks(plateZipf.sample(rng)) + 1
      occupant(slot) = cust
      enteredAt(slot) = ts
      Ev(id, ts, entry = true, cust, lot, spot, handicapped(slot), None)
    } else {
      val cust = occupant(slot)
      occupant(slot) = -1
      Ev(id, ts, entry = false, cust, lot, spot, handicapped(slot),
        Some(math.max(0L, ts - enteredAt(slot)) * 1000))
    }
  }

  def take(n: Int): Array[Ev] = Array.fill(n)(next())
}

object Gen {
  val Lots = 3
  val Spots = 100
  /** registered customers: c_custkey 1..Customers (the users dimension) */
  val Customers = 1500
  val PlateRange: Int = Customers * 11 / 10
  val OutOfOrderShare = 0.05
  val MaxEarlySec = 1800
  val BaseEpochSec = 1704067200L // 2024-01-01T00:00:00Z
  val VehicleTypes: Seq[String] = Seq("car", "truck", "motorcycle", "van", "suv")
  val Colors: Seq[String] = Seq("black", "white", "silver", "grey", "blue",
    "red", "green", "yellow", "orange", "brown")

  private def shuffled(n: Int, rng: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Land JSON-lines files the way a producer should: write each under
    * `staging`, then rename them into the watched directory, each in one
    * step and all back to back, so the source never lists a half-written
    * file. Returns the benchmark clock at which the last became visible. */
  def land(files: Seq[(String, Seq[Ev])], staging: Path, dir: Path): Double = {
    for ((name, events) <- files) {
      val sb = new java.lang.StringBuilder(events.size * 260)
      events.foreach(e => sb.append(e.json).append('\n'))
      Files.write(staging.resolve(name), sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    for ((name, _) <- files)
      Files.move(staging.resolve(name), dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    Clock.nowMs()
  }

  /** Latest state per slot, by event_id — what the live view must show. */
  def latestBySlot(events: Iterable[Ev]): Map[String, Ev] =
    events.groupBy(e => s"${e.lot}-${e.spot}").map { case (k, es) => k -> es.maxBy(_.id) }
}

/** Seeded generators for the batch inputs: parquet tables with the
  * schemas of the repository's test data (TESTDATA.md). */
object TableGen {
  import org.apache.spark.sql.{Row, SparkSession}
  import org.apache.spark.sql.types._

  def customers(spark: SparkSession, dir: String): Unit = {
    val rows = (1 to Gen.Customers).map(k => Row(k.toLong, f"Customer#$k%09d"))
    val schema = StructType(Seq(StructField("c_custkey", LongType),
      StructField("c_name", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
  }

  /** `n` rows of the `events` table over 30 days; user ids Zipf-skewed
    * over the customer keys (plus unknown ones), five event types. */
  def events(spark: SparkSession, dir: String, n: Int, seed: Long): Unit = {
    val rng = new SplittableRandom(seed ^ 0x5eed)
    val users = new Zipf(Gen.PlateRange, 1.05)
    val types = Array("view", "click", "signup", "purchase", "error")
    val span = 30L * 86400 * 1000000L
    val tss = Array.fill(n)(rng.nextLong(span)).sorted
    val rows = (0 until n).map { i =>
      Row(i.toLong, new java.sql.Timestamp(Gen.BaseEpochSec * 1000 + tss(i) / 1000),
        users.sample(rng).toLong, types(rng.nextInt(types.length)),
        math.round(rng.nextDouble() * 20000) / 100.0, s"""{"k": ${rng.nextInt(100)}}""")
    }
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** 256 words: 64 stems with four endings, so unrelated documents rarely
    * share a sketch while duplicates still do */
  private val Vocab: Array[String] = for {
    stem <- ("batch part spark line column order small sort fast value scan hash slow " +
      "group agg filter query big key window row table stream merge data vector join " +
      "index shard token page text model train eval split label score rank graph edge " +
      "node cache disk memory plan stage task job file lake topic offset state store " +
      "sink source alert slot lot hour day week").split(" ")
    end <- Array("", "s", "er", "ing")
  } yield stem + end
  private val Langs = Array("en", "en", "en", "zh", "de", "fr", "es")

  /** `n` documents (returns a hash of the rows): Zipf-distributed tokens, 10% exact duplicates and 10%
    * near duplicates (a few tokens replaced) of earlier originals. Copies
    * are only ever made of originals, so duplicate groups are stars and
    * their number and shape vary little from seed to seed. */
  def documents(spark: SparkSession, dir: String, n: Int, seed: Long): Int = {
    val rng = new SplittableRandom(seed ^ 0xd0c5)
    val words = new Zipf(Vocab.length, 0.8)
    val texts = new Array[String](n)
    val originals = mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until n) {
      val u = rng.nextDouble()
      texts(i) =
        if (originals.size > 10 && u < 0.10) texts(originals(rng.nextInt(originals.size)))
        else if (originals.size > 10 && u < 0.20) {
          val toks = texts(originals(rng.nextInt(originals.size))).split(" ")
          val edits = math.max(1, toks.length / 20)
          for (_ <- 0 until edits) toks(rng.nextInt(toks.length)) = Vocab(words.sample(rng))
          toks.mkString(" ")
        } else {
          originals += i
          Array.fill(8 + rng.nextInt(73))(Vocab(words.sample(rng))).mkString(" ")
        }
    }
    val rows = texts.indices.map { i =>
      Row(i.toLong, texts(i), Langs(rng.nextInt(Langs.length)), s"src${rng.nextInt(8)}",
        texts(i).length.toLong)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    scala.util.hashing.MurmurHash3.seqHash(rows)
  }

  /** `n` 64-d vectors (returns a hash of the rows) around 16 cluster centres (label = cluster), spread
    * wide enough that few unrelated pairs pass the 0.4 cosine threshold of
    * the near-duplicate miner; 5% are near copies of an earlier original. */
  def embeddings(spark: SparkSession, dir: String, n: Int, seed: Long): Int = {
    val rng = new SplittableRandom(seed ^ 0xe3b)
    val dim = 64
    def gauss(): Double = {
      val u1 = math.max(rng.nextDouble(), 1e-12)
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rng.nextDouble())
    }
    val centres = Array.fill(16)(Array.fill(dim)(gauss()))
    val vecs = new Array[Array[Float]](n)
    val labels = new Array[Int](n)
    val originals = mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until n) {
      if (originals.size > 10 && rng.nextDouble() < 0.05) {
        val j = originals(rng.nextInt(originals.size))
        labels(i) = labels(j)
        vecs(i) = vecs(j).map(x => (x + 0.001 * gauss()).toFloat)
      } else {
        originals += i
        labels(i) = rng.nextInt(16)
        vecs(i) = centres(labels(i)).map(c => (c + 3.0 * gauss()).toFloat)
      }
    }
    val rows = (0 until n).map(i => Row(i.toLong, vecs(i).toSeq, labels(i)))
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    scala.util.hashing.MurmurHash3.seqHash(rows)
  }
}
