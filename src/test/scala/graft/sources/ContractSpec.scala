package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Round-10 postmortem coverage: the driver re-encoded `events.ts` and 41
  * queries died as analysis exceptions. These specs pin (a) the adapter's
  * tolerance to every encoding the driver has shipped, and (b) the contract
  * preflight's one-line-diff behavior on drift.
  */
class ContractSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  "Tables.events" should "normalize ts to TimestampType on the current testdata" in {
    val df = Tables.events(spark, sf)
    df.schema("ts").dataType shouldBe TimestampType
    df.selectExpr("max(ts)").collect()(0).isNullAt(0) shouldBe false
  }

  "normalizeTs" should "accept all three historical ts encodings with equal values" in {
    import spark.implicits._
    val micros = 1705312245123456L // 2024-01-15T09:50:45.123456Z
    val fromLong = Tables.normalizeTs(
      Seq(micros * 1000L).toDF("ts")) // nanos-as-long (pre-round-10 encoding)
    val fromTs = Tables.normalizeTs(
      Seq(micros).toDF("us").select(timestamp_micros(col("us")).as("ts")))
    val fromNtz = Tables.normalizeTs(
      Seq(micros).toDF("us")
        .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")))
    for (df <- Seq(fromLong, fromTs, fromNtz)) {
      df.schema("ts").dataType shouldBe TimestampType
      df.select(unix_micros(col("ts"))).collect()(0).getLong(0) shouldBe micros
    }
  }

  it should "reject an unknown ts type with a one-line named error" in {
    import spark.implicits._
    val bad = Seq("2024-01-15").toDF("ts")
    val e = intercept[IllegalStateException](Tables.normalizeTs(bad))
    e.getMessage should include("events.ts")
    e.getMessage should include("StringType")
  }

  "Contract.probe" should "hold on the driver testdata at every scale" in {
    Contract.probe(spark, sf) shouldBe empty
    Contract.probe(spark, "/root/testdata/sf0.01") shouldBe empty
  }

  it should "report a re-encoded column as a single named diff line" in {
    import spark.implicits._
    val dir = tempDir("contract").toString
    // clone the sf0.001 layout but re-encode events.ts as string —
    // exactly the silent-regeneration scenario the probe exists for
    for (t <- Contract.expected.keys if t != "events")
      spark.read.parquet(s"$sf/$t.parquet").write.parquet(s"$dir/$t.parquet")
    spark.read.parquet(s"$sf/events.parquet")
      .withColumn("ts", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .write.parquet(s"$dir/events.parquet")
    val drift = Contract.probe(spark, dir)
    drift should have size 1
    drift.head should startWith("events.ts: expected")
    drift.head should include("got string")
  }

  it should "catch an embedding-dimension change a footer cannot show" in {
    import spark.implicits._
    val dir = tempDir("contract3").toString
    for (t <- Contract.expected.keys if t != "embeddings")
      spark.read.parquet(s"$sf/$t.parquet").write.parquet(s"$dir/$t.parquet")
    spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("embedding", slice(col("embedding"), 1, 32))
      .write.parquet(s"$dir/embeddings.parquet")
    val drift = Contract.probe(spark, dir)
    drift should have size 1
    drift.head shouldBe "embeddings.embedding: expected 64 elements, got 32"
  }

  it should "catch a null embedding vector anywhere in the table" in {
    import spark.implicits._
    val dir = tempDir("contract4").toString
    for (t <- Contract.expected.keys if t != "embeddings")
      spark.read.parquet(s"$sf/$t.parquet").write.parquet(s"$dir/$t.parquet")
    // null out one mid-table vector: the old first-row probe missed this
    spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("embedding",
        when(col("vec_id") === 7L, lit(null)).otherwise(col("embedding")))
      .write.parquet(s"$dir/embeddings.parquet")
    val drift = Contract.probe(spark, dir)
    drift should have size 1
    drift.head shouldBe "embeddings.embedding: 1 null vector(s)"
  }

  it should "catch a ragged embedding column beyond row 1" in {
    import spark.implicits._
    val dir = tempDir("contract5").toString
    for (t <- Contract.expected.keys if t != "embeddings")
      spark.read.parquet(s"$sf/$t.parquet").write.parquet(s"$dir/$t.parquet")
    spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("embedding",
        when(col("vec_id") === 7L, slice(col("embedding"), 1, 32))
          .otherwise(col("embedding")))
      .write.parquet(s"$dir/embeddings.parquet")
    val drift = Contract.probe(spark, dir)
    drift should have size 1
    drift.head shouldBe "embeddings.embedding: expected 64 elements, got ragged 32..64"
  }

  it should "catch an int64 ts re-encoded in micros (the next silent drift)" in {
    val dir = tempDir("contract6").toString
    for (t <- Contract.expected.keys if t != "events")
      spark.read.parquet(s"$sf/$t.parquet").write.parquet(s"$dir/$t.parquet")
    // plain int64 MICROS: footer says bigint (accepted — nanos-as-long is
    // also bigint), but normalizeTs's nanos assumption divides by 1000 and
    // every timestamp lands in 1970 — only the value probe can see it
    spark.read.parquet(s"$sf/events.parquet")
      .withColumn("ts", unix_micros(col("ts").cast(TimestampType)))
      .write.parquet(s"$dir/events.parquet")
    val drift = Contract.probe(spark, dir)
    drift should have size 1
    drift.head should startWith("events.ts: value-sanity failed")
    drift.head should include("micros/millis")
  }

  it should "report a missing table as unreadable" in {
    import spark.implicits._
    val dir = tempDir("contract2").toString
    for (t <- Contract.expected.keys if t != "embeddings")
      spark.read.parquet(s"$sf/$t.parquet").write.parquet(s"$dir/$t.parquet")
    val drift = Contract.probe(spark, dir)
    drift should have size 1
    drift.head should startWith("embeddings: unreadable")
  }
}
