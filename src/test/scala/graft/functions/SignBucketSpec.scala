package graft.functions

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class SignBucketSpec extends SparkSpec {
  import spark.implicits._

  "SignBucket" should "equal the HOF spec on real embeddings across plane configs" in {
    val v = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("embedding").as("e")).limit(300)
    for ((first, n) <- Seq((0, 4), (0, 8), (12, 15), (112, 16), (0, 20))) {
      val rows = v.select(
        AnnPrims.signBucket(col("e"), first, n).as("fast"),
        AnnPrims.signBucketHof(col("e"), first, n).as("spec")).collect()
      rows.length shouldBe 300
      rows.foreach(r => withClue(s"planes [$first, ${first + n}): ") {
        r.getLong(0) shouldBe r.getLong(1)
      })
    }
  }

  it should "replicate the HOF edge semantics: null vector, wrong length, null element all bucket to 0" in {
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f, 4.0f)),          // wrong length (dim 64)
      (2L, null.asInstanceOf[Array[Float]]))        // null vector
      .toDF("id", "e")
      .select(col("id"), AnnPrims.signBucket(col("e"), 0, 8).as("fast"),
        AnnPrims.signBucketHof(col("e"), 0, 8).as("spec"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    df(1L) shouldBe ((0L, 0L))
    df(2L) shouldBe ((0L, 0L))
    // null ELEMENT poisons every fold → 0 in both forms
    val e64 = spark.sql(
      "SELECT transform(sequence(0, 63), x -> IF(x = 3, CAST(NULL AS FLOAT), CAST(0.5 AS FLOAT))) AS e")
    val r = e64.select(AnnPrims.signBucket(col("e"), 0, 8).as("fast"),
      AnnPrims.signBucketHof(col("e"), 0, 8).as("spec")).collect().head
    r.getLong(0) shouldBe 0L
    r.getLong(1) shouldBe 0L
  }

  it should "agree between generated and interpreted evaluation" in {
    withConf(NoCodegen) {
      val v = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select(col("embedding").as("e")).limit(50)
      val rows = v.select(AnnPrims.signBucket(col("e"), 4, 11).as("fast"),
        AnnPrims.signBucketHof(col("e"), 4, 11).as("spec")).collect()
      rows.foreach(r => r.getLong(0) shouldBe r.getLong(1))
    }
  }
}
