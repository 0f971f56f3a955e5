package graft.functions

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class CosineSimSpec extends SparkSpec {
  import spark.implicits._

  "CosineSim" should "be bit-identical to the HOF spec on real embeddings" in {
    val v = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), col("embedding").as("e")).limit(50)
    val pairs = v.as("a").crossJoin(v.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(
        AnnPrims.cosine(col("a.e"), col("b.e")).as("fast"),
        AnnPrims.cosineHof(col("a.e"), col("b.e")).as("spec"))
      .collect()
    pairs.length should be > 1000
    pairs.foreach { r =>
      java.lang.Double.doubleToRawLongBits(r.getDouble(0)) shouldBe
        java.lang.Double.doubleToRawLongBits(r.getDouble(1))
    }
  }

  it should "return null for length-mismatched vectors, like the spec" in {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
      .select(AnnPrims.cosine(col("a"), col("b")).as("fast"),
        AnnPrims.cosineHof(col("a"), col("b")).as("spec"))
    val r = df.collect().head
    r.isNullAt(0) shouldBe true
    r.isNullAt(1) shouldBe true
  }

  it should "agree between generated and interpreted evaluation" in {
    withConf(NoCodegen) {
      val r = Seq((Array(0.5f, -1.5f, 2.0f), Array(1.0f, 0.25f, -0.75f)))
        .toDF("a", "b")
        .select(AnnPrims.cosine(col("a"), col("b")).as("fast"),
          AnnPrims.cosineHof(col("a"), col("b")).as("spec"))
        .collect().head
      java.lang.Double.doubleToRawLongBits(r.getDouble(0)) shouldBe
        java.lang.Double.doubleToRawLongBits(r.getDouble(1))
    }
  }
}
