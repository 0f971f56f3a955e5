package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  "MinHashSig" should "match the HOF executable spec element-for-element" in {
    val df = Seq(
      Seq(1L, 99999L, 123456789L),
      Seq(42L),
      Seq.empty[Long],
      (1L to 300L).toSeq
    ).toDF("h")
      .select(TextPrims.minhashSig(col("h"), 32).as("fast"),
        TextPrims.minhashSigHof(col("h"), 32).as("spec"))
    df.collect().foreach { r =>
      r.getSeq[Any](0) shouldBe r.getSeq[Any](1)
    }
  }

  it should "agree between generated and interpreted evaluation" in {
    withConf(NoCodegen) {
      val r = Seq(Seq(7L, 8L, 9L)).toDF("h")
        .select(TextPrims.minhashSig(col("h"), 16).as("fast"),
          TextPrims.minhashSigHof(col("h"), 16).as("spec"))
        .collect().head
      r.getSeq[Any](0) shouldBe r.getSeq[Any](1)
    }
  }
}
