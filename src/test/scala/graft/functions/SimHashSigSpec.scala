package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimHashSigSpec extends SparkSpec {
  import spark.implicits._

  private val cases = Seq(
    Seq(1L, 99999L, 123456789L),
    Seq(42L),
    Seq.empty[Long],
    Seq(7L, 7L, 7L, 8L), // frequency weighting matters
    (1L to 300L).toSeq
  )

  "SimHashSig" should "match the per-bit HOF executable spec" in {
    val df = cases.toDF("h")
      .select(TextPrims.simhashSig(col("h"), 30).as("fast"),
        TextPrims.simhashHof(col("h"), 30).as("spec"))
    df.collect().foreach(r => r.getLong(0) shouldBe r.getLong(1))
  }

  it should "yield 0 for an empty token list" in {
    Seq(Seq.empty[Long]).toDF("h")
      .select(TextPrims.simhashSig(col("h"), 30))
      .collect().head.getLong(0) shouldBe 0L
  }

  it should "agree between generated and interpreted evaluation" in {
    withConf(NoCodegen) {
      val df = cases.toDF("h")
        .select(TextPrims.simhashSig(col("h"), 30).as("fast"),
          TextPrims.simhashHof(col("h"), 30).as("spec"))
      df.collect().foreach(r => r.getLong(0) shouldBe r.getLong(1))
    }
  }

  it should "participate in whole-stage codegen" in {
    val plan = spark.range(5)
      .select(TextPrims.simhashSig(array(col("id"), col("id") * 3), 30).as("s"))
      .queryExecution.executedPlan
    plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]) shouldBe true
    plan.toString should include("simhash_sig")
  }
}
