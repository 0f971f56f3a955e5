package graft.functions

import graft.SparkSpec
import graft.text.TextStats
import org.apache.spark.sql.functions._

class GramStatsSpec extends SparkSpec {
  import spark.implicits._

  private val cases = Seq(
    "abcdefghij",          // 3 grams
    "abcdefgh",            // exactly one gram
    "short",               // none
    "",                    // none
    "é-ü-ñ xyz abc def q", // non-ASCII codepoints
    "x" * 300)             // long uniform

  private def spec = {
    val gh = TextStats.fingerprintGramHashesHof("s")
    Seq(array_min(gh).as("mn"), array_max(gh).as("mx"),
      org.apache.spark.sql.functions.size(gh).cast("long").as("n"))
  }

  "GramStats" should "match the substr-window HOF spec" in {
    val df = cases.toDF("s").select(
      col("s"), GramStats(col("s"), 8).as("gs"), struct(spec: _*).as("sp"))
    df.collect().foreach { r =>
      withClue(s"input='${r.getString(0).take(20)}': ") {
        r.getStruct(1).toSeq shouldBe r.getStruct(2).toSeq
      }
    }
  }

  it should "agree between generated and interpreted evaluation" in {
    withConf(NoCodegen) {
      val df = cases.toDF("s").select(
        GramStats(col("s"), 8).as("gs"), struct(spec: _*).as("sp"))
      df.collect().foreach(r => r.getStruct(0).toSeq shouldBe r.getStruct(1).toSeq)
    }
  }

  it should "participate in whole-stage codegen" in {
    val plan = spark.range(5)
      .select(GramStats(concat(lit("abcdefg"), col("id").cast("string")), 8).as("g"))
      .queryExecution.executedPlan
    plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]) shouldBe true
    plan.toString should include("gram_stats")
  }
}
