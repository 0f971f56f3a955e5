package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class PolyHashSpec extends SparkSpec {
  import spark.implicits._

  "PolyHash" should "match the HOF executable spec on varied strings" in {
    val df = Seq("abc", "", "a", "the quick brown fox", "é-ü-ñ", "x" * 500)
      .toDF("s")
      .select(TextPrims.charHash(col("s")).as("fast"),
        TextPrims.charHashHof(col("s")).as("spec"))
    df.collect().foreach(r => r.getLong(0) shouldBe r.getLong(1))
  }

  it should "produce the cross-engine pinned value" in {
    // pinned against DuckDB list_reduce during oracle design: hash("abc") = 304891
    Seq("abc").toDF("s").select(TextPrims.charHash(col("s")))
      .collect().head.getLong(0) shouldBe 304891L
    PolyHash.hash("abc") shouldBe 304891L
  }

  it should "match the HOF spec for a non-default hash family" in {
    // the second exact-dedup hash: seed 11, mult 37, mod 998244353
    val hof = (c: org.apache.spark.sql.Column) =>
      aggregate(split(c, ""), lit(11L), (a, ch) => (a * 37L + ascii(ch)) % 998244353L)
    val df = Seq("abc", "", "the quick brown fox", "x" * 500).toDF("s")
      .select(PolyHash(col("s"), 11L, 37L, 998244353L).as("fast"), hof(col("s")).as("spec"))
    df.collect().foreach(r => r.getLong(0) shouldBe r.getLong(1))
    PolyHash.hash("", 11L, 37L, 998244353L) shouldBe 407L // (11*37 + 0) % mod
  }

  it should "participate in whole-stage codegen" in {
    // non-literal input, else constant folding evaluates at planning time
    val plan = spark.range(5)
      .select(TextPrims.charHash(concat(lit("x"), col("id").cast("string"))).as("h"))
      .queryExecution.executedPlan
    plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]) shouldBe true
    plan.toString should include("poly_hash") // inside the codegen'd Project
  }

  it should "agree between generated and interpreted evaluation" in {
    // NO_CODEGEN forces the nullSafeEval path; both must match the spec.
    withConf(NoCodegen) {
      Seq("interpreted path é").toDF("s")
        .select(TextPrims.charHash(col("s")).as("fast"),
          TextPrims.charHashHof(col("s")).as("spec"))
        .collect().foreach(r => r.getLong(0) shouldBe r.getLong(1))
    }
  }
}
