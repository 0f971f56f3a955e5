package graft.sources

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.SparkSpec

class BucketingSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def allNodes(plan: SparkPlan): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(walk)
    }
    walk(plan)
  }

  /** Run `f` with broadcast joins disabled so the join strategy under
    * test (bucketed sort-merge) is the one actually planned. */
  private def withoutBroadcast[T](f: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> Some("-1"),
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> Some("-1"))(f)

  "writeBucketed" should "co-locate a fact-fact join: zero shuffles in the plan, same result" in {
    val dir = tempDir("graft-bucketed")
    val l = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderdate")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    Bucketing.writeBucketed(l, "li_bkt", s"$dir/li", 8, Seq("l_orderkey"))
    Bucketing.writeBucketed(o, "ord_bkt", s"$dir/ord", 8, Seq("l_orderkey"))

    withoutBroadcast {
      val joined = Bucketing.bucketedJoin(spark, "li_bkt", "ord_bkt", Seq("l_orderkey"))
        .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
      val rows = joined.collect()

      // plan lock: the scan satisfies the join's distribution — no
      // exchange anywhere (join AND the orderkey aggregation ride the
      // bucket layout)
      val shuffles = allNodes(joined.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeLike => e }
      withClue(s"shuffles in bucketed join plan:\n$shuffles\n") {
        shuffles shouldBe empty
      }

      // result parity with the plain (shuffling) join
      val expected = l.join(o, "l_orderkey")
        .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
        .collect()
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
        expected.map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    spark.sql("DROP TABLE IF EXISTS li_bkt")
    spark.sql("DROP TABLE IF EXISTS ord_bkt")
  }
}
