package graft

/** Dev tool (ExplainDump's runtime sibling): execute ONE registered query
  * through the noop sink and print the EXECUTED plan — the post-AQE final
  * plan, where runtime effects static explain can't show (ReusedExchange,
  * AQEShuffleRead coalescing, join-strategy rewrites) are visible. Used to
  * check whether a statically-duplicated subtree actually re-executes
  * before paying a materialization to remove it.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.FinalPlan <query> */
object FinalPlan {
  def main(args: Array[String]): Unit = {
    val spark = Rehearse.session()
    val name = args(0)
    val df = SparkEntry.queries(name)(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    Rehearse.mat(df)
    println("=== FINAL PLAN " + name + " ===")
    println(df.queryExecution.executedPlan.toString.take(400000))
    spark.stop()
  }
}
