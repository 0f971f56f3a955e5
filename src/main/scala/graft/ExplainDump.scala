package graft

/** Dev tool for the optimization rounds: dump `.explain("formatted")` of
  * registered queries to files (plans/rNN/<query>_<suffix>.txt) so plan
  * claims in OPTIMIZATION_rNN.md are checkable without running Spark.
  *
  * Usage: runMain graft.ExplainDump <sfDir> <outDir> <suffix> <q1> [q2 ...]
  * A query name of `all` dumps every registered query. Building the frame
  * executes any eager prelude the query runs (training collects,
  * localCheckpoints) — that is the point: the dumped plan is the plan of
  * the FINAL frame exactly as the bench materializes it.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names =
      if (args.drop(3).sameElements(Array("all"))) SparkEntry.queries.keys.toSeq.sorted
      else args.drop(3).toSeq
    val spark = Rehearse.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"unknown query $n"))
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"dumped $n -> $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
