package graft

import java.nio.file.{Files, Paths}

/** Dev-only subset of [[Verify]]: dump ONLY the named queries (plus their
  * oracle SQL) so `tools/check_oracle.py` can gate one new query in
  * seconds instead of a full 100-query Verify run.
  *
  * Usage: runMain graft.QuickVerify <sfDir> <outDir> <q1,q2,...>
  *
  * Differences from Verify, deliberate for iteration speed: no contract
  * preflight, no artifact wipe or leftovers check (phased pipelines
  * re-persist their own artifacts via overwrite; wiping ALL of them here
  * would break a concurrent full-Verify compare of the queries this run
  * does NOT refresh), and any query failure throws immediately. The
  * driver's gate always runs the real Verify.
  */
object QuickVerify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names) = args
    val wanted = names.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = wanted.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Rehearse.session()
    new java.io.File(outDir).mkdirs()
    wanted.foreach { name =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      println(f"[quickverify] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val json = SparkEntry.oracleSql.filter(kv => wanted.contains(kv._1))
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
