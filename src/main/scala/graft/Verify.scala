package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev-only; the driver passes two): comma-separated
    // query-name filter for targeted oracle pre-checks during a round
    val (sfDir, outDir, onlySet) = args match {
      case Array(s, o) => (s, o, Set.empty[String])
      case Array(s, o, only) => (s, o, only.split(",").map(_.trim).toSet)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = EngineConf.session(cpus, "WARN")
    new java.io.File(outDir).mkdirs()
    // refresh oracle-replay artifacts (p50's trained centroids): deleting
    // up front makes a stale artifact from a previous run fail the oracle
    // loudly (missing file) instead of silently verifying old state. Only
    // the KNOWN artifact subpaths are deleted — the base dir is
    // user-configurable (-Dgraft.oracle.dir) and may be a shared root;
    // recursively clearing it would destroy unrelated content.
    graft.ops.DocAnalytics.oracleArtifactPaths.foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
    // ...and anything ELSE under the artifact dir is a LOUD error, not a
    // silent survivor: an unknown entry is either a stale artifact from a
    // version whose path fell off oracleArtifactPaths (the silent-stale
    // failure the wipe used to prevent) or a foreign file the user parked
    // in the artifact dir (which later artifact writes could clobber).
    // Refusing cannot destroy anything and keeps the list honest.
    val leftovers = Option(new java.io.File(graft.ops.DocAnalytics.oracleArtifactDir)
      .listFiles()).getOrElse(Array.empty).map(_.getName)
    require(leftovers.isEmpty,
      s"oracle artifact dir ${graft.ops.DocAnalytics.oracleArtifactDir} contains " +
        s"entries Verify does not own: ${leftovers.mkString(", ")} — stale artifacts " +
        "from an older version, or foreign files; clean them or point " +
        "-Dgraft.oracle.dir at a dedicated directory")
    // data-contract preflight (round-10 postmortem: a silent testdata
    // re-encoding produced 41 bare analysis exceptions) — footer-only diff,
    // printed AND persisted below in errors.json under the "_contract" key;
    // queries still run, since drift only breaks queries touching the column.
    val contractDrift = graft.sources.Contract.probe(spark, sfDir)
    contractDrift.foreach(l => System.err.println(s"[verify][contract] $l"))
    var failed = Map.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => onlySet.isEmpty || onlySet.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(500)
        System.err.println(s"[verify] $name failed: $msg")
        failed += name -> msg
      }
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => onlySet.isEmpty || onlySet.contains(k) }
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // failure record beside oracle_sql.json: a query that died must be a
    // loud err row in the round's artifact, not a silently missing key
    // (round-10 verdict item 2). "_contract" carries preflight drift lines.
    val errJson = (failed ++
        (if (contractDrift.nonEmpty) Map("_contract" -> contractDrift.mkString("; ")) else Map.empty))
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} failed: " +
        failed.keys.toSeq.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
