package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared recipe for the dev measurement harnesses ([[ScaleBench]],
  * [[ScaleCorpusBench]], [[ScaleAnnBench]], [[CcBench]]): one place for
  * the bench session config so a future knob change (AQE, memory, shuffle
  * sizing) cannot leave the harnesses measuring under silently different
  * configs, plus the wall-clock and noop-materialization helpers. Heap
  * comes from the forked JVM only — set SPARK_DRIVER_MEM before sbt
  * (build.sbt reads it); `spark.driver.memory` here would be a no-op. */
object DevBench {

  /** local[SPARK_GRAFT_CPUS] session with shuffle partitions = cpus, UTC,
    * no UI, ERROR log level — the measurement configuration every curve in
    * bench_records/ was recorded under. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Wall-clock seconds of `f`. */
  def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Materialize a frame through the noop sink (full execution, no
    * collect, no disk). */
  def mat(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
