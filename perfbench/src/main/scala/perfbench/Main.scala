package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE`.
  * Sets up the workload, measures it, checks its outputs and writes the
  * raw record to FILE; `run.py` turns the record into metrics.
  * (`perfbench.Main --archive DIR` only starts a session; see `run.py`.)
  */
object Main {
  val Cpus = 4

  def main(args: Array[String]): Unit = {
    // exit explicitly: a failed run must not linger on Spark's threads
    val ok = try { run(args); true } catch {
      case e: Throwable => e.printStackTrace(); false
    }
    System.exit(if (ok) 0 else 1)
  }

  def session(work: java.nio.file.Path): SparkSession = {
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    // `--archive DIR`: only start a session and run one query, so that
    // `run.py` can dump the classes this loads into a shared archive
    opts.get("archive").foreach { dir =>
      val spark = session(Paths.get(dir).toAbsolutePath)
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.stop()
      return
    }
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val spark = session(work)
    val probes = new Probes
    val progress = new ProgressLog
    spark.sparkContext.addSparkListener(probes)
    spark.streams.addListener(progress)

    val rec = new Record
    val ctx = new Ctx(spark, work, seed, seconds, trace, rec)
    val (_, t0, t1) = rec.span(workload, "bench", "") { _ => Workloads.run(workload, ctx) }
    // let the listener bus deliver the last events before reading them
    drainListenerBus(spark)

    val knobs = Map(
      "graft_props" -> sys.props.toMap.filter(_._1.startsWith("graft.")),
      "cpus" -> Cpus,
      "spark_version" -> spark.version,
      "java_version" -> sys.props("java.version"),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "state_store" -> spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
        .getOrElse("default"),
      "seed" -> seed, "seconds" -> seconds, "trace" -> trace)
    val out = Map(
      "workload" -> workload,
      "knobs" -> knobs,
      "start" -> t0, "end" -> t1,
      "setup_s" -> rec.setupS,
      "peak_rss_kb" -> peakRssKb(),
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "errors" -> rec.errors,
      "values" -> rec.values,
      "rows" -> rec.rows,
      "pipelines" -> rec.pipelines,
      "spans" -> rec.spans,
      "batches" -> progress.batches.asScala.toSeq.map(b => Map(
        "query" -> b.queryId, "batch" -> b.batchId, "start" -> b.startMs,
        "durations" -> b.durations, "rows" -> b.inputRows, "state_rows" -> b.stateRows,
        "state_mem" -> b.stateMemBytes, "state_commit_ms" -> b.stateCommitMs)),
      "jobs" -> probes.jobs.asScala.toSeq.map(j => Map(
        "id" -> j.id, "start" -> j.startMs, "end" -> known(j.endMs), "parent" -> j.parent,
        "stages" -> j.stageIds)),
      "stages" -> probes.stagesSnapshot.map { s =>
        val ms = s.taskMs.sorted
        def pct(p: Double) = if (ms.isEmpty) 0L else ms(math.min(ms.size - 1, (p * ms.size).toInt))
        Map("id" -> s.id, "start" -> known(s.startMs), "end" -> known(s.endMs), "tasks" -> s.tasks,
          "shuffle_bytes" -> s.shuffleBytes, "spill_bytes" -> s.spillBytes,
          "input_bytes" -> s.inputBytes, "task_p50_ms" -> pct(0.5), "task_p99_ms" -> pct(0.99))
      },
      "sink_us" -> rec.sinkUs,
      "sink_calls" -> Tap.calls.asScala.toSeq.map(c => Map("kind" -> c.kind,
        "start" -> c.startMs, "end" -> c.endMs, "parent" -> c.parent)))
    Files.write(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(out))
    spark.stop()
  }

  /** A time the listener never saw (a job or stage still running) is null. */
  private def known(ms: Double): Option[Double] = if (ms.isNaN) None else Some(ms)

  /** Wait until the listener bus is empty (its method is not public, so
    * reach it reflectively; sleep if that API moves). */
  def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, java.lang.Long.valueOf(30000L))
    } catch { case scala.util.control.NonFatal(_) => Thread.sleep(1000) }

  /** The machine's (steal, total) CPU ticks so far, from /proc/stat: the
    * time a virtual machine's CPUs were runnable but its host ran something
    * else. A share of it in the measured phase means the host, not the
    * program, slowed that run down. (0, 0) where there is no /proc/stat. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** The process's peak resident set (VmHWM), in kB. */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
}
