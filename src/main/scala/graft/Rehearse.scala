package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The rehearsal driver: every scale rung behind one entry,
  *
  *   sbt "runMain graft.Rehearse <rung> [args]"
  *
  * Each rung runs engine operators on [[Synth]] inputs and prints one
  * JSON record line per measurement (`{"op":...}`); the curves in
  * bench_records/ are these lines. Heap comes from the forked JVM only:
  * set SPARK_DRIVER_MEM before sbt (build.sbt reads it). Environment:
  * SPARK_GRAFT_CPUS (local cores and shuffle partitions), SPARK_GRAFT_OPS
  * (`corpus`: op-name prefixes to run), SPARK_GRAFT_CORPUS (`corpus`,
  * `funnel`, `buckets`: `uniform5k` or `zipf50k`), SCALE_NAIVE_MAX
  * (`windows`: largest size that runs the naive plans). An unknown or
  * missing rung prints the rung table and exits 2.
  *
  * The commands in bench_records/ name the mains the rungs replace:
  * {{{
  * ScaleBench [rows...]                      → Rehearse windows [rows...]
  * ScaleCorpusBench [docs...]                → Rehearse corpus [docs...]
  * CcBench [edges] [reps]                    → Rehearse cc [edges] [reps]
  * FunnelBench [docs...]                     → Rehearse funnel [docs...]
  * SkewMinerBench [docs...]                  → Rehearse skew [docs...]
  * BucketProbe [docs...]                     → Rehearse buckets [docs...]
  * ScalePackFunnelBench [rows...]            → Rehearse packing [rows...]
  * BpeLadderBench [docs]                     → Rehearse bpe [docs]
  * ScaleAnnBench [vecs...]                   → Rehearse ann [vecs...]
  * NearDupScaleBench [vecs...]               → Rehearse neardup [vecs...]
  * ScaleCellsBench [cells...]                → Rehearse cells [cells...]
  * DeployAnnBench [vecs...]                  → Rehearse deploy-ann [vecs...]
  * StreamStateBench [batches] [docs] [every] → Rehearse stream-state [batches] [docs] [every]
  * StreamSoak [batches] [edges] [docs]       → Rehearse soak [batches] [edges] [docs]
  * ComposedStreamBench [batches] [docs] [every] → Rehearse composed [batches] [docs] [every]
  * }}}
  */
object Rehearse {

  /** What a rung reads: the session, its arguments after the rung name,
    * and the environment. */
  final case class Ctx(spark: SparkSession, args: Seq[String],
                       env: Map[String, String]) {
    /** The sizes in `args`, or `default` when there are none. */
    def sizes(default: Long*): Seq[Long] =
      if (args.nonEmpty) args.map(_.toLong) else default
    /** Positional argument `i`, or `default`. */
    def arg(i: Int, default: Long): Long = args.lift(i).map(_.toLong).getOrElse(default)
  }

  final case class Rung(name: String, usage: String, about: String, run: Ctx => Unit)

  val rungs: Seq[Rung] = Seq(
    Rung("windows", "[rows...]", "ranged trailing window and bucketed percentiles vs the naive per-key plans", TextRungs.windows),
    Rung("corpus", "[docs...]", "the per-operator dedup/curation ladder, CC and ranged as-of", TextRungs.corpus),
    Rung("cc", "[edges] [reps]", "the iterative CC loop, repeated, with GC time", TextRungs.cc),
    Rung("funnel", "[docs...]", "the full curation chain, one persisted stage at a time", TextRungs.funnel),
    Rung("skew", "[docs...]", "the banded miners on a Zipf-1.2 corpus, task skew per op", TextRungs.skew),
    Rung("buckets", "[docs...]", "the SimHash miner's bucket occupancy and probe work", TextRungs.buckets),
    Rung("packing", "[rows...]", "semantic packing: one-cell funnel vs two-level prefix sum", TextRungs.packing),
    Rung("bpe", "[docs]", "BPE train vs merge count, fused vs chained apply", TextRungs.bpe),
    Rung("ann", "[vecs...]", "brute-force, LSH, IVF and PQ top-k with recall", AnnRungs.ann),
    Rung("neardup", "[vecs...]", "embedding near-dup miner on planted duplicates", AnnRungs.neardup),
    Rung("cells", "[cells...]", "IVF cell assignment as the cell count grows", AnnRungs.cells(_)),
    Rung("deploy-ann", "[vecs...]", "persisted cell-partitioned ANN index: build, prune, re-rank", AnnRungs.deployAnn),
    Rung("stream-state", "[batches] [docs] [every]", "state writes per micro-batch of the versioned-state twins", StreamRungs.streamState),
    Rung("soak", "[batches] [edges] [docs]", "long soak with replay; asserts bounds, flat wall and parity", StreamRungs.soak),
    Rung("composed", "[batches] [docs] [every]", "span dedup to the lake, then quality gate + mixture stream", StreamRungs.composed))

  def table: String = rungs
    .map(r => f"  ${r.name}%-13s ${r.usage}%-26s ${r.about}")
    .mkString("usage: graft.Rehearse <rung> [args]\n", "\n", "")

  def main(args: Array[String]): Unit =
    rungs.find(r => args.headOption.contains(r.name)) match {
      case Some(rung) =>
        val spark = session()
        try rung.run(Ctx(spark, args.toSeq.tail, sys.env)) finally spark.stop()
      case None =>
        System.err.println(table)
        sys.exit(2)
    }

  /** [[EngineConf.session]] at SPARK_GRAFT_CPUS (default 32) and ERROR log
    * level: the configuration every curve in bench_records/ was recorded
    * under. Also the session of [[QuickVerify]], [[ExplainDump]] and
    * [[FinalPlan]]. */
  def session(): SparkSession =
    EngineConf.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "ERROR")

  // ---- measurement ----

  /** Wall-clock seconds of `f`, and its result. */
  def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime(); val a = f; ((System.nanoTime() - t0) / 1e9, a)
  }

  def time(f: => Any): Double = timed(f)._1

  /** Execute a frame through the noop sink (full execution, no collect,
    * no disk). */
  def mat(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `df` persisted and counted, so later timings are pure compute. */
  def persisted(df: DataFrame): DataFrame = { val d = df.persist(); d.count(); d }

  /** Seconds to build, persist and count `df`, and the persisted frame. */
  def timedPersist(df: => DataFrame): (Double, DataFrame) = timed(persisted(df))

  final case class Measured[A](sec: Double, gcSec: Double, result: A,
                               snap: TaskStats.Snap)

  /** `f` under a fresh [[TaskStats]] scope, with the JVM's GC time. */
  def measured[A](spark: SparkSession)(f: => A): Measured[A] = {
    def gcMillis() = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val gc0 = gcMillis()
    val (sec, a, snap) = TaskStats.scoped(spark)(f)
    Measured(sec, (gcMillis() - gc0) / 1000.0, a, snap)
  }

  /** recall@k: the share of `exact`'s (query, neighbor) rows `approx`
    * also returns. */
  def recall(exact: DataFrame, approx: DataFrame): Double = {
    val e = exact.select("query_id", "neighbor_id")
    e.join(approx.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id")).count().toDouble / e.count()
  }

  // ---- records ----

  /** A number rendered at a fixed precision. */
  final case class Fixed(d: Double, digits: Int) {
    override def toString: String = s"%.${digits}f".format(d)
  }

  private def render(v: Any): String = v match {
    case None      => "null"
    case Some(x)   => render(x)
    case s: String => Json.quote(s)
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case x         => x.toString
  }

  /** Print one record line: `{"op":op,k1:v1,...}` in the given key order. */
  def emit(op: String, fields: (String, Any)*): Unit =
    println((("op" -> op) +: fields)
      .map { case (k, v) => s"${Json.quote(k)}:${render(v)}" }
      .mkString("{", ",", "}"))

  // ---- stream fixture ----

  /** Write `df`, ordered by `order`, as one JSON file of `perBatch` rows
    * per future micro-batch (file times a minute apart), keep every
    * batch's progress, and return a reader that streams the files one
    * per trigger with `df`'s schema. */
  def jsonChunks(df: DataFrame, perBatch: Int, prefix: String,
                 order: String*): () => DataFrame = {
    val spark = df.sparkSession
    val dir = made(Files.createTempDirectory(prefix))
    val chunks = df.orderBy(order.map(col): _*)
      .select(to_json(struct(df.columns.map(col): _*)))
      .collect().map(_.getString(0)).grouped(perBatch).toSeq
    chunks.zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"$prefix-$i%05d.json")
      Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", (chunks.size + 16).toString)
    val schema = StructType(df.schema.map(_.copy(nullable = true)))
    () => spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .json(dir.toString)
  }

  /** Wait up to an hour for an AvailableNow query and return it; fail
    * loudly on timeout rather than read a partially written state or
    * output dir. */
  def awaitOrAbort(q: StreamingQuery, what: String): StreamingQuery = {
    if (!q.awaitTermination(3600000L) || q.isActive) {
      q.stop()
      sys.error(s"$what did not terminate within 3600s")
    }
    q
  }

  /** (batchId → triggerExecution ms) for every batch the query ran. */
  def batchDurations(q: StreamingQuery): Seq[(Long, Long)] =
    q.recentProgress.toSeq
      .map(p => p.batchId -> p.durationMs.getOrDefault("triggerExecution", -1L).longValue())
      .filter(_._1 >= 0).sortBy(_._1)

  /** A temp dir path for one rehearsal output; [[cleaned]] deletes it. */
  def tempDir(prefix: String): String = made(Files.createTempDirectory(prefix)).toString

  /** Every dir [[tempDir]] and [[jsonChunks]] created and [[cleaned]] has
    * not yet deleted. */
  private val dirs = ArrayBuffer.empty[Path]

  private def made(dir: Path): Path = dirs.synchronized { dirs += dir; dir }

  /** Run `body`, then delete every dir [[tempDir]] and [[jsonChunks]]
    * created while it ran, whether or not it threw. */
  def cleaned(body: => Unit): Unit = {
    val from = dirs.synchronized(dirs.length)
    try body
    finally dirs.synchronized {
      dirs.drop(from).foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
      dirs.dropRightInPlace(dirs.length - from)
    }
  }
}
