package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sinks.{AlertNotifier, KeyValueSink, TimeSeriesSink}

/** JVM-wide tap the sink decorators report into. Spark deserializes the
  * decorators inside tasks, so they cannot hold their own state; in local
  * mode every task runs in this JVM and reaches the same tap. */
object Tap {
  final case class Call(kind: String, startMs: Double, endMs: Double, parent: String)
  val calls = new ConcurrentLinkedQueue[Call]()
  /** call durations are kept only in a measured phase, and per-call spans
    * only while that phase is traced, up to a cap (spans are never
    * cleared: a run traces one phase) */
  @volatile var timing = false
  @volatile var tracing = false
  val SpanCap = 200000
  private val kept = new AtomicLong()
  /** every call's duration since the last reset, in microseconds */
  val durationsUs: Map[String, ConcurrentLinkedQueue[java.lang.Double]] =
    Seq("resp", "webhook", "ts").map(_ -> new ConcurrentLinkedQueue[java.lang.Double]()).toMap

  /** The span a sink call belongs to: the micro-batch for a streaming task,
    * else the benchmark's own tag (job call or query) on the task. */
  def parentOfTask(): String = Option(TaskContext.get()).map { tc =>
    val q = tc.getLocalProperty("sql.streaming.queryId")
    if (q != null) s"batch:$q:${tc.getLocalProperty("streaming.sql.batchId")}"
    else Option(tc.getLocalProperty(Probes.TagKey)).getOrElse("")
  }.getOrElse(Option(Probes.driverTag.get()).getOrElse(""))

  def time[A](kind: String)(f: => A): A = {
    val t0 = Clock.nowMs()
    try f finally {
      val t1 = Clock.nowMs()
      if (timing) durationsUs(kind).add((t1 - t0) * 1000)
      if (tracing && kept.incrementAndGet() <= SpanCap)
        calls.add(Call(kind, t0, t1, parentOfTask()))
    }
  }

  def reset(): Unit = durationsUs.values.foreach(_.clear())

  def durations: Map[String, Seq[Double]] =
    durationsUs.map { case (k, q) => k -> q.asScala.map(_.doubleValue()).toSeq }
}

/** Decorators that time each call into the engine's real sinks. */
final class TimedKeyValueSink(inner: KeyValueSink) extends KeyValueSink {
  def put(key: String, json: String): Unit = Tap.time("resp")(inner.put(key, json))
}
final class TimedNotifier(inner: AlertNotifier) extends AlertNotifier {
  def notify(severity: String, message: String, eventTime: String): Unit =
    Tap.time("webhook")(inner.notify(severity, message, eventTime))
}
final class TimedTimeSeriesSink(inner: TimeSeriesSink) extends TimeSeriesSink {
  def add(series: String, ts: Long, value: Double): Unit =
    Tap.time("ts")(inner.add(series, ts, value))
}

/** Spark jobs, stages and task totals, tagged with the micro-batch or the
  * benchmark call that ran them (the `TaskStats` listener's approach,
  * kept per job instead of per session). */
final class Probes extends SparkListener {
  final class Job(val id: Int, val startMs: Double, val parent: String, val stageIds: Seq[Int]) {
    @volatile var endMs: Double = Double.NaN
  }
  final class Stage(val id: Int) {
    var startMs = Double.NaN
    var endMs = Double.NaN
    var tasks = 0
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = mutable.HashMap.empty[Int, Stage]
  private def stage(id: Int) = stages.getOrElseUpdate(id, new Stage(id))
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val parent = prop("sql.streaming.queryId") match {
      case Some(q) => s"batch:$q:${prop("streaming.sql.batchId").getOrElse("")}"
      case None    => prop(Probes.TagKey).getOrElse("")
    }
    val j = new Job(e.jobId, Clock.nowMs(), parent, e.stageIds)
    jobs.add(j)
    byId.put(e.jobId, j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byId.get(e.jobId)).foreach(_.endMs = Clock.nowMs())
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).startMs = Clock.nowMs()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.endMs = Clock.nowMs()
    if (s.startMs.isNaN) s.startMs = s.endMs
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null && e.taskInfo.successful) {
      val s = stage(e.stageId)
      s.tasks += 1
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.taskMs += e.taskInfo.duration
    }
  }

  def stagesSnapshot: Seq[Stage] = synchronized(stages.values.toSeq)
}

object Probes {
  /** local property naming the benchmark call a Spark job belongs to */
  val TagKey = "perfbench.span"
  /** driver-side twin of the tag, for sink calls made outside any task */
  val driverTag = new InheritableThreadLocal[String]()

  /** Run `f` with every Spark job it starts tagged `tag`. */
  def tagged[A](spark: org.apache.spark.sql.SparkSession, tag: String)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(TagKey, tag)
    driverTag.set(tag)
    try f finally { sc.setLocalProperty(TagKey, null); driverTag.remove() }
  }
}

/** One micro-batch's progress report. */
final case class Batch(queryId: String, batchId: Long, startMs: Double,
                       durations: Map[String, Long], inputRows: Long,
                       stateRows: Long, stateMemBytes: Long, stateCommitMs: Long)

/** Every micro-batch's progress report, as Spark hands it to listeners. */
final class ProgressLog extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    batches.add(Batch(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
      p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum))
  }
}
