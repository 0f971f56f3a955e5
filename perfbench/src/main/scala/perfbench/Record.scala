package perfbench

import scala.collection.mutable

/** Everything one run measured, written as one JSON document for
  * `run.py`, which turns it into metrics. The JVM side only measures;
  * percentiles, lateness, rates and trace self times are computed in
  * Python, where they are unit-tested. */
final class Record {
  val setupS = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val values = mutable.LinkedHashMap.empty[String, Any]
  /** the benchmark's own spans: workload, pass, job call, window */
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** rows of named tables: files landed, job calls, query calls */
  val rows = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Map[String, Any]]]
  /** the phase the run is in (setup, warmup, baseline, measure, burst);
    * rows and spans carry it */
  var phase = "setup"
  /** sink call durations (us) of the measured phase, by sink */
  var sinkUs: Map[String, Seq[Double]] = Map.empty
  /** streaming query id -> pipeline name */
  val pipelines = mutable.LinkedHashMap.empty[String, String]

  /** Add a row; it carries the current phase unless it names its own. */
  def row(table: String, r: (String, Any)*): Unit =
    rows.getOrElseUpdate(table, mutable.ArrayBuffer.empty) += (("phase" -> phase) +: r).toMap

  /** Record a failed check or operation; keeps the first messages. */
  def fail(n: Long, what: => String): Unit = if (n > 0) {
    failed += n
    if (errors.size < 20) errors += what
  }

  private var nextSpan = 0
  /** Time `f` as a benchmark span; returns (result, start ms, end ms). */
  def span[A](name: String, layer: String, parent: String, idGiven: String = "")(
      f: String => A): (A, Double, Double) = {
    nextSpan += 1
    val id = if (idGiven.nonEmpty) idGiven else s"bench:$nextSpan"
    val p = phase
    val t0 = Clock.nowMs()
    val a = f(id)
    val t1 = Clock.nowMs()
    spans += Map("id" -> id, "name" -> name, "layer" -> layer, "parent" -> parent,
      "start" -> t0, "end" -> t1, "phase" -> p, "traced" -> Tap.tracing)
    (a, t0, t1)
  }
}
