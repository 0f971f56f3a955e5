package graft

import graft.text.TextDedup

/** Repeated-measure harness for the iterative CC loop's 30M-edge rung —
  * the one ladder entry with a wide documented band (87–162 s in round
  * 8, attributed to GC). [[ScaleCorpusBench]] runs the rung once inside
  * the full ladder; this main runs ONLY the CC rung `reps` times in one
  * JVM plus reports per-run wall, rounds, and GC time, so the band (and
  * any memory-shape fix) can be quantified without paying the whole
  * ladder per sample. It forces the iterative path
  * (`localEdgeThreshold = 0`) so the loop is measured at any edge count,
  * never absorbed by the union-find path.
  *
  * Run idle with `SPARK_DRIVER_MEM=32g sbt "runMain graft.CcBench
  * [edges] [reps]"`. One JSON line per run.
  */
object CcBench {

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(30000000L)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = DevBench.session()
    // per-round walls on stdout (the [cc] lines) + rep-level exchange/
    // spill totals — the round-16 rung record quotes both
    System.setProperty("graft.cc.debug", "1")
    for (rep <- 1 to reps) {
      val edges = ScaleCorpusBench.synthEdges(spark, n).persist()
      edges.count()
      val gc0 = gcMillis()
      val (sec, _, snap) = TaskStats.scoped(spark) {
        DevBench.mat(TextDedup.duplicateGroups(edges, "doc_a", "doc_b",
          localEdgeThreshold = 0L))
      }
      val gcSec = (gcMillis() - gc0) / 1000.0
      edges.unpersist(true)
      println(f"""{"op":"dedup_groups_cc","edges":$n,"rep":$rep,""" +
        f""""sec":$sec%.2f,"gc_sec":$gcSec%.2f,""" +
        f""""rounds":${TextDedup.lastRounds},${snap.json}}""")
    }
    spark.stop()
  }
}
