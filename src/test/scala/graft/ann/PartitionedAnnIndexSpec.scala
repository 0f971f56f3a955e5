package graft.ann

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

/** Plan-lock for the persisted cell-partitioned ANN index
  * ([[ProductQuantizer.writeCellPartitionedIndex]] /
  * [[ProductQuantizer.searchPersistedIndexLut]]): the search must read
  * ONLY the probed cells' partition directories (scan fraction ≈
  * nProbe/nCells) and return exactly the in-memory search's results. */
class PartitionedAnnIndexSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, "/root/testdata/sf0.01")

  "searchPersistedIndexLut" should "scan only the probed cells' partitions and match in-memory results" in {
    val dir = tempDir("graft-ann-part").toString + "/codes_index"
    val e = emb.persist()
    val nCells = 16
    val cents = Similarity.lowestIdCentroids(e, "vec_id", "embedding", nCells)
    val cb = ProductQuantizer.trainResidualCodebooks(
      e, "vec_id", "embedding", cents)
    val index = ProductQuantizer.residualCodesIndex(
      e, "vec_id", "embedding", cents, cb)
    ProductQuantizer.writeCellPartitionedIndex(index, dir)

    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("qe")).persist()
    val nProbe = 2
    val persisted = ProductQuantizer.searchPersistedIndexLut(
      spark, dir, queries, cents, cb, k = 5, nProbe = nProbe)

    // the probed cell set the pruned scan must be limited to
    val probed = queries.select(
        explode(Similarity.probeCellsOf(col("qe"), cents, nProbe)).as("cell"))
      .distinct().collect().map(_.getLong(0)).toSet
    probed.size should be < nCells

    // partition pruning evidence: the file scan's partitions-read metric
    // equals the probed cell count, not the full nCells layout
    val rows = persisted.collect()
    def findScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] =
      p.collect {
        case f: FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          findScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          findScans(q.plan)
      }.flatten
    val scan = findScans(persisted.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("codes_index")))
      .getOrElse(fail("no FileSourceScanExec over the codes index in the plan"))
    scan.metrics("numPartitions").value shouldBe probed.size.toLong
    // the pruning is STATIC — visible in the plan before execution
    scan.partitionFilters.mkString(" ") should include("cell")

    // result parity with the in-memory search over the full index frame
    val inMem = ProductQuantizer.searchResidualIndexLut(
      index, queries, cents, cb, k = 5, nProbe = nProbe).collect()
    rows.map(_.toSeq).toSeq should contain theSameElementsInOrderAs
      inMem.map(_.toSeq).toSeq

    e.unpersist(false); queries.unpersist(false)
  }

  "compactCellPartitionedIndex" should "collapse appended micro-batch files to one per cell, preserving results and pruning" in {
    val base = tempDir("graft-ann-compact").toString
    val src = base + "/store"
    val dst = base + "/store_compact"
    val e = emb.persist()
    val nCells = 16
    val cents = Similarity.lowestIdCentroids(e, "vec_id", "embedding", nCells)
    val cb = ProductQuantizer.trainResidualCodebooks(
      e, "vec_id", "embedding", cents)
    val index = ProductQuantizer.residualCodesIndex(
      e, "vec_id", "embedding", cents, cb).persist()
    // simulate three ingest micro-batches: disjoint id ranges appended
    Seq(0L -> 200L, 200L -> 400L, 400L -> Long.MaxValue).foreach {
      case (lo, hi) =>
        index.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .write.mode("append").partitionBy("cell").parquet(src)
    }
    def filesPerCell(path: String): Map[String, Int] = {
      val root = new java.io.File(path)
      root.listFiles().filter(_.getName.startsWith("cell=")).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    filesPerCell(src).values.max should be > 1 // appends fragmented it

    ProductQuantizer.compactCellPartitionedIndex(spark, src, dst)

    val per = filesPerCell(dst)
    per.keySet shouldBe filesPerCell(src).keySet // no cell lost
    all(per.values) shouldBe 1 // exactly one file per cell

    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("qe")).persist()
    val before = ProductQuantizer.searchPersistedIndexLut(
      spark, src, queries, cents, cb).collect().map(_.toSeq)
    val after = ProductQuantizer.searchPersistedIndexLut(
      spark, dst, queries, cents, cb)
    after.collect().map(_.toSeq).toSeq shouldBe before.toSeq

    // pruning still static on the compacted store
    def findScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] =
      p.collect {
        case f: FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          findScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          findScans(q.plan)
      }.flatten
    val scan = findScans(after.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("store_compact")))
      .getOrElse(fail("no FileSourceScanExec over the compacted store"))
    scan.partitionFilters.mkString(" ") should include("cell")
    val probed = queries.select(
        explode(Similarity.probeCellsOf(col("qe"), cents, 2)).as("cell"))
      .distinct().count()
    scan.metrics("numPartitions").value shouldBe probed

    e.unpersist(false); index.unpersist(false); queries.unpersist(false)
  }
}
