package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.Rehearse._
import graft.ann.{ProductQuantizer, Similarity}
import graft.functions.{AnnPrims, CellArgmax}
import graft.ops.Adaptive

/** The [[Rehearse]] rungs over embedding vectors. Every speed number
  * is quoted beside its recall against the exact answer (20 fixed
  * queries, vec_id < 20). */
object AnnRungs {

  private val queries = col("vec_id") < 20

  /** Brute-force vs sign-LSH vs IVF vs PQ cosine top-k (k = 5) at
    * 10×/100× of sf0.1's embedding volume, plus the PQ index-build /
    * search deployment splits (decode-ADC, LUT-ADC at m=8/k=16 and
    * m=16/k=256, exact re-rank of the LUT shortlist). */
  def ann(c: Ctx): Unit =
    for (n <- c.sizes(5000L, 50000L, 500000L)) {
      val emb = persisted(Synth.embeddings(c.spark, n))
      val (tBf, exact) = timedPersist(Similarity.knnBruteForce(emb, "vec_id", "embedding", queries))
      val (tLsh, lsh) = timedPersist(Similarity.knnLsh(emb, "vec_id", "embedding", queries,
        nPlanes = Adaptive.Auto))
      val (tIvf, ivf) = timedPersist(Similarity.knnIvf(emb, "vec_id", "embedding", queries,
        nCells = Adaptive.Auto))
      // multi-table OR-construction: single-table LSH's recall collapses
      val (tMulti, multi) = timedPersist(Similarity.knnLshMulti(emb, "vec_id", "embedding",
        queries, tables = Adaptive.Auto, planesPerTable = Adaptive.Auto))
      // PQ at the p105/p106 config (m=8, k=16); coarse cells by the sqrt rule
      val (tPqTrain, cb) = timed(ProductQuantizer.trainCodebooks(emb, "vec_id", "embedding"))
      val tPqEncode = time(mat(ProductQuantizer.encode(emb, "vec_id", "embedding", cb)))
      val (tPq, pq) = timedPersist(ProductQuantizer.knnPq(emb, "vec_id", "embedding", queries, cb))
      val nCellsPq = Adaptive.ivfCells(n)
      val centsPq = Similarity.lowestIdCentroids(emb, "vec_id", "embedding", nCellsPq)
      val (tIvfPq, ivfpq) = timedPersist(ProductQuantizer.knnIvfPq(emb, "vec_id", "embedding",
        queries, centsPq, cb, nProbe = 2))
      // the deployment split: index built once at ingest, each query
      // batch pays only probe + ADC over its cells
      val (tPqIndex, pqIdx) = timedPersist(
        ProductQuantizer.pqIndex(emb, "vec_id", "embedding", centsPq, cb))
      val qset = persisted(emb.filter(queries).select(
        col("vec_id").as("query_id"), col("embedding").as("qe")))
      val (tIdxSearch, idxSearch) = timedPersist(
        ProductQuantizer.searchIndex(pqIdx, qset, centsPq, nProbe = 2))
      // LUT-ADC over a codes-only residual index, and decode-ADC over the
      // SAME residual config (the apples-to-apples comparison)
      val resCb = ProductQuantizer.trainResidualCodebooks(emb, "vec_id",
        "embedding", centsPq, m = ProductQuantizer.DefaultM, k = ProductQuantizer.DefaultK)
      val (tResIdx, resIdx) = timedPersist(
        ProductQuantizer.residualCodesIndex(emb, "vec_id", "embedding", centsPq, resCb))
      val (tLutSearch, lutSearch) = timedPersist(
        ProductQuantizer.searchResidualIndexLut(resIdx, qset, centsPq, resCb, nProbe = 2))
      val (tDecIdx, decIdx) = timedPersist(
        ProductQuantizer.residualIndex(emb, "vec_id", "embedding", centsPq, resCb))
      val (tDecSearch, decSearch) = timedPersist(
        ProductQuantizer.searchResidualIndex(decIdx, qset, centsPq, nProbe = 2))
      val resCb256 = ProductQuantizer.trainResidualCodebooks(emb, "vec_id",
        "embedding", centsPq, m = 16, k = 256)
      val (tResIdx256, resIdx256) = timedPersist(
        ProductQuantizer.residualCodesIndex(emb, "vec_id", "embedding", centsPq, resCb256))
      val (tLutSearch256, lutSearch256) = timedPersist(
        ProductQuantizer.searchResidualIndexLut(resIdx256, qset, centsPq, resCb256, nProbe = 2))
      // with lshPlanes(n) the members per bucket stay ~flat across rungs
      val planes = Adaptive.lshPlanes(n)
      val occ = emb.select(AnnPrims.signBucket(col("embedding"), 0, planes).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("c"))
        .agg(max("c").as("mx"), avg("c").as("av"), count(lit(1)).as("nb"))
        .head()
      def r3(approx: DataFrame) = Fixed(recall(exact, approx), 3)
      def t2(sec: Double) = Fixed(sec, 2)
      val cells = Seq("cells" -> nCellsPq, "nprobe" -> 2)
      emit("knn_bruteforce", "vecs" -> n, "sec" -> t2(tBf), "recall" -> 1.0)
      emit("knn_lsh", "vecs" -> n, "sec" -> t2(tLsh), "recall" -> r3(lsh))
      emit("lsh_occupancy", "vecs" -> n, "planes" -> planes, "buckets_hit" -> occ.getLong(2),
        "max_bucket" -> occ.getLong(0), "avg_bucket" -> Fixed(occ.getDouble(1), 1))
      emit("knn_ivf_auto", "vecs" -> n, "sec" -> t2(tIvf), "recall" -> r3(ivf))
      emit("knn_lsh_multi_auto", "vecs" -> n, "sec" -> t2(tMulti), "recall" -> r3(multi),
        "tables" -> Adaptive.lshMultiTables(planes), "planes_per_table" -> planes)
      emit("pq_train", "vecs" -> n, "sec" -> t2(tPqTrain))
      emit("pq_encode", "vecs" -> n, "sec" -> t2(tPqEncode))
      emit("knn_pq_adc", "vecs" -> n, "sec" -> t2(tPq), "recall" -> r3(pq))
      emit("knn_ivfpq", Seq("vecs" -> n, "sec" -> t2(tIvfPq), "recall" -> r3(ivfpq)) ++ cells: _*)
      emit("pq_index_build", "vecs" -> n, "sec" -> t2(tPqIndex))
      emit("pq_index_search", Seq("vecs" -> n, "sec" -> t2(tIdxSearch),
        "recall" -> r3(idxSearch)) ++ cells: _*)
      val mk16 = Seq("m" -> 8, "k" -> 16)
      val mk256 = Seq("m" -> 16, "k" -> 256)
      emit("pqr_codes_index_build", Seq("vecs" -> n, "sec" -> t2(tResIdx)) ++ mk16: _*)
      emit("pqr_lut_search", Seq("vecs" -> n, "sec" -> t2(tLutSearch),
        "recall" -> r3(lutSearch)) ++ mk16 ++ cells: _*)
      emit("pqr_decode_index_build", Seq("vecs" -> n, "sec" -> t2(tDecIdx)) ++ mk16: _*)
      emit("pqr_decode_search", Seq("vecs" -> n, "sec" -> t2(tDecSearch),
        "recall" -> r3(decSearch)) ++ mk16 ++ cells: _*)
      emit("pqr_codes_index_build_256", Seq("vecs" -> n, "sec" -> t2(tResIdx256)) ++ mk256: _*)
      emit("pqr_lut_search_256", Seq("vecs" -> n, "sec" -> t2(tLutSearch256),
        "recall" -> r3(lutSearch256)) ++ mk256 ++ cells: _*)
      // IVFADC+R: exact re-rank of a kShort LUT shortlist (same probes,
      // so the gain over the LUT rung is pure quantization recovery)
      for (kShort <- Seq(10, 30, 100)) {
        val (tRr, rr) = timedPersist(ProductQuantizer.rerankExact(
          ProductQuantizer.searchResidualIndexLut(resIdx256, qset,
            centsPq, resCb256, k = kShort, nProbe = 2),
          emb, "vec_id", "embedding", qset))
        emit("pqr_rerank_256", Seq("vecs" -> n, "sec" -> t2(tRr), "recall" -> r3(rr),
          "kshort" -> kShort) ++ mk256 ++ cells: _*)
        rr.unpersist(false)
      }
      Seq(exact, lsh, ivf, multi, pq, ivfpq, pqIdx, qset, idxSearch, resIdx, lutSearch,
        decIdx, decSearch, resIdx256, lutSearch256, emb).foreach(_.unpersist(false))
    }

  /** The embedding near-dup miner ([[Similarity.nearDupPairs]]) at fixed
    * 4 planes, at the derived plane count (`auto`) and with 8 tables
    * (`auto8`), on [[Synth.plantedEmbeddings]] so every rung has a
    * planted-pair recall. Per mode: per-(table, bucket) occupancy, the
    * buckets over the hot-bucket cap and the rows they strand, then the
    * miner's pairs and recall. */
  def neardup(c: Ctx): Unit = {
    val cap = graft.text.TextDedup.DefaultMaxBucket
    for (n <- c.sizes(100000L, 1000000L)) {
      val emb = persisted(Synth.plantedEmbeddings(c.spark, n))
      val planted = c.spark.range(9L, n, 10L)
        .select((col("id") - 9).as("vec_a"), col("id").as("vec_b"))
      val nPlanted = planted.count()
      val autoPpt = Adaptive.lshPlanes(n, floor = 4, cap = 20,
        bucketRows = Adaptive.MinerBucketRows)
      for ((mode, ppt, tables) <- Seq(("fixed4", 4, 4), ("auto", autoPpt, 4),
                                      ("auto8", autoPpt, 8))) {
        // exactly the frame nearDupPairs feeds its hot-bucket gate
        val occ = emb.select(explode(array((0 until tables).map(t =>
            struct(lit(t).as("tbl"),
              AnnPrims.signBucket(col("embedding"), t * ppt, ppt).as("bucket"))): _*)).as("bb"))
          .select(col("bb.tbl").as("tbl"), col("bb.bucket").as("bucket"))
          .groupBy("tbl", "bucket").agg(count(lit(1)).as("m"))
          .agg(count(lit(1)), max("m"),
            sum(when(col("m") > cap, lit(1)).otherwise(lit(0))),
            sum(when(col("m") > cap, col("m")).otherwise(lit(0))))
          .head()
        emit("neardup_occupancy", "vecs" -> n, "mode" -> mode, "planes" -> ppt,
          "tables" -> tables, "buckets_hit" -> occ.getLong(0), "max_bucket" -> occ.getLong(1),
          "over_cap" -> occ.getLong(2), "rows_stranded" -> occ.getLong(3), "cap" -> cap)
        val (t, pairs) = timedPersist(Similarity.nearDupPairs(emb, "vec_id", "embedding",
          tables = tables, planesPerTable = if (mode == "fixed4") 4 else Adaptive.Auto))
        val hit = planted.join(pairs, Seq("vec_a", "vec_b")).count()
        emit(s"neardup_$mode", "vecs" -> n, "sec" -> Fixed(t, 2), "planes" -> ppt,
          "tables" -> tables, "pairs" -> pairs.count(), "planted" -> nPlanted,
          "planted_recall" -> Fixed(hit.toDouble / nPlanted, 3))
        pairs.unpersist(false)
      }
      emb.unpersist(false)
    }
  }

  /** IVF cell assignment over a fixed 200k-vector corpus as the cell
    * count grows: the `literal` plan (one expression node per centroid,
    * attempted up to 5 000 cells — past that it is the known plan-size
    * failure) vs the `fused` [[CellArgmax]] (the centroid matrix rides
    * codegen as one object), the fused IVF search, and the two-level
    * nested assignment with its agreement against the flat argmax on a
    * uniform and a planted-cluster corpus. `rows` is fixed for the
    * command line; tests pass a smaller corpus. */
  def cells(c: Ctx, rows: Long = 200000L): Unit = {
    val literalCap = 5000
    val emb = persisted(Synth.embeddings(c.spark, rows))
    for (nCells <- c.sizes(707, 2000, 5000, 10000, 20000).map(_.toInt)) {
      val cents = Similarity.lowestIdCentroids(emb, "vec_id", "embedding", nCells)
      val tFused = time(mat(emb.select(col("vec_id"),
        CellArgmax(col("embedding"), cents).as("cell"))))
      emit("assign_fused", "vecs" -> rows, "cells" -> nCells, "sec" -> Fixed(tFused, 2))
      if (nCells <= literalCap) {
        val tLit = time(mat(emb.select(col("vec_id"),
          Similarity.cellOfSpec(col("embedding"), cents).as("cell"))))
        emit("assign_literal", "vecs" -> rows, "cells" -> nCells, "sec" -> Fixed(tLit, 2))
      } else emit("assign_literal", "vecs" -> rows, "cells" -> nCells, "sec" -> None,
        "skipped" -> s"literal plan beyond $literalCap cells")
      // the full fused search: probes + broadcast join + top-k
      val nProbe = math.max(2, nCells / 100)
      val tSearch = time(mat(Similarity.knnIvfWith(emb, "vec_id", "embedding",
        queries, cents, nProbe = nProbe)))
      emit("ivf_search_fused", "vecs" -> rows, "cells" -> nCells, "nprobe" -> nProbe,
        "sec" -> Fixed(tSearch, 2))
      for ((corpusName, corpus) <- Seq(
          "uniform" -> emb,
          "clustered" -> persisted(Synth.clustered(c.spark, rows, nCells / 4)))) {
        val ccents = if (corpusName == "uniform") cents
          else Similarity.lowestIdCentroids(corpus, "vec_id", "embedding", nCells)
        val (tTrain2, (supers, cellsW)) = timed(Similarity.trainTwoLevel(ccents))
        val flatDf = persisted(corpus.select(col("vec_id"),
          CellArgmax(col("embedding"), ccents).as("flat")))
        for (w <- Seq(2, 4)) {
          val (tNested, nested) = timedPersist(corpus.select(col("vec_id"),
            Similarity.cellOfTwoLevel(col("embedding"), supers, cellsW, w).as("cell")))
          val agree = nested.join(flatDf, "vec_id")
            .agg(sum((col("cell") === col("flat")).cast("long")), count(lit(1))).head()
          nested.unpersist(false)
          emit("assign_two_level", "corpus" -> corpusName, "vecs" -> rows, "cells" -> nCells,
            "supers" -> supers.length, "w" -> w, "train_sec" -> Fixed(tTrain2, 2),
            "sec" -> Fixed(tNested, 2),
            "agree" -> Fixed(agree.getLong(0).toDouble / agree.getLong(1), 4))
        }
        flatDf.unpersist(false)
        if (corpusName == "clustered") corpus.unpersist(false)
      }
    }
    emb.unpersist(false)
  }

  /** Partitions a plan's file scans of `pathTag` read, through AQE. */
  private def scanPartitions(df: DataFrame, pathTag: String): Long = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
    }.flatten
    scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(pathTag)))
      .map(_.metrics("numPartitions").value).sum
  }

  /** The p128/p129 deployment at miner scale: train a sqrt-rule coarse
    * quantizer + residual PQ (m=16/k=256) on [[Synth.clustered]], write
    * the cell-partitioned codes store (one file per cell), then search
    * it with static partition pruning (partitions read = probed cells,
    * scan fraction ≈ nProbe/nCells) and re-rank exactly. Recall is
    * quoted beside its nProbe ceiling: the share of exact neighbors
    * whose cell is probed at all. */
  def deployAnn(c: Ctx): Unit =
    for (n <- c.sizes(1000000L, 10000000L)) {
      val spark = c.spark
      val nCells = Adaptive.ivfCells(n)
      val emb = persisted(Synth.clustered(spark, n, nCells))
      val dir = tempDir("graft-deploy-ann") + "/codes_index"
      val (tTrain, (cents, cb)) = timed {
        val cents = Similarity.lowestIdCentroids(emb, "vec_id", "embedding", nCells)
        (cents, ProductQuantizer.trainResidualCodebooks(
          emb, "vec_id", "embedding", cents, m = 16, k = 256))
      }
      emit("deploy_ann_train", "vecs" -> n, "cells" -> nCells, "sec" -> Fixed(tTrain, 2),
        "m" -> 16, "k" -> 256)
      // one keyed exchange of the 16 B/vector codes → one file per cell
      val write = measured(spark) {
        ProductQuantizer.writeCellPartitionedIndex(
          ProductQuantizer.residualCodesIndex(emb, "vec_id", "embedding", cents, cb)
            .repartition(col("cell")), dir)
      }
      def parquetFiles(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(parquetFiles).sum
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      emit("deploy_ann_index_write", Seq("vecs" -> n, "cells" -> nCells,
        "sec" -> Fixed(write.sec, 2), "files" -> parquetFiles(new java.io.File(dir))) ++
        write.snap.fields: _*)
      // kShort = 100 for the re-rank below; the shortlist stays
      // unpersisted so its scan metrics live on the executed plan, and is
      // collected (count() would run a separate execution)
      val qs = persisted(emb.filter(queries)
        .select(col("vec_id").cast("long").as("query_id"), col("embedding").as("qe")))
      val shortlist = ProductQuantizer.searchPersistedIndexLut(
        spark, dir, qs, cents, cb, k = 100, nProbe = 2)
      val tSearch = time(shortlist.collect())
      val partsRead = scanPartitions(shortlist, "codes_index")
      emit("deploy_ann_search", "vecs" -> n, "cells" -> nCells, "sec" -> Fixed(tSearch, 2),
        "nprobe" -> 2, "partitions_read" -> partsRead,
        "scan_fraction" -> Fixed(partsRead.toDouble / nCells, 4))
      val (tRerank, reranked) = timedPersist(ProductQuantizer.rerankExact(
        shortlist, emb, "vec_id", "embedding", qs, k = 5))
      val exact = persisted(Similarity.knnBruteForce(emb, "vec_id", "embedding", queries))
      val probed = qs.select(col("query_id"),
        explode(Similarity.probeCellsOf(col("qe"), cents, 2)).as("cell"))
      val ceiling = emb
        .join(broadcast(exact.select(col("query_id"), col("neighbor_id").as("vec_id"))),
          Seq("vec_id"))
        .select(col("query_id"), col("vec_id"), CellArgmax(col("embedding"), cents).as("cell"))
        .join(broadcast(probed), Seq("query_id", "cell"), "left_semi")
        .count().toDouble / exact.count()
      emit("deploy_ann_rerank", "vecs" -> n, "sec" -> Fixed(tRerank, 2),
        "recall_shortlist" -> Fixed(recall(exact, shortlist), 3),
        "recall_rerank" -> Fixed(recall(exact, reranked), 3),
        "recall_ceiling_nprobe2" -> Fixed(ceiling, 3))
      Seq(qs, reranked, exact, emb).foreach(_.unpersist(false))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir).getParentFile)
    }
}
