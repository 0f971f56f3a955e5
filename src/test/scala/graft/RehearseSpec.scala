package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.Rehearse.Ctx

/** Every [[Rehearse]] rung runs to completion at its smallest size and
  * prints the record lines bench_records/ quotes: the same `op` names
  * with the same keys in the same order. The soak needs ≥ 64 batches for
  * its flat-wall windows, so its checks are pinned on synthetic inputs
  * instead. */
class RehearseSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val snap = "tasks,task_med_ms,task_p99_ms,task_max_ms,shuf_write_mb,shuf_read_mb," +
    "spill_disk_mb,spill_mem_mb"

  /** Run `rung` in the suite's session; its output lines. */
  private def run(rung: String, args: String*)(env: (String, String)*): Seq[String] = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out) {
      Rehearse.rungs.find(_.name == rung).get.run(Ctx(spark, args, env.toMap))
    }
    out.toString("UTF-8").split("\n").toSeq
  }

  /** op → the distinct key lists (after "op") its records carry. */
  private def keysByOp(lines: Seq[String]): Map[String, Set[String]] =
    lines.filter(_.startsWith("{\"op\"")).map { l =>
      val names = mapper.readTree(l).fieldNames().asScala.toSeq
      mapper.readTree(l).get("op").asText() -> names.tail.mkString(",")
    }.groupMap(_._1)(_._2).map { case (op, ks) => op -> ks.toSet }

  private def expect(rung: String, args: String*)(ops: (String, String)*) =
    (rung, args, ops.map { case (op, ks) => op -> Set(ks.replace("$snap", snap)) }.toMap)

  private val cases = Seq(
    expect("windows", "300")(
      "trailing_window" -> "rows,ranged_sec,naive_sec",
      "percentiles" -> "rows,bucketed_sec,naive_sec"),
    expect("cc", "500", "1")(
      "dedup_groups_cc" -> "edges,rep,sec,gc_sec,rounds,$snap"),
    // the held-out set is the first 30 of the 300 docs, so docs reach the
    // split; at this size they hash to train and val, none to test
    expect("funnel", "300")(Seq("exact_dedup", "keeper_join", "simhash_pairs", "cc_members",
      "canonical_antijoin", "decontam_scrub", "pii_scrub", "quality_gate", "mixture_sample")
      .map(s => s"funnel_$s" -> "corpus,docs,sec,rows,$snap") :+
      ("funnel_split" -> "corpus,docs,sec,train,val,$snap"): _*),
    expect("skew", "300")(("skew_corpus" -> "docs,s,hottest_token_share") +:
      Seq("span_dedup", "scoped_dedup", "winnowing", "ngram_jaccard")
        .map(s => s"skew_$s" -> "docs,s,sec,p99_over_median,$snap"): _*),
    expect("buckets", "300")(
      "bucket_hist" -> "docs,corpus,log2_m,n_buckets,rows,probe,probe_share",
      "bucket_top10" -> "docs,top_m,probe_total",
      "bucket_parts" -> "docs,n_parts,probe_min,probe_med,probe_max,max_over_med"),
    expect("packing", "300")(
      "semantic_packing_funnel" -> "rows,sec", "semantic_packing_two_level" -> "rows,sec"),
    expect("bpe", "30")(
      "bpe_vocab" -> "n_docs,n_vocab,collect_sec",
      "bpe_train_local" -> "n_merges,trained,sec",
      "bpe_apply_fused" -> "n_merges,sec",
      "bpe_apply_chain" -> "n_merges,sec",
      "bpe_train_distributed" -> "n_merges,sec,sec_per_merge"),
    expect("ann", "300")(
      "knn_bruteforce" -> "vecs,sec,recall",
      "knn_lsh" -> "vecs,sec,recall",
      "lsh_occupancy" -> "vecs,planes,buckets_hit,max_bucket,avg_bucket",
      "knn_ivf_auto" -> "vecs,sec,recall",
      "knn_lsh_multi_auto" -> "vecs,sec,recall,tables,planes_per_table",
      "pq_train" -> "vecs,sec",
      "pq_encode" -> "vecs,sec",
      "knn_pq_adc" -> "vecs,sec,recall",
      "knn_ivfpq" -> "vecs,sec,recall,cells,nprobe",
      "pq_index_build" -> "vecs,sec",
      "pq_index_search" -> "vecs,sec,recall,cells,nprobe",
      "pqr_codes_index_build" -> "vecs,sec,m,k",
      "pqr_lut_search" -> "vecs,sec,recall,m,k,cells,nprobe",
      "pqr_decode_index_build" -> "vecs,sec,m,k",
      "pqr_decode_search" -> "vecs,sec,recall,m,k,cells,nprobe",
      "pqr_codes_index_build_256" -> "vecs,sec,m,k",
      "pqr_lut_search_256" -> "vecs,sec,recall,m,k,cells,nprobe",
      "pqr_rerank_256" -> "vecs,sec,recall,kshort,m,k,cells,nprobe"),
    expect("neardup", "300")(
      ("neardup_occupancy" -> "vecs,mode,planes,tables,buckets_hit,max_bucket,over_cap,rows_stranded,cap") +:
      Seq("fixed4", "auto", "auto8")
        .map(m => s"neardup_$m" -> "vecs,sec,planes,tables,pairs,planted,planted_recall"): _*),
    expect("deploy-ann", "500")(
      "deploy_ann_train" -> "vecs,cells,sec,m,k",
      "deploy_ann_index_write" -> "vecs,cells,sec,files,$snap",
      "deploy_ann_search" -> "vecs,cells,sec,nprobe,partitions_read,scan_fraction",
      "deploy_ann_rerank" -> "vecs,sec,recall_shortlist,recall_rerank,recall_ceiling_nprobe2"),
    expect("stream-state", "2", "40")(
      "span_dedup_stream_compute" -> "batch,trigger_ms",
      "span_dedup_stream_state" -> "batch,kind,rows_written,state_bytes,full_rewrite_rows",
      "span_dedup_stream" -> "batches,docs_per_batch,seen_keys,wall_sec",
      "dedup_group_stream_compute" -> "batch,trigger_ms",
      "dedup_group_stream_state" -> "batch,kind,rows_written,full_rewrite_rows",
      "dedup_group_stream" -> "batches,edges_per_batch,wall_sec"),
    expect("composed", "2", "40", "2")(
      "composed_stream_dedup" -> "batch,trigger_ms",
      "composed_stream_gate_mix" -> "batch,trigger_ms",
      "composed_stream" -> ("batches,docs_per_batch,seen_keys,budget_per_source,kept_rows," +
        "src0,src1,src2,src3,src4,dedup_wall_sec,gate_mix_wall_sec,end_to_end_sec")))

  private def graftTemp(): Set[String] =
    new java.io.File(System.getProperty("java.io.tmpdir")).list().filter(_.startsWith("graft-")).toSet

  for ((rung, args, ops) <- cases)
    s"Rehearse $rung" should s"print its records at its smallest size (${args.mkString(" ")})" in {
      val before = graftTemp()
      keysByOp(run(rung, args: _*)()) shouldBe ops
      // the stream rungs delete their chunk, state, checkpoint and output dirs
      if (Set("stream-state", "composed")(rung)) graftTemp() -- before shouldBe empty
    }

  "Rehearse corpus" should "print its per-op records and honour SPARK_GRAFT_OPS and SPARK_GRAFT_CORPUS" in {
    val ops = Seq("exact_dedup", "minhash_neardup", "ngram_jaccard_df64",
      "ngram_jaccard_df64_prefix", "sequence_packing", "span_dedup", "span_scrub",
      "bigram_novelty", "lm_surprisal", "winnowing_pairs", "scoped_dedup",
      "group_representative")
    val lines = run("corpus", "100")(
      "SPARK_GRAFT_OPS" -> ops.mkString(","), "SPARK_GRAFT_CORPUS" -> "zipf50k")
    keysByOp(lines) shouldBe ops.map(_ -> Set("corpus,docs,sec")).toMap
    lines.filter(_.startsWith("{")).foreach(_ should include("\"corpus\":\"zipf50k\",\"docs\":100,"))
  }

  it should "run its CC and as-of blocks on the default ladder only" in {
    run("corpus", "100")("SPARK_GRAFT_OPS" -> "dedup_groups_cc,asof_ranged")
      .filter(_.startsWith("{")) shouldBe empty
  }

  "Rehearse cells" should "print assignment, search and two-level records per cell count" in {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(AnnRungs.cells(Ctx(spark, Seq("8"), Map.empty), rows = 2000L))
    keysByOp(out.toString("UTF-8").split("\n").toSeq) shouldBe Map(
      "assign_fused" -> Set("vecs,cells,sec"),
      "assign_literal" -> Set("vecs,cells,sec"),
      "ivf_search_fused" -> Set("vecs,cells,nprobe,sec"),
      "assign_two_level" -> Set("corpus,vecs,cells,supers,w,train_sec,sec,agree"))
  }

  "Rehearse.rungs" should "name every rung once and list each in the usage table" in {
    val names = Rehearse.rungs.map(_.name)
    names.distinct shouldBe names
    names.size shouldBe 15
    names.foreach(n => Rehearse.table should include(s"  $n "))
  }

  "the soak's flat-wall check" should "pass a flat series and fail one that grows with the state" in {
    val flat = (0L until 64L).map(id => id -> (100L + id % 3))
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(StreamRungs.checkFlatWall(flat, 8, 64, "twin"))
    out.toString("UTF-8") shouldBe
      """{"op":"twin_soak_wall","early_median_ms":101.0,"late_median_ms":101.0,"early":[9,35],"late":[36,62]}""" +
      "\nPASS twin flat wall: early=101ms late=101ms\n"
    StreamRungs.medianOver(Seq(1L -> 10L, 2L -> 30L, 3L -> 20L, 4L -> 40L), 1, 4) shouldBe 25.0
    an[IllegalArgumentException] should be thrownBy StreamRungs.medianOver(flat, 100, 200)
    val growing = (0L until 64L).map(id => id -> id * id)
    an[AssertionError] should be thrownBy
      Console.withOut(new ByteArrayOutputStream())(StreamRungs.checkFlatWall(growing, 8, 64, "twin"))
  }

  "the soak's state-bounds check" should "hold a pruned chain and fail on unbounded read fan-in" in {
    def layout(names: String*): String = {
      val root = tempDir("rehearse-state")
      names.foreach { n =>
        val d: Path = Files.createDirectories(root.resolve(n))
        Files.write(d.resolve("_SUCCESS"), Array.emptyByteArray)
        Files.write(d.resolve("part-0.parquet"), Array[Byte](1))
      }
      root.toString
    }
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(StreamRungs.checkStateBounds(spark,
      layout("c9", "d10", "d11", "c12", "d13"), 2, "twin"))
    out.toString("UTF-8") shouldBe
      """{"op":"twin_soak_state","dirs":5,"files":10,"read_fan_in":2}""" +
      "\nPASS twin state bounds: dirs=5 <= 9, fan-in=2 <= 3\n"
    an[AssertionError] should be thrownBy Console.withOut(new ByteArrayOutputStream())(
      StreamRungs.checkStateBounds(spark, layout("c9", "d10", "d11", "d12"), 2, "twin"))
    a[RuntimeException] should be thrownBy Console.withOut(new ByteArrayOutputStream())(
      StreamRungs.checkStateBounds(spark, layout("d10", "d11"), 2, "twin"))
  }
}
