package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Rehearse._
import graft.streaming.{DedupGroupStream, MixtureSampleStream, SpanDedupStream,
  StreamingConf, VersionedState}

/** The [[Rehearse]] rungs over the versioned-state streaming twins
  * ([[SpanDedupStream]], [[DedupGroupStream]]) fed from id-ordered JSON
  * chunks, one file per micro-batch: the check of Structured Streaming's
  * recovery contract (replay from the offset log into idempotent state)
  * at soak length. */
object StreamRungs {

  /** Per micro-batch, the rows the state layer wrote (the delta or
    * compact) next to what a full rewrite of the cumulative table would
    * have written, for span dedup over [[Synth.corpus]] and CC over
    * [[Synth.edges]] (10 edges per doc) with flat novelty: state writes
    * should track batch novelty, not corpus history. The third argument
    * sets the span twin's compaction cadence; unset suppresses
    * compaction, so every version is a pure novelty delta and the
    * full-rewrite baseline is exact (with compaction it is omitted, as
    * pruned versions would undercount it). The CC twin runs the
    * production cadence: with compaction suppressed its per-batch reads
    * would measure the delta-chain length. */
  def streamState(c: Ctx): Unit = cleaned {
    val spark = c.spark
    val batches = c.arg(0, 12).toInt
    val docsPerBatch = c.arg(1, 2000).toInt
    val compactEvery = c.arg(2, -1).toInt
    val docs = jsonChunks(Synth.corpus(spark, batches.toLong * docsPerBatch),
      docsPerBatch, "graft-ssb-docs", "doc_id")
    val stateDir = tempDir("graft-ssb-state")
    val (wall, q) = timed(awaitOrAbort(
      SpanDedupStream.attach(docs(), "doc_id", "text", tempDir("graft-ssb-out"),
        stateDir, tempDir("graft-ssb-ckpt"),
        compactEvery = if (compactEvery > 0) compactEvery else batches + 1),
      "SpanDedupStream rehearsal query"))
    batchDurations(q).foreach { case (id, ms) =>
      emit("span_dedup_stream_compute", "batch" -> id, "trigger_ms" -> ms)
    }
    var cumulative = 0L
    VersionedState.versions(spark, stateDir).sortBy(_.id).foreach { v =>
      val rows = spark.read.parquet(v.path.toString).count()
      cumulative += rows
      val fs = v.path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      emit("span_dedup_stream_state", "batch" -> v.id,
        "kind" -> (if (v.compact) "compact" else "delta"), "rows_written" -> rows,
        "state_bytes" -> fs.listStatus(v.path).filter(_.isFile).map(_.getLen).sum,
        if (compactEvery > 0) "compact_every" -> compactEvery
        else "full_rewrite_rows" -> cumulative)
    }
    emit("span_dedup_stream", "batches" -> batches, "docs_per_batch" -> docsPerBatch,
      "seen_keys" -> VersionedState.readSet(spark, stateDir).map(_.count()).getOrElse(0L),
      "wall_sec" -> Fixed(wall, 2))

    val edgesPerBatch = docsPerBatch * 10
    val edges = jsonChunks(Synth.edges(spark, batches.toLong * edgesPerBatch),
      edgesPerBatch, "graft-ssb-edges", "doc_a", "doc_b")
    val eState = tempDir("graft-ssb-estate")
    val (eWall, eq) = timed(awaitOrAbort(
      DedupGroupStream.attach(edges(), "doc_a", "doc_b", eState, tempDir("graft-ssb-eckpt")),
      "DedupGroupStream rehearsal query"))
    batchDurations(eq).foreach { case (id, ms) =>
      emit("dedup_group_stream_compute", "batch" -> id, "trigger_ms" -> ms)
    }
    VersionedState.versions(spark, eState).sortBy(_.id).foreach { v =>
      // a full rewrite writes the whole assignment up to and including v
      emit("dedup_group_stream_state", "batch" -> v.id,
        "kind" -> (if (v.compact) "compact" else "delta"),
        "rows_written" -> spark.read.parquet(v.path.toString).count(),
        "full_rewrite_rows" ->
          VersionedState.readKeyed(spark, eState, "doc_id", Some(v.id + 1)).get.count())
    }
    emit("dedup_group_stream", "batches" -> batches, "edges_per_batch" -> edgesPerBatch,
      "wall_sec" -> Fixed(eWall, 2))
  }

  /** Median per-batch ms over batch ids in [lo, hi]. */
  private[graft] def medianOver(durs: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val in = durs.collect { case (id, ms) if id >= lo && id <= hi => ms }.sorted
    require(in.nonEmpty, s"no batches in [$lo,$hi]")
    if (in.length % 2 == 1) in(in.length / 2).toDouble
    else (in(in.length / 2 - 1) + in(in.length / 2)) / 2.0
  }

  /** Flat wall: the median per-batch ms over the last three full
    * compaction cycles stays within 2× (+250 ms) of the first three after
    * the anchor cycle, while the state grows. Windows are aligned to
    * cycles so each sees the same chain-length mix. */
  private[graft] def checkFlatWall(durs: Seq[(Long, Long)], compactEvery: Int,
                                   batches: Int, twin: String): Unit = {
    val cycle = compactEvery + 1
    val earlyLo = cycle.toLong; val earlyHi = earlyLo + 3L * cycle - 1
    val lateHi = batches.toLong - 2; val lateLo = lateHi - 3L * cycle + 1
    val early = medianOver(durs, earlyLo, earlyHi)
    val late = medianOver(durs, lateLo, lateHi)
    emit(s"${twin}_soak_wall", "early_median_ms" -> early, "late_median_ms" -> late,
      "early" -> Seq(earlyLo, earlyHi), "late" -> Seq(lateLo, lateHi))
    assert(late <= 2.0 * early + 250,
      s"$twin: late median ${late}ms not flat vs early ${early}ms")
    println(f"PASS $twin flat wall: early=$early%.0fms late=$late%.0fms")
  }

  /** Bounded state: surviving version dirs stay within ~2 compaction
    * windows plus the in-flight chain (prune fires, forever), and a read
    * of the current state resolves at most compactEvery deltas + 1
    * compact. */
  private[graft] def checkStateBounds(spark: SparkSession, stateDir: String,
                                      compactEvery: Int, twin: String): Unit = {
    val vs = VersionedState.versions(spark, stateDir)
    val dirs = new java.io.File(stateDir).listFiles().toSeq
      .filter(_.isDirectory).map(_.getName).sorted
    val dirBound = 3 * (compactEvery + 1)
    assert(dirs.length <= dirBound,
      s"$twin: ${dirs.length} state dirs exceed bound $dirBound: $dirs")
    val newestCompact = vs.find(_.compact)
      .getOrElse(sys.error(s"$twin: no compact survived")).id
    val fanIn = 1 + vs.count(v => !v.compact && v.id > newestCompact)
    assert(fanIn <= compactEvery + 1,
      s"$twin: read fan-in $fanIn exceeds ${compactEvery + 1}")
    val files = dirs.map(d =>
      new java.io.File(s"$stateDir/$d").listFiles().count(_.isFile)).sum
    emit(s"${twin}_soak_state", "dirs" -> dirs.length, "files" -> files, "read_fan_in" -> fanIn)
    println(s"PASS $twin state bounds: dirs=${dirs.length} <= $dirBound, " +
      s"fan-in=$fanIn <= ${compactEvery + 1}")
  }

  /** Delete the newest checkpoint commit — the crash window where state
    * landed but the commit did not — so the restarted query replays that
    * batch. Returns its id. */
  private def dropNewestCommit(ckpt: String): Long = {
    val dir = new java.io.File(s"$ckpt/commits")
    val ids = dir.listFiles().filter(_.isFile).flatMap(_.getName.toLongOption).sorted
    require(ids.nonEmpty, s"no commits under $ckpt")
    require(new java.io.File(dir, ids.last.toString).delete(),
      s"could not delete commit ${ids.last}")
    ids.last
  }

  /** 100+ micro-batches per twin (a dozen-plus compaction + prune
    * cycles) with a forced mid-stream replay, HARD-asserting flat
    * per-batch wall, bounded state dirs and read fan-in, and that the
    * replayed batch converges to the batch operator's exact answer over
    * all data. A violation throws, so the rung exits non-zero. The
    * flat-wall windows need at least 64 batches. */
  def soak(c: Ctx): Unit = cleaned {
    val spark = c.spark
    val batches = c.arg(0, 120).toInt
    val edgesPerBatch = c.arg(1, 5000).toInt
    val docsPerBatch = c.arg(2, 300).toInt
    val compactEvery = 8

    def run(twin: String, perBatchKey: String, perBatch: Int)(
        start: (String, String) => StreamingQuery): (String, Long) = {
      val state = tempDir(s"graft-soak-$twin-state")
      val ckpt = tempDir(s"graft-soak-$twin-ckpt")
      val (wall, q) = timed(awaitOrAbort(start(state, ckpt), s"$twin soak"))
      val durs = batchDurations(q)
      durs.foreach { case (id, ms) =>
        emit(s"${twin}_soak_compute", "batch" -> id, "trigger_ms" -> ms)
      }
      emit(s"${twin}_soak", "batches" -> batches, perBatchKey -> perBatch,
        "wall_sec" -> Fixed(wall, 1))
      checkFlatWall(durs, compactEvery, batches, twin)
      checkStateBounds(spark, state, compactEvery, twin)
      val replayed = dropNewestCommit(ckpt)
      awaitOrAbort(start(state, ckpt), s"$twin replay")
      emit(s"${twin}_soak_replay", "batch" -> replayed)
      (state, replayed)
    }
    def assertSame(twin: String, got: DataFrame, want: DataFrame): Long = {
      val missing = want.exceptAll(got).count()
      val extra = got.exceptAll(want).count()
      assert(missing == 0 && extra == 0,
        s"$twin: stream/batch divergence missing=$missing extra=$extra")
      got.count()
    }

    val allEdges = Synth.edges(spark, batches.toLong * edgesPerBatch).persist()
    val edges = jsonChunks(allEdges, edgesPerBatch, "graft-soak-edges", "doc_a", "doc_b")
    val (eState, eReplayed) = run("dedup_group", "edges_per_batch", edgesPerBatch) { (state, ckpt) =>
      DedupGroupStream.attach(edges(), "doc_a", "doc_b", state, ckpt, compactEvery = compactEvery)
    }
    val n = assertSame("dedup_group", VersionedState.readKeyed(spark, eState, "doc_id").get,
      graft.text.TextDedup.duplicateGroups(allEdges, "doc_a", "doc_b"))
    println(s"PASS dedup_group replay + parity: $n assignments == batch CC, " +
      s"replayed batch $eReplayed idempotent")
    allEdges.unpersist(false)

    val corpus = Synth.corpus(spark, batches.toLong * docsPerBatch).persist()
    val docs = jsonChunks(corpus, docsPerBatch, "graft-soak-docs", "doc_id")
    val outDir = tempDir("graft-soak-out")
    val (_, sReplayed) = run("span_dedup", "docs_per_batch", docsPerBatch) { (state, ckpt) =>
      SpanDedupStream.attach(docs(), "doc_id", "text", outDir, state, ckpt,
        compactEvery = compactEvery)
    }
    val d = assertSame("span_dedup", spark.read.parquet(outDir).drop("batch"),
      graft.text.TextDedup.spanDedup(corpus, "doc_id", "text"))
    println(s"PASS span_dedup replay + parity: $d docs == batch spanDedup, " +
      s"replayed batch $sReplayed idempotent")
    corpus.unpersist(false)
    println("SOAK COMPLETE: all bounds held")
  }

  /** The composed streaming funnel as a deployment wires it: stage 1
    * (span dedup with VersionedState novelty sets) lands its cleaned
    * output on the lake; stage 2 tails it as a file stream through the
    * stateless Gopher gate into the keyed stateful mixture planner
    * ([[MixtureSampleStream]]) in one query. The lake handoff is the
    * composition contract: either stage restarts without the other. Per
    * batch trigger ms for both queries: does per-batch cost stay flat
    * while the dedup state grows to ~10M keys (`composed 16 8000 8`)? */
  def composed(c: Ctx): Unit = cleaned {
    val spark = c.spark
    val batches = c.arg(0, 16).toInt
    val docsPerBatch = c.arg(1, 8000).toInt
    val compactEvery = c.arg(2, 8).toInt
    val docs = jsonChunks(Synth.corpus(spark, batches.toLong * docsPerBatch),
      docsPerBatch, "graft-csb-docs", "doc_id")
    val outDir = tempDir("graft-csb-clean")
    val stateDir = tempDir("graft-csb-state")
    val (wall1, q1) = timed(awaitOrAbort(
      SpanDedupStream.attach(docs(), "doc_id", "text", outDir, stateDir,
        tempDir("graft-csb-ckpt1"), compactEvery = compactEvery),
      "composed stage 1 (span dedup)"))
    batchDurations(q1).foreach { case (id, ms) =>
      emit("composed_stream_dedup", "batch" -> id, "trigger_ms" -> ms)
    }
    val seenKeys = VersionedState.readSet(spark, stateDir).map(_.count()).getOrElse(0L)

    // stage 2: the Gopher gate inline (repetitionStats' counters and
    // thresholds; its public form re-sorts by id, which a streaming plan
    // cannot), then the mixture planner; the budget bites at ~40% of each
    // source's token mass
    val cleaned = spark.readStream
      .schema("doc_id LONG, n_tokens LONG, n_dup_spans LONG, n_removed LONG, " +
        "cleaned_text STRING, batch LONG")
      .option("maxFilesPerTrigger", 64).option("basePath", outDir)
      .parquet(outDir + "/batch=*")
    val budget = batches.toLong * docsPerBatch * 100L / 5L * 2L / 5L
    val st = graft.functions.CurationStats(
      graft.functions.TextPrims.normText(col("cleaned_text")))
    val g0 = cleaned.select(col("doc_id").as("id"), col("n_tokens").as("nt_clean"), st.as("cs"))
    val topRatio = col("cs.top_cnt").cast("double") / col("cs.n_tokens")
    val dupFrac = when(col("cs.n_bigrams") > 0L,
      (col("cs.n_bigrams") - col("cs.n_uniq_bigrams")).cast("double") /
        col("cs.n_bigrams")).otherwise(lit(0.0))
    val symRatio = col("cs.n_sym").cast("double") / col("cs.n_chars")
    val gated = g0
      .filter(topRatio <= 0.2 && dupFrac <= 0.3 && symRatio <= 0.2)
      .select(col("id"), concat(lit("src"), pmod(col("id"), lit(5))).as("source"),
        col("nt_clean").as("n_tokens"))
    val mixOut = tempDir("graft-csb-mix")
    val (wall2, q2) = timed(awaitOrAbort(
      StreamingConf.writeStream(
          MixtureSampleStream.sampled(gated, "id", "source", "n_tokens", budget).toDF())
        .outputMode("append")
        .option("checkpointLocation", tempDir("graft-csb-ckpt2"))
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", mixOut).start(),
      "composed stage 2 (quality gate + mixture)"))
    batchDurations(q2).foreach { case (id, ms) =>
      emit("composed_stream_gate_mix", "batch" -> id, "trigger_ms" -> ms)
    }
    val mixed = spark.read.parquet(mixOut)
    val keptPerKey = mixed.groupBy("key")
      .agg(count(lit(1)).as("n"), max("cum_weight").as("cum"))
      .orderBy("key").collect()
      .map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2)))
    emit("composed_stream", Seq("batches" -> batches, "docs_per_batch" -> docsPerBatch,
      "seen_keys" -> seenKeys, "budget_per_source" -> budget, "kept_rows" -> mixed.count()) ++
      keptPerKey ++ Seq("dedup_wall_sec" -> Fixed(wall1, 2), "gate_mix_wall_sec" -> Fixed(wall2, 2),
      "end_to_end_sec" -> Fixed(wall1 + wall2, 2)): _*)
  }
}
