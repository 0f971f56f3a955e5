package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.{MixtureSampleStream, SpanDedupStream, VersionedState}

/** The composed streaming funnel (round-16 verdict item 7): the r15
  * state soak exercised the dedup and CC twins in ISOLATION; production
  * runs the stages as one pipeline. This main composes them the way a
  * deployment actually wires streams — stage 1 (stateful span dedup,
  * VersionedState novelty sets) lands its cleaned output on the lake,
  * and stage 2 tails that output as a file stream running the stateless
  * quality gate ([[graft.text.TextCuration.repetitionStats]] — row-local
  * codegen, legal before a stateful operator) INTO the keyed stateful
  * mixture planner ([[MixtureSampleStream]], flatMapGroupsWithState) in
  * one streaming query. The lake handoff is the composition contract:
  * stage boundaries are replayable parquet, so either stage can restart
  * without the other.
  *
  * The question under test: does PER-BATCH cost stay flat across the
  * 16-batch run while the dedup state grows to ~10M keys and the
  * mixture state accumulates — i.e. does composing the stages keep each
  * stage's (measured-flat-in-isolation) latency curve, or does the
  * handoff introduce superlinear cost. Per-batch trigger ms for BOTH
  * queries + cumulative end-to-end lag land as JSON lines.
  *
  * Scale config mirrors the r15 soak: `sbt "runMain
  * graft.ComposedStreamBench 16 8000 8"` reaches 10M span keys.
  */
object ComposedStreamBench {

  private def awaitOrAbort(q: org.apache.spark.sql.streaming.StreamingQuery,
                           what: String, timeoutMs: Long = 1800000L): Unit = {
    val finished = q.awaitTermination(timeoutMs)
    if (!finished || q.isActive) {
      q.stop()
      sys.error(s"$what did not terminate within ${timeoutMs / 1000}s")
    }
  }

  private def batchDurations(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Seq[(Long, Long)] =
    q.recentProgress.toSeq
      .map(p => p.batchId ->
        p.durationMs.getOrDefault("triggerExecution", -1L).longValue())
      .filter(_._1 >= 0).sortBy(_._1)

  def main(args: Array[String]): Unit = {
    val batches = args.headOption.map(_.toInt).getOrElse(16)
    val docsPerBatch = args.lift(1).map(_.toInt).getOrElse(8000)
    val compactEvery = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = DevBench.session()
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      (batches + 16).toString)

    // one id-ordered json file per micro-batch (the soak's source shape)
    val corpus = ScaleCorpusBench
      .synthCorpus(spark, batches.toLong * docsPerBatch)
    val srcDir = Files.createTempDirectory("graft-csb-src")
    val lines = corpus.orderBy("doc_id")
      .select(to_json(struct(col("doc_id"), col("text"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(docsPerBatch).zipWithIndex.foreach { case (ls, i) =>
      val f = srcDir.resolve(f"docs-$i%04d.json")
      Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(srcDir.toString)

    val outDir = Files.createTempDirectory("graft-csb-clean").toString
    val stateDir = Files.createTempDirectory("graft-csb-state").toString
    val ckpt1 = Files.createTempDirectory("graft-csb-ckpt1").toString

    // Stage 1: stateful span dedup → cleaned parquet on the lake.
    val t0 = System.nanoTime()
    val q1 = SpanDedupStream.attach(stream, "doc_id", "text", outDir,
      stateDir, ckpt1, compactEvery = compactEvery)
    awaitOrAbort(q1, "composed stage 1 (span dedup)")
    val wall1 = (System.nanoTime() - t0) / 1e9
    batchDurations(q1).foreach { case (id, ms) =>
      println(s"""{"op":"composed_stream_dedup","batch":$id,"trigger_ms":$ms}""")
    }
    val seenKeys = SpanDedupStream.latestState(spark, stateDir)
      .map(_.count()).getOrElse(0L)

    // Stage 2: tail the cleaned lake output — stateless quality gate →
    // keyed stateful mixture planning, ONE streaming query. Budget bites
    // at ~40% of each source's token mass.
    val cleanedSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_dup_spans",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_removed",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cleaned_text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("batch",
        org.apache.spark.sql.types.LongType)))
    val cleanedStream = spark.readStream.schema(cleanedSchema)
      .option("maxFilesPerTrigger", 64)
      .option("basePath", outDir)
      .parquet(outDir + "/batch=*")
    val budget = batches.toLong * docsPerBatch * 100L / 5L * 2L / 5L
    // the Gopher gate inline (repetitionStats' counters + thresholds —
    // its public form re-sorts by id, which a streaming plan can't):
    // one CurationStats codegen node, ratios + keep from its struct
    val st = graft.functions.CurationStats(
      graft.functions.TextPrims.normText(col("cleaned_text")))
    val g0 = cleanedStream.select(col("doc_id").as("id"),
      col("n_tokens").as("nt_clean"), st.as("cs"))
    val topRatio = col("cs.top_cnt").cast("double") / col("cs.n_tokens")
    val dupFrac = when(col("cs.n_bigrams") > 0L,
      (col("cs.n_bigrams") - col("cs.n_uniq_bigrams")).cast("double") /
        col("cs.n_bigrams")).otherwise(lit(0.0))
    val symRatio = col("cs.n_sym").cast("double") / col("cs.n_chars")
    val gated = g0
      .filter(topRatio <= 0.2 && dupFrac <= 0.3 && symRatio <= 0.2)
      .select(col("id"),
        concat(lit("src"), pmod(col("id"), lit(5))).as("source"),
        col("nt_clean").as("n_tokens"))
    val kept = MixtureSampleStream.sampled(
      gated, "id", "source", "n_tokens", budget)
    val mixOut = Files.createTempDirectory("graft-csb-mix").toString
    val ckpt2 = Files.createTempDirectory("graft-csb-ckpt2").toString
    val t1 = System.nanoTime()
    val q2 = graft.streaming.StreamingConf.writeStream(kept.toDF())
      .outputMode("append")
      .option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", mixOut)
      .start()
    awaitOrAbort(q2, "composed stage 2 (quality gate + mixture)")
    val wall2 = (System.nanoTime() - t1) / 1e9
    batchDurations(q2).foreach { case (id, ms) =>
      println(s"""{"op":"composed_stream_gate_mix","batch":$id,"trigger_ms":$ms}""")
    }
    val keptRows = spark.read.parquet(mixOut).count()
    val keptPerKey = spark.read.parquet(mixOut)
      .groupBy("key").agg(count(lit(1)).as("n"), max("cum_weight").as("cum"))
      .orderBy("key").collect()
      .map(r => s""""${r.getString(0)}":[${r.getLong(1)},${r.getLong(2)}]""")
      .mkString(",")
    println(s"""{"op":"composed_stream","batches":$batches,""" +
      s""""docs_per_batch":$docsPerBatch,"seen_keys":$seenKeys,""" +
      s""""budget_per_source":$budget,"kept_rows":$keptRows,$keptPerKey,""" +
      s""""dedup_wall_sec":${f"$wall1%.2f"},"gate_mix_wall_sec":${f"$wall2%.2f"},""" +
      s""""end_to_end_sec":${f"${wall1 + wall2}%.2f"}}""")
    spark.stop()
  }
}
