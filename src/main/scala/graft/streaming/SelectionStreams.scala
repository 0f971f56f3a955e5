package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import StreamingConf.{eachBatch, writeBatch}

/** Streaming twin of the p104 DSIR scorer
  * ([[graft.text.ImportanceSampler.dsirScore]]): score a document STREAM
  * against a FROZEN voted importance model — the split a production
  * pipeline actually runs (estimate the target/raw distributions once
  * offline, score the ingest stream forever). Scoring is per-document
  * given the model, so each micro-batch runs the exact batch scorer via
  * `foreachBatch` and writes one overwritten batch=<id> partition
  * (replay rewrites, never duplicates — readers drop the partition
  * column). The SELECTION half (top-k) deliberately has no streaming
  * twin: a global rank does not exist on an unbounded stream — real
  * deployments threshold the streamed importance instead, which is a
  * row-local filter on this output. Parity with batch dsirScore is
  * row-exact by construction and pinned by the replay test. */
object DsirScoreStream {
  def attach(docs: DataFrame, idCol: String, textCol: String,
             model: DataFrame, outDir: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      writeBatch(graft.text.ImportanceSampler.dsirScore(batch, idCol, textCol, model),
        outDir, batchId)
    }
}

/** Streaming twin of the p103 SemDeDup prune
  * ([[graft.ann.Similarity.semanticDedup]]): vectors arrive as a stream,
  * each is assigned to its cell from the FROZEN trained quantizer (a
  * row-local argmax — the quantizer trains offline, the p50/p103
  * convention), and a vector is kept iff no already-seen vector in its
  * cell sits at cosine ≥ `minSim`.
  *
  * State is the assigned-vector table (vec_id, cell, e) of everything
  * seen — a [[VersionedState]] parquet table (the [[ContainmentStream]]
  * shape: pruning needs the batch joined against all same-cell
  * predecessors, a per-batch distributed join, not a keyed emission).
  * Each batch appends only its OWN vectors as a delta (vectors are
  * immutable → deltas disjoint, reader unions without dedup), with a
  * full compact every `compactEvery` batches and superseded windows
  * pruned.
  *
  * Batch parity (pinned by the parity test): under id-ordered arrival
  * ACROSS micro-batches (the [[PackingStream]] contract), every
  * lower-id vector is already seen when a vector arrives, so the keep
  * decision is final at arrival and the cumulative stream output is
  * row-identical to batch `semanticDedup` over all vectors seen. */
object SemDedupStream {
  import graft.functions.AnnPrims

  private def stateSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cell", LongType),
    StructField("e", ArrayType(FloatType))))

  def attach(vecs: DataFrame, idCol: String, vecCol: String,
             cents: Array[(Long, Array[Float])],
             outDir: String, stateDir: String, checkpointDir: String,
             minSim: Double = 0.8,
             trigger: Trigger = Trigger.AvailableNow(),
             compactEvery: Int = 8): StreamingQuery =
    eachBatch(vecs, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      // row-local cell assignment against the frozen quantizer —
      // persisted because the pair join, the keep anti-join, and the
      // state write all consume it
      val assignedNew = graft.ann.Similarity
        .assignCells(batch, idCol, vecCol, cents)
        .persist()
      try {
        // a replayed batch reads its PREDECESSOR's state, never its own
        // failed attempt's delta (the SpanDedupStream rule)
        val seen = VersionedState.readSet(spark, stateDir, Some(batchId))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema))
        val all = seen.unionByName(assignedNew)
        // candidate pairs carry ids only; vectors rejoin by id
        val newCells = assignedNew.select(col("vec_id"), col("cell"))
        val pairs = all.select(col("vec_id").as("va"), col("cell"))
          .join(newCells.select(col("vec_id").as("vb"), col("cell")), Seq("cell"))
          .filter(col("va") < col("vb"))
          .select("va", "vb")
        val v = all.select(col("vec_id").as("vid"), col("e"))
        val dups = pairs
          .join(v.select(col("vid").as("va"), col("e").as("ea")), Seq("va"))
          .join(v.select(col("vid").as("vb"), col("e").as("eb")), Seq("vb"))
          .filter(AnnPrims.cosine(col("ea"), col("eb")) >= minSim)
          .select(col("vb").as("vec_id"))
        writeBatch(newCells.join(dups, Seq("vec_id"), "left_anti"), outDir, batchId)
        val delta = assignedNew.select("vec_id", "cell", "e")
        if (VersionedState.shouldCompact(spark, stateDir, batchId, compactEvery))
          VersionedState.write(seen.unionByName(delta), stateDir, batchId,
            compact = true)
        else
          VersionedState.write(delta, stateDir, batchId, compact = false)
      } finally assignedNew.unpersist(false)
      VersionedState.prune(spark, stateDir, batchId)
    }
}

/** Streaming twin of the p99/p107 quality scorer's SCORE half
  * ([[graft.text.QualityScorer.qualityScore]]): score a document stream
  * against a FROZEN [[graft.text.QualityScorer.qualityModel]] table — the
  * production split (train the classifier once offline, score the ingest
  * stream forever; retraining is a new frozen table, not stream state).
  * Scoring is per-document given the model, so each micro-batch runs the
  * exact batch scorer via `foreachBatch` into one overwritten batch=<id>
  * partition (replay rewrites, never duplicates — the [[DsirScoreStream]]
  * shape). Parity with batch qualityScore is row-exact by construction
  * and pinned by the replay test. */
object QualityScoreStream {
  def attach(docs: DataFrame, idCol: String, textCol: String,
             model: DataFrame, outDir: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      writeBatch(graft.text.QualityScorer.qualityScore(batch, idCol, textCol, model),
        outDir, batchId)
    }
}

/** Streaming twin of the p112 language-id scorer's SCORE half
  * ([[graft.text.LangClassifier.langScore]]): classify a document stream
  * against a FROZEN [[graft.text.LangClassifier.langVotedModel]] table —
  * the fastText-langid deployment split (train on the labeled corpus
  * once, classify the ingest stream forever). Per-document given the
  * model, so each micro-batch runs the exact batch scorer via
  * `foreachBatch` into one overwritten batch=<id> partition (the
  * [[QualityScoreStream]] shape); parity with batch langScore is
  * row-exact by construction and pinned by the replay test. */
object LangIdStream {
  def attach(docs: DataFrame, idCol: String, textCol: String,
             voted: DataFrame, outDir: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      writeBatch(graft.text.LangClassifier.langScore(batch, idCol, textCol, voted),
        outDir, batchId)
    }
}

/** Streaming twin of the p114 BPE tokenizer's APPLY half
  * ([[graft.text.BpeTokenizer.tokenize]]): tokenize a document stream
  * with a FROZEN merge table — the deployment split (train the merges
  * on the labeled corpus once, tokenize the ingest stream forever;
  * retraining is a new frozen table). Apply is row-local (an
  * nMerges-deep replace fold), so each micro-batch runs the exact batch
  * tokenizer via `foreachBatch` into one overwritten batch=<id>
  * partition; parity is row-exact by construction, pinned by the replay
  * test. */
object BpeTokenizeStream {
  def attach(docs: DataFrame, idCol: String, textCol: String,
             merges: Seq[graft.text.BpeTokenizer.Merge],
             outDir: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      writeBatch(graft.text.BpeTokenizer.tokenize(batch, idCol, textCol, merges),
        outDir, batchId)
    }
}

/** Streaming twin of the p131 Gopher repetition signals
  * ([[graft.text.TextStats.repetitionSignals]]): stateless row-local
  * scoring (one fused expression per document, no model, no state), so
  * each micro-batch scores independently and the union over batches
  * equals the batch run exactly — pinned by StreamingParitySpec. The
  * live-curation shape: score documents for repetition as they arrive,
  * before they ever reach the training mix. */
object RepetitionSignalsStream {
  def attach(docs: DataFrame, idCol: String, textCol: String,
             outDir: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      writeBatch(graft.text.TextStats.repetitionSignals(batch, idCol, textCol),
        outDir, batchId)
    }
}

/** Streaming twin of the p133 Gopher quality rules
  * ([[graft.text.TextStats.gopherQualityRules]]): stateless row-local
  * measures + threshold flags, so micro-batches score independently and
  * the drained union equals the batch run — the live-curation gate that
  * drops documents before they reach the training mix. */
object GopherQualityStream {
  def attach(docs: DataFrame, idCol: String, textCol: String,
             outDir: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      writeBatch(graft.text.TextStats.gopherQualityRules(batch, idCol, textCol),
        outDir, batchId)
    }
}

/** Streaming INGEST into the p128 cell-partitioned ANN store: encode a
  * vector stream against a FROZEN quantizer (coarse centroids +
  * residual codebooks trained offline) and append each micro-batch's
  * (vec_id, codes) rows into their cell= partition directories — the
  * continuous-ingest half of the deployment split whose read half is
  * [[graft.ann.ProductQuantizer.searchPersistedIndexLut]]. Encoding is
  * the same row-local fused projection as batch ingest. Each
  * micro-batch OVERWRITES its own `batch=<id>` partition (the house
  * twin contract): foreachBatch is at-least-once, so a replayed batch
  * rewrites its directory instead of appending duplicate codes rows —
  * a bare append would double-count vectors after a crash between the
  * write and the checkpoint commit. Readers discover `batch` and
  * `cell` as partition columns; cell pruning is unaffected, and a
  * search over the drained store equals batch ingest (parity test). */
object IndexIngestStream {
  def attach(vecs: DataFrame, idCol: String, vecCol: String,
             cents: Array[(Long, Array[Float])],
             cb: graft.ann.ProductQuantizer.Codebooks,
             indexPath: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(vecs, checkpointDir, trigger) { (batch, batchId) =>
      graft.ann.ProductQuantizer
        .residualCodesIndex(batch, idCol, vecCol, cents, cb)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$indexPath/batch=$batchId")
    }
}

/** Streaming twin of the p125 two-level assignment
  * ([[graft.ann.Similarity.cellOfTwoLevel]]): assign a vector stream
  * against a FROZEN two-level quantizer (superclusters + cell mapping
  * trained offline; the ingest stream is assigned forever — exactly the
  * index-ingest path a deployment's streaming writer runs before
  * appending to the cell-partitioned store). One row-local fused
  * expression per batch via `foreachBatch`; parity is row-exact by
  * construction, pinned by the replay test. */
object TwoLevelAssignStream {
  def attach(vecs: DataFrame, idCol: String, vecCol: String,
             supers: Array[(Long, Array[Float])],
             cells: Array[(Long, Long, Array[Float])], wSuper: Int,
             outDir: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(vecs, checkpointDir, trigger) { (batch, batchId) =>
      val assigned = batch.select(col(idCol).cast("long").as("vec_id"),
        graft.ann.Similarity.cellOfTwoLevel(col(vecCol), supers, cells, wSuper).as("cell"))
      writeBatch(assigned, outDir, batchId)
    }
}

/** Streaming twin of the p126 idf-weighted hashed embedding's SCORE half
  * ([[graft.text.TextStats.hashedEmbeddingIdfWith]]): embed a document
  * stream against a FROZEN idf vocabulary + document count — the
  * deployment split (df statistics come from the offline reference
  * corpus; the ingest stream is embedded against the frozen table, and
  * unseen tokens take the rarest weight). Row-local given the
  * vocabulary join, so each micro-batch runs the exact batch embedder
  * via `foreachBatch`; parity is row-exact by construction, pinned by
  * the replay test. */
object IdfEmbedStream {
  def attach(docs: DataFrame, idCol: String, textCol: String,
             vocab: DataFrame, nDocs: Long,
             outDir: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      writeBatch(graft.text.TextStats
        .hashedEmbeddingIdfWith(batch, idCol, textCol, vocab, nDocs), outDir, batchId)
    }
}

/** Streaming twin of the p108 Bloom probe's PROBE half
  * ([[graft.text.TextCuration.bloomSeenProbe]]): probe a document stream
  * against a FROZEN seen-position set — the crawl-frontier deployment
  * (the filter over yesterday's corpus is built offline and shipped to
  * every ingest worker; absorbing the stream into the filter is a state
  * update real deployments batch up separately). `seenPos` is the ≤mBits-
  * row distinct-position table and `seenFp` the distinct seen
  * fingerprints (both tiny, broadcast in every batch); output rows are
  * (id, maybe_seen, is_seen), one overwritten batch=<id> partition each.
  * Probing is per-document given the filter, so cumulative output is
  * row-exact batch parity by construction, pinned by the replay test. */
object BloomProbeStream {
  import graft.functions.TextPrims._

  def attach(docs: DataFrame, idCol: String, textCol: String,
             seenPos: DataFrame, seenFp: DataFrame, mBits: Long,
             outDir: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      writeBatch(graft.text.TextCuration
        .bloomProbeAgainst(batch, idCol, textCol, seenPos, seenFp, mBits),
        outDir, batchId)
    }
}

/** Streaming twin of the p147 D4 prototypicality prune
  * ([[graft.ann.Similarity.prototypicalityPrune]]): vectors arrive as a
  * stream, the quantizer is FROZEN, and each micro-batch emits the full
  * re-ranked verdict over everything seen so far. Scoring (cell argmax +
  * cosine to the own centroid) is row-local per batch; only the SCALAR
  * score triple (vec_id, cell, proto_sim) enters [[VersionedState]] —
  * never the vectors, so state is O(rows · 24 B), not O(rows · dim).
  * Because a new arrival can displace any ranked member of its cell, the
  * per-batch verdict recomputes the rank window over the unioned state
  * (per-cell work, the same bound the batch operator accepts); at
  * deployment scale the cut is re-ranking only the cells the batch
  * touched and carrying untouched cells' verdicts forward. Parity: the
  * last batch=<id> partition is row-identical to batch
  * prototypicalityPrune over all vectors seen, pinned by the parity
  * test. */
object PrototypicalityStream {
  private def stateSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cell", LongType),
    StructField("proto_sim", org.apache.spark.sql.types.DoubleType)))

  def attach(vecs: DataFrame, idCol: String, vecCol: String,
             cents: Array[(Long, Array[Float])],
             outDir: String, stateDir: String, checkpointDir: String,
             dropPct: Int = 25,
             trigger: Trigger = Trigger.AvailableNow(),
             compactEvery: Int = 8): StreamingQuery =
    eachBatch(vecs, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val scoredNew = graft.ann.Similarity
        .protoScore(batch, idCol, vecCol, cents)
        .persist()
      try {
        // a replayed batch reads its PREDECESSOR's state, never its own
        // failed attempt's delta (the SpanDedupStream rule)
        val seen = VersionedState.readSet(spark, stateDir, Some(batchId))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema))
        val all = seen.unionByName(scoredNew)
        writeBatch(graft.ann.Similarity.prototypicalityVerdict(all, dropPct),
          outDir, batchId)
        if (VersionedState.shouldCompact(spark, stateDir, batchId, compactEvery))
          VersionedState.write(all, stateDir, batchId, compact = true)
        else
          VersionedState.write(scoredNew, stateDir, batchId, compact = false)
      } finally scoredNew.unpersist(false)
      VersionedState.prune(spark, stateDir, batchId)
    }
}

/** Streaming twin of the p159 quantizer inertia audit
  * ([[graft.ann.Similarity.inertiaReport]]): accumulate, across a vector
  * STREAM scored against a FROZEN quantizer, the per-cell integer
  * partials (n_vecs, fixed-point SSE) — mergeable by construction, so
  * the state is ≤ C rows of three longs at ANY stream length and each
  * batch's merge is a C-row aggregate. State rides [[VersionedState]]
  * compacts every batch (the whole state is smaller than a delta ledger
  * would be; replay-safe via the predecessor read). [[report]] runs the
  * batch operator's own report half over the drained partials — shared
  * code, so batch and stream cannot drift — making the drained report
  * equal to batch inertiaReport over all rows seen; pinned by the
  * parity test. */
object InertiaStream {
  private def stateSchema = StructType(Seq(
    StructField("cell", LongType), StructField("n_vecs", LongType),
    StructField("sse_q20", LongType)))

  private def emptyState(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)

  def attach(vecs: DataFrame, idCol: String, vecCol: String,
             cents: Array[(Long, Array[Float])],
             stateDir: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(vecs, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val seen = VersionedState.readSet(spark, stateDir, Some(batchId))
        .getOrElse(emptyState(spark))
      val merged = seen
        .unionByName(graft.ann.Similarity
          .inertiaPartials(batch, idCol, vecCol, cents))
        .groupBy("cell")
        .agg(sum(col("n_vecs")).as("n_vecs"),
          sum(col("sse_q20")).as("sse_q20"))
      VersionedState.write(merged, stateDir, batchId, compact = true)
      VersionedState.prune(spark, stateDir, batchId)
    }

  /** The inertia report over the drained per-cell partials — the batch
    * operator's report half verbatim. */
  def report(spark: org.apache.spark.sql.SparkSession,
             stateDir: String): DataFrame =
    graft.ann.Similarity.inertiaFrom(
      VersionedState.readSet(spark, stateDir, None).getOrElse(emptyState(spark)))
}

/** Streaming twin of the mixture-planning reports — p120 temperature
  * weights ([[graft.text.TextCuration.mixtureWeights]]) and p155 UniMax
  * allocation ([[graft.text.TextCuration.unimaxAllocation]]): both
  * reduce the corpus to the SAME per-key integer mass partials
  * (key, n_docs, n_tokens), mergeable by construction, so ONE stream
  * accumulates ≤C rows of state serving both reports — the
  * InertiaStream shape, compacted every batch, replay-safe via the
  * predecessor read. [[weightsReport]] / [[unimaxReport]] run the batch
  * operators' own report halves over the drained partials (shared code,
  * no drift), so each drained report equals its batch twin over all
  * rows seen; pinned by the parity test. */
object KeyMassStream {
  import org.apache.spark.sql.types.{StringType, StructField, StructType}
  import graft.text.TextCuration

  private def stateSchema = StructType(Seq(
    StructField("key", StringType), StructField("n_docs", LongType),
    StructField("n_tokens", LongType)))

  private def emptyState(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)

  def attach(docs: DataFrame, keyCol: String, textCol: String,
             stateDir: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val seen = VersionedState.readSet(spark, stateDir, Some(batchId))
        .getOrElse(emptyState(spark))
      val merged = seen
        .unionByName(TextCuration.keyMassPartials(batch, keyCol, textCol))
        .groupBy("key")
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
      VersionedState.write(merged, stateDir, batchId, compact = true)
      VersionedState.prune(spark, stateDir, batchId)
    }

  def weightsReport(spark: org.apache.spark.sql.SparkSession,
                    stateDir: String): DataFrame =
    TextCuration.mixtureWeightsFrom(
      VersionedState.readSet(spark, stateDir, None).getOrElse(emptyState(spark)))

  def unimaxReport(spark: org.apache.spark.sql.SparkSession,
                   stateDir: String, budgetTokens: Long,
                   maxEpochs: Long = 2L): DataFrame =
    TextCuration.unimaxAllocationFrom(
      VersionedState.readSet(spark, stateDir, None).getOrElse(emptyState(spark)),
      budgetTokens, maxEpochs)
}

/** Streaming twin of the p162 language-stratified quality gate's SCORE
  * half ([[graft.text.TextStats.langQualityGateWith]]): gate a document
  * stream against FROZEN per-language thresholds — the deployment split
  * (estimate thresholds on the reference corpus once offline via
  * [[graft.text.TextStats.langQualityThresholds]], gate the ingest
  * stream forever). Row-local given the ≤C-row broadcast table, so each
  * micro-batch runs the exact batch scorer via `foreachBatch` into one
  * overwritten batch=<id> partition (the [[QualityScoreStream]] shape);
  * parity with the batch gate under the same thresholds is row-exact by
  * construction and pinned by the replay test. */
object LangGateStream {
  def attach(docs: DataFrame, idCol: String, textCol: String,
             langCol: String, thresholds: DataFrame,
             outDir: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      writeBatch(graft.text.TextStats
        .langQualityGateWith(batch, idCol, textCol, langCol, thresholds),
        outDir, batchId)
    }
}

/** Streaming twin of the p161 retrieval stack (MMR over IVFADC+R):
  * QUERIES arrive as a stream and are scored against a FROZEN index —
  * frozen coarse quantizer, frozen residual codebooks, frozen codes
  * index, all trained/built once offline (the deployment split every
  * ANN service runs; the batch twin trains the same artifacts in its
  * "train" phase). Each micro-batch replays the exact batch path:
  * LUT-ADC over the codes index widened to a kShort shortlist, exact
  * re-rank against the source vectors, then the unrolled MMR greedy —
  * all STATELESS given the artifacts, so each batch writes one
  * overwritten batch=<id> partition (the [[DsirScoreStream]]
  * convention: replay rewrites, never duplicates). Per-query
  * independence (search and MMR never look across queries) makes
  * drained parity with the batch path row-exact under ANY query
  * batching — pinned by StreamingParitySpec. */
object MmrSearchStream {
  def attach(queries: DataFrame, emb: DataFrame, idCol: String,
             vecCol: String, cents: Array[(Long, Array[Float])],
             cb: graft.ann.ProductQuantizer.Codebooks,
             outDir: String, checkpointDir: String,
             kShort: Int = 30, nProbe: Int = 2,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // the frozen codes index: encoded ONCE at attach and its lineage
    // truncated, so no micro-batch re-derives the corpus encode
    val index = graft.ann.ProductQuantizer
      .residualCodesIndex(emb, idCol, vecCol, cents, cb).localCheckpoint()
    eachBatch(queries, checkpointDir, trigger) { (batch, batchId) =>
      val qs = batch.select(col("query_id").cast("long").as("query_id"),
        col("qe"))
      val searched = graft.ann.ProductQuantizer.rerankExact(
        graft.ann.ProductQuantizer.searchResidualIndexLut(
          index, qs, cents, cb, kShort, nProbe),
        emb, idCol, vecCol, qs, k = graft.ann.Similarity.MmrKCand)
      writeBatch(graft.ann.Similarity.mmrOverSearch(searched, emb, idCol, vecCol),
        outDir, batchId)
    }
  }
}
