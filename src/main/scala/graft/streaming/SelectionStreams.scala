package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StringType,
  StructField, StructType}
import StreamingConf.{eachBatch, writeBatch}

/** Streaming twin of the p103 SemDeDup prune
  * ([[graft.ann.Similarity.semanticDedup]]): vectors arrive as a stream,
  * each is assigned to its cell from the FROZEN trained quantizer (a
  * row-local argmax — the quantizer trains offline, the p50/p103
  * convention), and a vector is kept iff no already-seen vector in its
  * cell sits at cosine ≥ `minSim`.
  *
  * State is the assigned-vector table (vec_id, cell, e) of everything
  * seen — a [[VersionedState.step]] set (the [[ContainmentStream]]
  * shape: pruning needs the batch joined against all same-cell
  * predecessors, a per-batch distributed join, not a keyed emission).
  * Each batch adds only its OWN vectors (vectors are immutable → deltas
  * disjoint, reader unions without dedup).
  *
  * Batch parity (pinned by the parity test): under id-ordered arrival
  * ACROSS micro-batches (the [[PackingStream]] contract), every
  * lower-id vector is already seen when a vector arrives, so the keep
  * decision is final at arrival and the cumulative stream output is
  * row-identical to batch `semanticDedup` over all vectors seen. */
object SemDedupStream {
  import graft.functions.AnnPrims

  private val stateSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cell", LongType),
    StructField("e", ArrayType(FloatType))))

  def attach(vecs: DataFrame, idCol: String, vecCol: String,
             cents: Array[(Long, Array[Float])],
             outDir: String, stateDir: String, checkpointDir: String,
             minSim: Double = 0.8,
             trigger: Trigger = Trigger.AvailableNow(),
             compactEvery: Int = 8): StreamingQuery =
    eachBatch(vecs, checkpointDir, trigger) { (batch, batchId) =>
      // row-local cell assignment against the frozen quantizer —
      // persisted because the pair join, the keep anti-join, and the
      // state write all consume it
      val assignedNew = graft.ann.Similarity
        .assignCells(batch, idCol, vecCol, cents)
        .persist()
      try VersionedState.step(batch.sparkSession, stateDir, batchId, stateSchema,
          compactEvery) { seen =>
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
        assignedNew.select("vec_id", "cell", "e")
      } finally assignedNew.unpersist(false)
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
  private val stateSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cell", LongType),
    StructField("proto_sim", DoubleType)))

  def attach(vecs: DataFrame, idCol: String, vecCol: String,
             cents: Array[(Long, Array[Float])],
             outDir: String, stateDir: String, checkpointDir: String,
             dropPct: Int = 25,
             trigger: Trigger = Trigger.AvailableNow(),
             compactEvery: Int = 8): StreamingQuery =
    eachBatch(vecs, checkpointDir, trigger) { (batch, batchId) =>
      val scoredNew = graft.ann.Similarity
        .protoScore(batch, idCol, vecCol, cents)
        .persist()
      try VersionedState.step(batch.sparkSession, stateDir, batchId, stateSchema,
          compactEvery) { seen =>
        writeBatch(graft.ann.Similarity.prototypicalityVerdict(
          seen.unionByName(scoredNew), dropPct), outDir, batchId)
        scoredNew
      } finally scoredNew.unpersist(false)
    }
}

/** Streaming twin of the p159 quantizer inertia audit
  * ([[graft.ann.Similarity.inertiaReport]]): accumulate, across a vector
  * STREAM scored against a FROZEN quantizer, the per-cell integer
  * partials (n_vecs, fixed-point SSE) — mergeable by construction, so
  * the state is ≤ C rows of three longs at ANY stream length and each
  * batch's merge is a C-row aggregate. The [[VersionedState.step]]
  * compacts every batch, folding the partials per cell (the whole state
  * is smaller than a delta ledger would be). [[report]] runs the
  * batch operator's own report half over the drained partials — shared
  * code, so batch and stream cannot drift — making the drained report
  * equal to batch inertiaReport over all rows seen; pinned by the
  * parity test. */
object InertiaStream {
  private val stateSchema = StructType(Seq(
    StructField("cell", LongType), StructField("n_vecs", LongType),
    StructField("sse_q20", LongType)))

  def attach(vecs: DataFrame, idCol: String, vecCol: String,
             cents: Array[(Long, Array[Float])],
             stateDir: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(vecs, checkpointDir, trigger) { (batch, batchId) =>
      VersionedState.step(batch.sparkSession, stateDir, batchId, stateSchema,
          compactEvery = 0, fold = _.groupBy("cell").agg(
            sum(col("n_vecs")).as("n_vecs"), sum(col("sse_q20")).as("sse_q20"))) { _ =>
        graft.ann.Similarity.inertiaPartials(batch, idCol, vecCol, cents)
      }
    }

  /** The inertia report over the drained per-cell partials — the batch
    * operator's report half verbatim. */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    graft.ann.Similarity.inertiaFrom(VersionedState.readSetOr(spark, stateDir, stateSchema))
}

/** Streaming twin of the mixture-planning reports — p120 temperature
  * weights ([[graft.text.TextCuration.mixtureWeights]]) and p155 UniMax
  * allocation ([[graft.text.TextCuration.unimaxAllocation]]): both
  * reduce the corpus to the SAME per-key integer mass partials
  * (key, n_docs, n_tokens), mergeable by construction, so ONE stream
  * accumulates ≤C rows of state serving both reports — the
  * InertiaStream shape, compacted every batch. [[weightsReport]] /
  * [[unimaxReport]] run the batch operators' own report halves over the
  * drained partials (shared code, no drift), so each drained report
  * equals its batch twin over all rows seen; pinned by the parity test. */
object KeyMassStream {
  import graft.text.TextCuration

  private val stateSchema = StructType(Seq(
    StructField("key", StringType), StructField("n_docs", LongType),
    StructField("n_tokens", LongType)))

  def attach(docs: DataFrame, keyCol: String, textCol: String,
             stateDir: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      VersionedState.step(batch.sparkSession, stateDir, batchId, stateSchema,
          compactEvery = 0, fold = _.groupBy("key").agg(
            sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))) { _ =>
        TextCuration.keyMassPartials(batch, keyCol, textCol)
      }
    }

  def weightsReport(spark: SparkSession, stateDir: String): DataFrame =
    TextCuration.mixtureWeightsFrom(VersionedState.readSetOr(spark, stateDir, stateSchema))

  def unimaxReport(spark: SparkSession, stateDir: String, budgetTokens: Long,
                   maxEpochs: Long = 2L): DataFrame =
    TextCuration.unimaxAllocationFrom(
      VersionedState.readSetOr(spark, stateDir, stateSchema), budgetTokens, maxEpochs)
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
  * overwritten batch=<id> partition ([[StreamingConf.writeBatch]]).
  * Per-query independence (search and MMR never look across queries)
  * makes drained parity with the batch path row-exact under ANY query
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
