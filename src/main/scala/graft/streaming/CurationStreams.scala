package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.TextPrims.tokens
import graft.text.TextCuration
import StreamingConf.{eachBatch, writeBatch}

/** Streaming twin of the p81 context-window chunking
  * ([[graft.text.TextCuration.tokenChunks]]). Chunking is row-local —
  * one posexplode per document, no state, no shuffle — so the batch
  * transform IS its own streaming twin: this object delegates to the
  * exact batch code path (minus the batch-only presentation sort), and
  * the parity case proves Spark accepts the plan on an unbounded source
  * and that rows match batch exactly across micro-batches. At 100 TB/day
  * of streaming ingest, chunking stays a scan-side projection whose
  * parallelism is the source's partition count. */
object ChunkStream {
  def chunks(docs: DataFrame, idCol: String, textCol: String,
             chunkTokens: Int = 32, overlap: Int = 8): DataFrame =
    TextCuration.tokenChunksUnordered(docs, idCol, textCol, chunkTokens, overlap)
}

/** One document entering the streaming packer: shard, id, token count. */
final case class PackDoc(shard: Long, id: Long, n_tokens: Long)

/** Per-shard packer state: the running cumulative token count. */
final case class PackOffset(cum: Long)

/** One packed document: its position in the shard's token stream and the
  * fixed-budget bin it starts in. */
final case class PackedDoc(shard: Long, id: Long, n_tokens: Long,
                           cum_tokens: Long, bin: Long)

/** Streaming twin of the p82 sequence packing
  * ([[graft.text.TextCuration.sequencePacking]]): documents are packed
  * back-to-back into fixed-token-budget bins by cumulative token count,
  * per SHARD, with the running offset carried across micro-batches in
  * `flatMapGroupsWithState` — state is ONE long per shard, so the state
  * store is O(shards) at any stream length.
  *
  * Sharding is the semantic, not a shortcut: a global sequential pack
  * order does not exist on an unbounded stream (it would serialize the
  * pipeline through one packer and its bins would keep shifting as data
  * arrives), and real training-data writers pack per output shard
  * anyway. Within a shard the semantics are EXACTLY the batch
  * operator's: the parity case proves per-shard stream output ≡ batch
  * [[TextCuration.sequencePacking]] run on that shard's documents, with
  * (cum_tokens, bin) identical row-for-row.
  *
  * Contract for batch parity (same as [[AsOfStream]]): per shard,
  * documents arrive id-ordered ACROSS micro-batches (any order within
  * one) — the natural shape of a replay from an id-ordered lake or a
  * per-shard-ordered Kafka topic. Token counts use the same `tokens`
  * expression as the batch op, so the two cannot drift. */
object PackingStream {
  def packed(docs: DataFrame, shardCol: String, idCol: String, textCol: String,
             budgetTokens: Long = 512L): Dataset[PackedDoc] = {
    require(budgetTokens > 0, "budgetTokens must be > 0")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(shardCol).cast("long").as("shard"),
        col(idCol).cast("long").as("id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .as[PackDoc]
      .groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Long, evs: Iterator[PackDoc], state: GroupState[PackOffset]) =>
          val sorted = evs.toIndexedSeq.sortBy(_.id)
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val out = sorted.map { d =>
            cum += d.n_tokens
            PackedDoc(shard, d.id, d.n_tokens, cum,
              Math.floorDiv(cum - d.n_tokens, budgetTokens))
          }
          state.update(PackOffset(cum))
          out.iterator
      }
  }
}

/** Streaming twin of the p88 bigram novelty scorer
  * ([[graft.text.TextStats.bigramScore]]): score a document STREAM
  * against a FROZEN model table — the split a production pipeline
  * actually runs (train once offline on a reference corpus, score the
  * ingest stream forever). Scoring is per-document given the model, so
  * each micro-batch runs the exact batch scorer and overwrites its own
  * `batch=` partition ([[StreamingConf.writeBatch]]); parity with the
  * batch operator is row-exact by construction and pinned by the
  * replay test. The model is a plain
  * distributed table — at 100 TB it joins by shuffle or broadcast just
  * like the batch path, never a driver-side map. */
object NoveltyScoreStream {
  def attach(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
             model: org.apache.spark.sql.DataFrame, outDir: String,
             checkpointDir: String,
             trigger: org.apache.spark.sql.streaming.Trigger =
               org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      writeBatch(graft.text.TextStats.bigramScore(batch, idCol, textCol, model),
        outDir, batchId)
    }
}

/** Streaming twin of the p138 conditional-LM surprisal scorer
  * ([[graft.text.TextStats.lmScore]]): score a document STREAM against a
  * FROZEN [[graft.text.TextStats.lmModel]] table — the CCNet deployment
  * split (train the reference LM once, score the crawl stream forever).
  * Same contract as [[NoveltyScoreStream]]: per-document scoring given
  * the model, so each micro-batch runs the exact batch scorer and
  * overwrites its own `batch=` partition (replay-idempotent); the model
  * is one distributed (bg, c12) table — the derived context counts are
  * re-aggregated from it inside every batch, ≤ LmBuckets broadcast
  * rows. */
object LmScoreStream {
  def attach(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
             model: org.apache.spark.sql.DataFrame, outDir: String,
             checkpointDir: String,
             trigger: org.apache.spark.sql.streaming.Trigger =
               org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      writeBatch(graft.text.TextStats.lmScore(batch, idCol, textCol, model),
        outDir, batchId)
    }
}

/** Streaming twin of the p87 span-level dedup
  * ([[graft.text.TextDedup.spanDedup]]): incremental repeated-window
  * removal over a document stream. State is the set of window keys seen
  * so far, kept as a [[VersionedState]] parquet table (a distributed
  * table, not a per-key state store: the cleanup step needs the batch's
  * removal starts JOINED back to the batch's documents, which is a
  * per-batch join, not a keyed emission). Per batch: an occurrence is
  * removed iff its key was seen in an earlier batch OR it is not the
  * batch's minimum-(id, pos) occurrence of that key — so the kept copy
  * is always the FIRST-SEEN occurrence.
  *
  * Batch parity (pinned by the replay test): when documents arrive
  * id-ordered ACROSS micro-batches (any order within one — the
  * [[PackingStream]]/AsOfStream contract), first-seen ≡ global
  * minimum-(id, pos), so the cumulative stream output is row-identical
  * to batch `spanDedup` over all documents seen, with minCount = 2: a
  * removal happens exactly when a second occurrence exists. Each batch
  * appends only its NOVEL keys as a `stateDir/d<batchId>` delta — state
  * writes track batch novelty, not corpus history, so a long-running
  * stream's per-batch cost stays proportional to its ingest — with a
  * full compact folded in every `compactEvery` batches and superseded
  * windows pruned (see [[VersionedState]] for the replay contract). */
object SpanDedupStream {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
  import org.apache.spark.sql.types.{LongType, StructField, StructType}
  import graft.text.TextDedup

  private val seenSchema = StructType(Seq(StructField("wh", LongType)))

  /** The complete seen-key set under `stateDir` (union of the newest
    * compact and the deltas above it), restricted to versions BELOW
    * `beforeBatch` when given: a replayed batch (failure after the state
    * write, before the checkpoint commit) must read its PREDECESSOR's
    * state, not the delta its own failed attempt wrote — including its
    * own delta would mark the whole batch as already-seen and scrub
    * every span, then record an EMPTY novelty delta over the real one. */
  def latestState(spark: org.apache.spark.sql.SparkSession,
                  stateDir: String,
                  beforeBatch: Option[Long] = None): Option[DataFrame] =
    VersionedState.readSet(spark, stateDir, beforeBatch)

  def attach(docs: DataFrame, idCol: String, textCol: String,
             outDir: String, stateDir: String, checkpointDir: String,
             spanK: Int = 8,
             trigger: Trigger = Trigger.AvailableNow(),
             compactEvery: Int = 8): StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val tok = TextDedup.spanTokenFrame(batch, idCol, textCol)
      // persisted for the batch scope: the cleaned-output write AND the
      // state write both consume the occurrence rows — without the
      // persist the second action re-runs the whole tokenize/hash/
      // explode fold (the recompute the batch operator's shared
      // exchange exists to avoid)
      val occ = TextDedup.spanOccurrences(tok, spanK)
        .repartition(col("wh")).persist()
      try {
        val seen = latestState(spark, stateDir, Some(batchId)).getOrElse(
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], seenSchema))
        // batch keeper per key; an occurrence survives only as the first
        // occurrence of a never-before-seen key
        val grp = occ.groupBy("wh")
          .agg(min(struct(col("id"), col("pos"))).as("keep"))
        val starts = occ.join(grp, Seq("wh"))
          .join(seen.select(col("wh"), lit(true).as("__seen")), Seq("wh"), "left")
          .filter(col("__seen").isNotNull ||
            col("id") =!= col("keep.id") || col("pos") =!= col("keep.pos"))
          .groupBy("id").agg(sort_array(collect_list(col("pos"))).as("starts"))
        writeBatch(TextDedup.spanCleanup(tok, starts, spanK), outDir, batchId)
        // state write: the batch's NOVEL keys only — deltas are disjoint
        // from everything before them by construction, so the reader's
        // union needs no dedup
        val novel = grp.select("wh").join(seen, Seq("wh"), "left_anti")
        if (VersionedState.shouldCompact(spark, stateDir, batchId, compactEvery))
          VersionedState.write(seen.union(novel), stateDir, batchId, compact = true)
        else
          VersionedState.write(novel, stateDir, batchId, compact = false)
      } finally occ.unpersist(false)
      VersionedState.prune(spark, stateDir, batchId)
    }
}

/** Streaming twin of the p137 corpus-wide line dedup
  * ([[graft.text.TextDedup.lineDedup]]): first-seen-keeps across
  * micro-batches — a line key already in state (or beaten by the
  * batch's own min-(id, lpos) keeper of a never-seen key) is removed —
  * so over id-ordered batches the drained output equals the batch
  * operator exactly. State is the seen (h1, h2) line-key set under
  * [[VersionedState]] (per-batch NOVELTY deltas + periodic compacts,
  * the SpanDedupStream contract: replay-safe via the beforeBatch read,
  * one overwritten batch=<id> output partition per batch). */
object LineDedupStream {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
  import org.apache.spark.sql.types.{LongType, StructField, StructType}
  import graft.text.TextDedup

  private val seenSchema = StructType(Seq(
    StructField("h1", LongType), StructField("h2", LongType)))

  def attach(docs: DataFrame, idCol: String, textCol: String,
             outDir: String, stateDir: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow(),
             compactEvery: Int = 8): StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val lf = TextDedup.lineFrame(batch, idCol, textCol)
      val occ = TextDedup.lineOccurrences(lf)
        .repartition(col("h1"), col("h2")).persist()
      try {
        val seen = VersionedState.readSet(spark, stateDir, Some(batchId))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            seenSchema))
        val grp = occ.groupBy("h1", "h2")
          .agg(min(struct(col("id"), col("lpos"))).as("keep"))
        val removals = occ.join(grp, Seq("h1", "h2"))
          .join(seen.select(col("h1"), col("h2"), lit(true).as("__seen")),
            Seq("h1", "h2"), "left")
          .filter(col("__seen").isNotNull ||
            col("id") =!= col("keep.id") || col("lpos") =!= col("keep.lpos"))
          .groupBy("id").agg(sort_array(collect_list(col("lpos"))).as("rm"))
        writeBatch(TextDedup.lineCleanup(lf, removals), outDir, batchId)
        val novel = grp.select("h1", "h2")
          .join(seen, Seq("h1", "h2"), "left_anti")
        if (VersionedState.shouldCompact(spark, stateDir, batchId, compactEvery))
          VersionedState.write(seen.union(novel), stateDir, batchId,
            compact = true)
        else
          VersionedState.write(novel, stateDir, batchId, compact = false)
      } finally occ.unpersist(false)
      VersionedState.prune(spark, stateDir, batchId)
    }
}

/** Streaming twin of the p90 span-level decontamination scrub
  * ([[graft.text.TextDedup.spanScrub]]): scrub a document STREAM against
  * a FROZEN benchmark — stateless given the benchmark (no cross-batch
  * memory: contamination is membership in a fixed key set, not
  * first-seen), so each micro-batch runs the exact batch operator via
  * `foreachBatch`, writing one overwritten batch=<id> partition (replay
  * rewrites, never duplicates — readers drop the partition column).
  * Parity with batch spanScrub is row-exact by construction and pinned
  * by the replay test. */
object SpanScrubStream {
  def attach(docs: org.apache.spark.sql.DataFrame,
             benchmark: org.apache.spark.sql.DataFrame,
             idCol: String, textCol: String, outDir: String,
             checkpointDir: String, spanK: Int = 8,
             trigger: org.apache.spark.sql.streaming.Trigger =
               org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      writeBatch(graft.text.TextDedup.spanScrub(batch, benchmark, idCol, textCol, spanK),
        outDir, batchId)
    }
}

/** One row entering the streaming mixture sampler: key, id, weight. */
final case class MixDoc(key: String, id: Long, weight: Long)

/** Per-key sampler state: the running cumulative weight — ONE long per
  * mixture key, so the state store is O(keys) at any stream length. */
final case class MixCum(cum: Long)

/** One kept row: the batch operator's exact output shape. */
final case class MixKept(id: Long, key: String, weight: Long, cum_weight: Long)

/** Streaming twin of the p96 token-budget mixture sampler
  * ([[graft.text.TextCuration.tokenBudgetSample]]): per mixture key, keep
  * rows while the running cumulative weight (in id order) stays under the
  * key's budget, carrying the per-key running total across micro-batches
  * in `flatMapGroupsWithState`.
  *
  * The batch operator's distributed prefix sum exists because a BATCH
  * corpus must not funnel one hot key through one task; a STREAM meters
  * itself — each micro-batch's per-key slice is ingest-sized, so the
  * keyed state route is the natural online shape and the running total
  * is the only cross-batch memory. A key past its budget keeps
  * accumulating (later cum_weight values depend on skipped rows' weights
  * — exactly the batch semantics) but emits nothing.
  *
  * Contract for batch parity (the [[PackingStream]]/AsOfStream contract):
  * per key, rows arrive id-ordered ACROSS micro-batches (any order within
  * one). Under it the cumulative stream output is row-identical to batch
  * `tokenBudgetSample` over all rows seen: kept iff cum_weight − weight
  * < budget, with identical cum_weight. Pinned by the parity test. */
object MixtureSampleStream {
  def sampled(rows: DataFrame, idCol: String, keyCol: String,
              weightCol: String, budget: Long): Dataset[MixKept] = {
    require(budget > 0, "budget must be > 0")
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .select(col(keyCol).cast("string").as("key"),
        col(idCol).cast("long").as("id"),
        col(weightCol).cast("long").as("weight"))
      .as[MixDoc]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, evs: Iterator[MixDoc], state: GroupState[MixCum]) =>
          val sorted = evs.toIndexedSeq.sortBy(_.id)
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val out = sorted.flatMap { d =>
            val before = cum
            cum += d.weight
            if (before < budget) Some(MixKept(d.id, key, d.weight, cum)) else None
          }
          state.update(MixCum(cum))
          out.iterator
      }
  }
}

/** Streaming twin of the p94/p98 containment-pair miner
  * ([[graft.text.TextDedup.containmentPairs]]): as documents arrive, emit
  * every containment pair between a NEW document and any document seen so
  * far (including same-batch pairs), exactly once.
  *
  * State is the shingle posting table (id, n, g) of all documents seen —
  * a [[VersionedState]] parquet table, not a per-key state store: pairing
  * needs the batch's postings JOINED against the full inverted index,
  * which is a per-batch distributed join, not a keyed emission. Each
  * batch appends only its OWN postings as a delta (documents are
  * immutable, so deltas are disjoint by construction and the reader's
  * union needs no dedup), with a full compact folded in every
  * `compactEvery` batches and superseded windows pruned.
  *
  * Batch parity (pinned by the parity test): with NO df cap, a pair's
  * shingle sets are complete whenever its later document arrives, so the
  * pair's containment is final at emission and the cumulative stream
  * output is row-identical to batch `containmentPairs(MaxDf(0))` over all
  * documents seen. With a cap the stream applies it to the df SO FAR at
  * emission time — an emitted pair is never retracted when a shingle
  * later crosses the cap, the standard monotone-stream relaxation (the
  * batch cap itself is a candidate-bound heuristic, not a semantic:
  * p98 is the uncapped ground truth). */
object ContainmentStream {
  import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
  import org.apache.spark.sql.types.{LongType, StructField, StructType}
  import graft.text.TextDedup

  private val postingSchema = StructType(Seq(
    StructField("id", LongType), StructField("n", LongType),
    StructField("g", LongType)))

  def attach(docs: DataFrame, idCol: String, textCol: String,
             outDir: String, stateDir: String, checkpointDir: String,
             maxShingleDf: TextDedup.MaxDf, shingleK: Int = 3,
             minContainment: Double = 0.9, minShingles: Int = 5,
             trigger: Trigger = Trigger.AvailableNow(),
             compactEvery: Int = 8): StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      // the batch's postings — persisted because the pair join, the
      // size table, and the state write all consume them
      val exNew = TextDedup.shingleFrame(batch, idCol, textCol, shingleK)
        .select(col("id"), size(col("sh")).cast("long").as("n"),
          explode(col("sh")).as("g"))
        .filter(col("n") >= lit(minShingles))
        .persist()
      try {
        // a replayed batch reads its PREDECESSOR's state, never the
        // delta its own failed attempt wrote (the SpanDedupStream rule)
        val seen = VersionedState.readSet(spark, stateDir, Some(batchId))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], postingSchema))
        val allF = seen.withColumn("is_new", lit(false))
          .unionByName(exNew.withColumn("is_new", lit(true)))
        val ex =
          if (maxShingleDf.value <= 0) allF
          else allF.join(
            allF.groupBy("g").agg(count(lit(1)).as("df"))
              .filter(col("df") <= maxShingleDf.value).select("g"),
            Seq("g"))
        // pairs with at least one new side: old×old pairs were emitted
        // by an earlier batch and are excluded by the join predicate
        val inter = ex.as("x").join(ex.as("y"),
            col("x.g") === col("y.g") && col("x.id") < col("y.id") &&
              (col("x.is_new") || col("y.is_new")))
          .groupBy(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
        val sizes = allF.select("id", "n").distinct()
        val pairs = inter
          .join(sizes.as("sa"), col("doc_a") === col("sa.id"))
          .join(sizes.as("sb"), col("doc_b") === col("sb.id"))
          .withColumn("containment",
            col("inter").cast("double") / least(col("sa.n"), col("sb.n")))
          .filter(col("containment") >= minContainment)
          .select("doc_a", "doc_b", "containment")
        writeBatch(pairs, outDir, batchId)
        val delta = exNew.select("id", "n", "g")
        if (VersionedState.shouldCompact(spark, stateDir, batchId, compactEvery))
          VersionedState.write(seen.unionByName(delta), stateDir, batchId,
            compact = true)
        else
          VersionedState.write(delta, stateDir, batchId, compact = false)
      } finally exNew.unpersist(false)
      VersionedState.prune(spark, stateDir, batchId)
    }
}

/** Streaming twin of the p153 eval-set dirtiness audit
  * ([[graft.text.TextCuration.evalDirtiness]]): accumulate, across a
  * corpus STREAM, the set of frozen-benchmark grams seen so far — the
  * only cross-batch memory the report needs, and bounded by the
  * BENCHMARK vocabulary by construction, never by the stream. Per
  * micro-batch the batch's grams probe the broadcast frozen benchmark
  * vocabulary (left-semi, so the batch never shuffles) and the NOVEL
  * hits land as a [[VersionedState]] delta (the SpanDedupStream
  * contract: replay-safe beforeBatch read, per-batch novelty deltas +
  * periodic compacts). [[report]] joins the drained hit set back onto
  * the benchmark gram frame through the exact batch report half
  * ([[graft.text.TextCuration.dirtinessFrom]] — shared code, so batch
  * and stream cannot drift), making the drained report equal to batch
  * evalDirtiness over all rows seen; pinned by the parity test. */
object EvalDirtinessStream {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
  import org.apache.spark.sql.types.{LongType, StructField, StructType}

  private val hitSchema = StructType(Seq(StructField("g", LongType)))

  private def emptyHits(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], hitSchema)

  /** Frozen benchmark gram frame (id, g) — build once, pass to both
    * [[attach]] (its distinct g column is the probe vocabulary) and
    * [[report]], so the two halves see the identical gram rule. */
  def benchGrams(benchmark: DataFrame, idCol: String, textCol: String,
                 k: Int = 5): DataFrame =
    TextCuration.docGrams(benchmark, idCol, textCol, k)
      .select(col("id"), explode(col("g")).as("g"))

  def attach(docs: DataFrame, idCol: String, textCol: String,
             benchGramFrame: DataFrame, stateDir: String,
             checkpointDir: String, k: Int = 5,
             trigger: Trigger = Trigger.AvailableNow(),
             compactEvery: Int = 8): StreamingQuery = {
    // the probe vocabulary — tiny by the benchmark charter; callers who
    // run many triggers persist benchGramFrame themselves (the
    // IdfEmbedStream frozen-frame convention)
    val vocab = benchGramFrame.select("g").distinct()
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val seen = VersionedState.readSet(spark, stateDir, Some(batchId))
        .getOrElse(emptyHits(spark))
      val batchHits = TextCuration.docGrams(batch, idCol, textCol, k)
        .select(explode(col("g")).as("g"))
        .join(broadcast(vocab), Seq("g"), "left_semi")
        .distinct()
      val novel = batchHits.join(seen, Seq("g"), "left_anti")
      if (VersionedState.shouldCompact(spark, stateDir, batchId, compactEvery))
        VersionedState.write(seen.union(novel), stateDir, batchId, compact = true)
      else
        VersionedState.write(novel, stateDir, batchId, compact = false)
      VersionedState.prune(spark, stateDir, batchId)
    }
  }

  /** The dirtiness report over the drained hit-set state — the batch
    * operator's report half verbatim. */
  def report(spark: SparkSession, stateDir: String,
             benchGramFrame: DataFrame, minHits: Int = 1): DataFrame =
    TextCuration.dirtinessFrom(benchGramFrame,
      VersionedState.readSet(spark, stateDir, None).getOrElse(emptyHits(spark)),
      minHits)
}

/** Streaming twin of the p158 winnowing match report
  * ([[graft.text.TextDedup.winnowingPairs]]): incremental MOSS pair
  * mining over a document stream. State is the (id, fp) posting list —
  * ~1/w of a gram index by winnowing's design. Each micro-batch
  * fingerprints its documents (row-local), joins the batch postings
  * against state ∪ batch with an at-least-one-new-side predicate (a
  * pair is emitted exactly once, by the batch that completes it — a
  * document's fingerprints all arrive together, so a pair's shared
  * count is final the moment its later document lands), applies the
  * hot-fingerprint df-cap over the data seen so far (the
  * ContainmentStream convention: the cap is a function of the corpus
  * known at emission time), and appends its postings as a
  * [[VersionedState]] delta. Under id-ordered batches and a cap wide
  * enough not to bite mid-stream, the drained output equals batch
  * winnowingPairs; pinned by the parity test. A fingerprint that
  * crosses the cap mid-stream after earlier batches counted it is the
  * one divergence this shape admits — each batch writes exactly those
  * crossings to `<outDir>/_cap_crossings/batch=<id>` (hidden from pair
  * readers), so the precondition violation is observable, never
  * silent; the parity test asserts the audit stays empty on the
  * ordered corpus. */
object WinnowingStream {
  import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
  import org.apache.spark.sql.types.{LongType, StructField, StructType}
  import graft.text.TextDedup

  private val postingSchema = StructType(Seq(
    StructField("id", LongType), StructField("fp", LongType)))

  def attach(docs: DataFrame, idCol: String, textCol: String,
             outDir: String, stateDir: String, checkpointDir: String,
             maxFpDf: TextDedup.MaxDf, k: Int = 5, w: Int = 4,
             minShared: Int = 2,
             trigger: Trigger = Trigger.AvailableNow(),
             compactEvery: Int = 8): StreamingQuery =
    eachBatch(docs, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      // persisted: the pair join consumes both sides and the state
      // write re-reads the batch postings
      val fpNew = TextDedup.winnowingFingerprints(batch, idCol, textCol, k, w)
        .persist()
      try {
        val seen = VersionedState.readSet(spark, stateDir, Some(batchId))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], postingSchema))
        val allF = seen.withColumn("is_new", lit(false))
          .unionByName(fpNew.withColumn("is_new", lit(true)))
        val dfs = allF.groupBy("fp").agg(count(lit(1)).as("df"))
        // precondition audit: a fingerprint crossing the cap NOW that
        // already sat in earlier state may have inflated pairs emitted
        // BEFORE the cap bit — batch winnowingPairs would exclude it
        // everywhere. Surface the violation (an underscore dir, so
        // readers of the pair output never see it) instead of letting
        // the stream diverge from batch silently.
        val crossings = dfs.filter(col("df") > maxFpDf.value)
          .join(seen.select("fp").distinct(), Seq("fp"), "left_semi")
        writeBatch(crossings, s"$outDir/_cap_crossings", batchId)
        val ex = allF.join(
          dfs.filter(col("df") <= maxFpDf.value).select("fp"),
          Seq("fp"))
        val pairs = ex.as("x").join(ex.as("y"),
            col("x.fp") === col("y.fp") && col("x.id") < col("y.id") &&
              (col("x.is_new") || col("y.is_new")))
          .groupBy(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= minShared)
        writeBatch(pairs, outDir, batchId)
        if (VersionedState.shouldCompact(spark, stateDir, batchId, compactEvery))
          VersionedState.write(seen.unionByName(fpNew.select("id", "fp")),
            stateDir, batchId, compact = true)
        else
          VersionedState.write(fpNew.select("id", "fp"), stateDir, batchId,
            compact = false)
      } finally fpNew.unpersist(false)
      VersionedState.prune(spark, stateDir, batchId)
    }
}
