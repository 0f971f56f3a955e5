package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Barrier
import graft.functions.TextPrims._

/** Corpus-curation operators for LLM-training-data pipelines: dataset
  * splitting, deterministic sampling, PII scrubbing, repetition/quality
  * heuristics, and benchmark-contamination checks. Like the rest of the
  * text surface these are pure DataFrame transforms built from
  * higher-order functions plus the codegen'd [[graft.functions.PolyHash]]
  * — no UDFs, no RNG state — and each has a value-exact DuckDB oracle in
  * [[graft.OracleSqlDocs]].
  *
  * Determinism is the design center: splits and samples key on a CONTENT
  * hash, not on ids, row order, or an RNG — so an exact duplicate always
  * lands in the same split (no train/test leakage through dupes), the
  * assignment is reproducible run-to-run and engine-to-engine, and adding
  * or removing other documents never moves an existing one.
  */
object TextCuration {

  /** (id, norm, h): normalized text and its content hash, once per row. */
  private def hashFrame(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = Barrier.once(
      df.select(col(idCol).as("id"), col(textCol).as("__t")), Seq("id"),
      "norm" -> normText(col("__t")))
    Barrier.once(n, Seq("id", "norm"), "h" -> charHash(col("norm")))
  }

  /** Deterministic train/val/test assignment by content hash: the hash is
    * re-scrambled (Knuth multiplicative, mod P) into a bucket in [0, 1000)
    * so the split key is decorrelated from the dedup operators' use of the
    * same content hash, then thresholded 80/10/10. Narrow, shuffle-free:
    * split assignment at 100 TB is a row-local expression on each scan
    * task. Output: (id, bucket, split). */
  def hashSplit(df: DataFrame, idCol: String, textCol: String,
                trainPerMille: Int = 800, valPerMille: Int = 100): DataFrame =
    hashFrame(df, idCol, textCol)
      .select(col("id"),
        (col("h") * 2654435761L % P % 1000L).as("bucket"))
      .select(col("id"), col("bucket"),
        when(col("bucket") < trainPerMille, "train")
          .when(col("bucket") < trainPerMille + valPerMille, "val")
          .otherwise("test").as("split"))
      .orderBy("id")

  /** Deterministic Bernoulli-style sampling by content hash: keep a row
    * iff its re-scrambled hash lands under `percent` of the [0, 100)
    * range. Same properties as [[hashSplit]] — reproducible, duplicate-
    * stable, row-local (the filter pushes to the scan; at 100 TB the
    * sample is computed without any shuffle or RNG coordination).
    * Output: the kept (id, sample_key) rows. */
  def hashSample(df: DataFrame, idCol: String, textCol: String,
                 percent: Int = 10): DataFrame =
    hashFrame(df, idCol, textCol)
      .select(col("id"), (col("h") * 48271L % P % 100L).as("sample_key"))
      .filter(col("sample_key") < percent)
      .orderBy("id")

  /** Group-aware (leakage-safe) train/val/test split: near-duplicate
    * documents MUST land in the same split or the test set contaminates
    * training (Lee et al. 2021 §6 measure this leakage directly). Every
    * document inherits its duplicate GROUP's assignment — the re-scrambled
    * content-hash bucket of the group REPRESENTATIVE (the min-id member,
    * [[TextDedup.duplicateGroups]]' label) — so all members move together;
    * singletons keep exactly their [[hashSplit]] assignment (same scramble,
    * same thresholds: making a doc group-aware never reshuffles the rest
    * of the corpus). Output: (doc_id, group_id, bucket, split).
    *
    * Scale shape: two keyed equi-joins — groups (only docs appearing in
    * some near-dup pair, the small frame by construction) onto the corpus
    * by id, then the representative's bucket by group_id; no window, no
    * funnel, and the bucket itself is the row-local hashSplit expression. */
  def groupAwareSplit(df: DataFrame, idCol: String, textCol: String,
                      groups: DataFrame,
                      trainPerMille: Int = 800, valPerMille: Int = 100): DataFrame = {
    val hf = hashFrame(df, idCol, textCol)
      .select(col("id").cast("long").as("id"),
        (col("h") * 2654435761L % P % 1000L).as("__b"))
    val g = groups.select(col("doc_id").cast("long").as("id"),
      col("group_id").cast("long").as("__g"))
    val withG = hf.join(g, Seq("id"), "left")
      .select(col("id"), col("__b"), coalesce(col("__g"), col("id")).as("group_id"))
    // the group's bucket = the min-id member PRESENT in df. When groups
    // derive from this frame (the duplicateGroups contract: group_id =
    // min member id) this IS the representative's bucket; when groups
    // came from a superset corpus and the representative is absent, the
    // next-lowest present member decides — deterministic, every member
    // still moves together, nothing is silently dropped (an inner join
    // on rep-id used to drop such groups wholesale).
    val reps = withG.groupBy("group_id")
      .agg(min(struct(col("id"), col("__b"))).as("r"))
      .select(col("group_id"), col("r.__b").as("bucket"))
    withG.drop("__b").join(reps, Seq("group_id"))
      .select(col("id").as("doc_id"), col("group_id"), col("bucket"),
        when(col("bucket") < trainPerMille, "train")
          .when(col("bucket") < trainPerMille + valPerMille, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** PII patterns, ordered — longest/most-specific first so e.g. an email
    * is replaced before its digit run could match the id pattern. Written
    * in the regex subset Java (Spark) and RE2 (DuckDB) parse AND match
    * identically: explicit character classes, no word-boundary
    * metacharacters, no backtracking-dependent alternations. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+", "<EMAIL>"),
    ("phone", "\\+[0-9][0-9() -]{6,}[0-9]", "<PHONE>"),
    ("ipv4", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
    ("idnum", "[0-9]{9,}", "<ID>"))

  /** PII scrubbing: count then replace each pattern family in order, on
    * the normalized text. Counts are taken BEFORE any replacement (on the
    * pristine norm) so they report what was present, not what an earlier
    * replacement left behind; replacements are then applied sequentially
    * in [[PiiPatterns]] order. Narrow and shuffle-free — at 100 TB this
    * is a pure scan-side rewrite. Output: (id, clean_text, n_email,
    * n_phone, n_ipv4, n_idnum). */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = Barrier.once(
      df.select(col(idCol).as("id"), col(textCol).as("__t")), Seq("id"),
      "norm" -> normText(col("__t")))
    val counts = PiiPatterns.map { case (name, pat, _) =>
      size(regexp_extract_all(col("norm"), lit(pat), lit(0))).cast("long").as(s"n_$name")
    }
    val scrubbed = PiiPatterns.foldLeft(col("norm")) { case (acc, (_, pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }
    n.select(col("id") +: scrubbed.as("clean_text") +: counts: _*)
      .orderBy("id")
  }

  /** Repetition / quality heuristics in the Gopher–C4 family, per
    * document: the most-frequent-token share, the fraction of word
    * bigrams that are repeats, and the non-alphanumeric character share —
    * plus a keep/drop flag at conventional thresholds. Row-local (the
    * token-frequency scan is O(tokens × distinct) per DOCUMENT — bounded
    * by document length, independent of corpus size — so the operator
    * stays a narrow shuffle-free projection at 100 TB). Double math is
    * explicit left-to-right division so DuckDB reproduces it exactly.
    * Output: (id, top_token_ratio, dup_bigram_frac, symbol_ratio, keep). */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      maxTopTokenRatio: Double = 0.2,
                      maxDupBigramFrac: Double = 0.3,
                      maxSymbolRatio: Double = 0.2): DataFrame = {
    // the six counters are ONE codegen node over the normalized text
    // ([[graft.functions.CurationStats]]) — the declarative struct it
    // replaces mixed HOF folds (CodegenFallback) with a regexp_replace
    // and fell out of whole-stage codegen into fully interpreted eval:
    // at the 10M-doc funnel rehearsal the gate was 1,304 s (71% of the
    // funnel wall) with 27/32 executor threads inside java.util.regex
    // (r15_funnel.md). The declarative twin survives as
    // [[repetitionCounters]], spec-pinned equal on random corpora.
    val counters = Barrier.once(
      df.select(col(idCol).as("id"), col(textCol).as("__t")), Seq("id"),
      "cs" -> graft.functions.CurationStats(normText(col("__t"))))
      .select(col("id"), col("cs.n_tokens").as("n_tokens"),
        col("cs.top_cnt").as("top_cnt"), col("cs.n_bigrams").as("n_bigrams"),
        col("cs.n_uniq_bigrams").as("n_uniq_bigrams"),
        col("cs.n_sym").as("n_sym"), col("cs.n_chars").as("n_chars"))
    val topRatio = col("top_cnt").cast("double") / col("n_tokens")
    val dupFrac = when(col("n_bigrams") > 0L,
      (col("n_bigrams") - col("n_uniq_bigrams")).cast("double") / col("n_bigrams"))
      .otherwise(lit(0.0))
    val symRatio = col("n_sym").cast("double") / col("n_chars")
    counters.select(
      col("id"),
      topRatio.as("top_token_ratio"),
      dupFrac.as("dup_bigram_frac"),
      symRatio.as("symbol_ratio"),
      (topRatio <= maxTopTokenRatio && dupFrac <= maxDupBigramFrac &&
        symRatio <= maxSymbolRatio).as("keep"))
      .orderBy("id")
  }

  /** Declarative twin of [[graft.functions.CurationStats]] — the struct
    * of per-doc counters stated in Spark SQL functions only, kept for
    * the expression-equivalence pin (TextCurationSpec) per the house
    * custom-expression convention. top_cnt = max RUN LENGTH of the
    * sorted token array (≡ max multiplicity; one O(n) fold, not the
    * O(n·distinct) transform-filter shape this twin itself replaced in
    * r15). NOT on any query path: the fold and shingle HOFs are
    * CodegenFallback and drag the containing projection into
    * interpreted eval. */
  private[graft] def repetitionCounters(df: DataFrame, idCol: String,
                                        textCol: String): DataFrame = {
    val toks = Barrier.once(
      df.select(col(idCol).as("id"), col(textCol).as("__t")), Seq("id"),
      "norm" -> normText(col("__t")))
    val t = Barrier.once(toks, Seq("id", "norm"), "t" -> split(col("norm"), " "))
    val topCnt = {
      val folded = aggregate(
        sort_array(col("t")),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"),
            acc.getField("run") + lit(1L)).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
      when(size(col("t")) === 0, lit(null).cast("long")).otherwise(folded)
    }
    Barrier.once(t, Seq("id"),
      "n_tokens" -> size(col("t")).cast("long"),
      "top_cnt" -> topCnt.cast("long"),
      "n_bigrams" -> greatest(lit(0), size(col("t")) - 1).cast("long"),
      "n_uniq_bigrams" -> size(array_distinct(wordShingles(col("t"), 2))).cast("long"),
      "n_sym" -> (length(col("norm")) -
        length(regexp_replace(col("norm"), "[^a-z0-9 ]", ""))).cast("long"),
      "n_chars" -> length(col("norm")).cast("long"))
  }

  /** Context-window chunking: split each document's token stream into
    * fixed-size windows with overlap — the step that turns curated
    * documents into model-ready training sequences. Chunk k starts at
    * token `stride·k` (stride = chunkTokens − overlap), so consecutive
    * chunks share `overlap` tokens and every token is covered. Row-local
    * (one posexplode per doc, no shuffle — at 100 TB chunking is a
    * scan-side transform); the chunk hash is the content fingerprint a
    * packing/dedup stage downstream keys on. Output: (id, chunk_idx,
    * start_tok, n_chunk_tokens, chunk_hash). */
  def tokenChunks(df: DataFrame, idCol: String, textCol: String,
                  chunkTokens: Int = 32, overlap: Int = 8): DataFrame =
    tokenChunksUnordered(df, idCol, textCol, chunkTokens, overlap)
      .orderBy("id", "chunk_idx")

  /** [[tokenChunks]] without the final presentation sort — the exact same
    * row-local transform, legal on an UNBOUNDED (streaming) input because
    * every stage is stateless (project + posexplode): this is the p81
    * streaming twin itself, run on the stream as is (the
    * StreamingParitySpec replay). Batch callers get the sorted
    * wrapper above; rows here arrive in scan order. */
  def tokenChunksUnordered(df: DataFrame, idCol: String, textCol: String,
                           chunkTokens: Int = 32, overlap: Int = 8): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      "need chunkTokens > 0 and 0 <= overlap < chunkTokens — anything else " +
        "would silently leave tokens uncovered")
    val stride = chunkTokens - overlap
    val t = Barrier.once(
      df.select(col(idCol).as("id"), col(textCol).as("__t")), Seq("id"),
      "t" -> tokens(col("__t")))
    Barrier.once(t, Seq("id", "t"), "n" -> size(col("t")).cast("long"))
      .select(col("id"), col("t"), col("n"),
        posexplode(expr(s"transform(sequence(0, CAST(ceil(CAST(n AS DOUBLE)/$stride) AS INT) - 1), " +
          s"k -> slice(t, k*$stride + 1, $chunkTokens))")))
      .select(col("id"), col("pos").cast("long").as("chunk_idx"),
        (col("pos") * stride).cast("long").as("start_tok"),
        size(col("col")).cast("long").as("n_chunk_tokens"),
        charHash(array_join(col("col"), " ")).as("chunk_hash"))
  }

  /** Sequence packing: assign documents (in id order) to fixed-token-
    * budget bins by GLOBAL cumulative token count — the sample-packing
    * step that fills training context windows back-to-back. The prefix
    * sum is computed the scale-honest way, NOT with a global
    * single-partition window: documents bucket row-locally into
    * `numRanges` contiguous id ranges (a pure function of the id given
    * one tiny min/max aggregate — deterministic and recompute-stable, so
    * nothing needs persisting or checkpointing), one small per-bucket
    * total aggregate (≤ numRanges rows, the same bounded-collect class
    * as the IVF centroids) yields each bucket's offset, and a
    * per-bucket window adds the running sum — parallelism = numRanges at
    * every corpus size, and the global result is independent of where
    * the range boundaries land. `numRanges` defaults to
    * [[graft.ops.Adaptive.Auto]] — derived from the corpus row count
    * through the same min/max aggregate, so per-bucket volume (and the
    * ≤ numRanges-row offsets collect) stays bounded as the corpus grows.
    * Output: (id, n_tokens, cum_tokens, bin). */
  def sequencePacking(df: DataFrame, idCol: String, textCol: String,
                      budgetTokens: Long = 512L,
                      numRanges: Int = graft.ops.Adaptive.Auto): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = df.select(col(idCol).cast("long").as("id"),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
    val withBucket = graft.ops.Adaptive.withRangeBucket(n, "id", numRanges)
    val spark = df.sparkSession
    import spark.implicits._
    val totals = withBucket.groupBy("__b").agg(sum(col("n_tokens")).as("__s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.scanLeft((0L, 0L)) { case ((_, acc), (bk, s)) =>
      (bk, acc + s)
    }.init.zip(totals).map { case ((_, off), (bk, _)) => (bk, off) }
    val offDf = broadcast(offsets.toSeq.toDF("__b", "__off"))
    val w = Window.partitionBy("__b").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withBucket.join(offDf, "__b")
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w) + col("__off"))
      .select(col("id"), col("n_tokens"), col("cum_tokens"),
        expr(s"(cum_tokens - n_tokens) div $budgetTokens").as("bin"))
      .orderBy("id")
  }

  /** ICLM-style semantic packing (Shi et al. 2023, "In-Context
    * Pretraining": training sequences read better when RELATED documents
    * are packed adjacently instead of shuffled): documents are packed
    * into `budgetTokens` bins WITHIN their semantic cell — `cells` is any
    * (vec_id, cell) assignment, e.g. the trained quantizer over hashed
    * text embeddings (p121 → p50's trainer) — in id order, so each bin
    * holds same-cell, i.e. semantically related, documents. `bin` is
    * cell-scoped: (cell, bin) identifies a packed sequence.
    *
    * Scale shape: token counts are row-local; one id-keyed equi-join
    * attaches cells; the per-cell prefix sum is the house TWO-LEVEL
    * decomposition ([[sequencePacking]]'s range-bucket refinement,
    * keyed by cell): docs bucket into `numRanges` global id ranges, the
    * (cell, bucket) TOTALS frame (≤ cells·numRanges rows) gets per-cell
    * bucket offsets via a window whose partitions hold ≤ numRanges rows,
    * and the running sum window partitions by (cell, bucket) — so even a
    * DEGENERATE quantizer that collapses the corpus into one giant cell
    * cannot funnel a window partition beyond corpus/numRanges rows. The
    * only driver action is the 1-row id-bounds aggregate (the
    * [[tokenBudgetSample]] prelude — note it runs eagerly at call time);
    * unlike [[sequencePacking]] there is no offsets collect, the bucket
    * offsets stay distributed. Output: (doc_id, cell, n_tokens,
    * cum_cell_tokens, bin). */
  def semanticPacking(df: DataFrame, idCol: String, textCol: String,
                      cells: DataFrame, budgetTokens: Long = 512L,
                      numRanges: Int = graft.ops.Adaptive.Auto): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens > 0,
      s"semanticPacking: budgetTokens must be positive, got $budgetTokens")
    val n = df.select(col(idCol).cast("long").as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
    val c = cells.select(col("vec_id").cast("long").as("doc_id"), col("cell"))
    val bucketed = graft.ops.Adaptive.withRangeBucket(
      n.join(c, "doc_id"), "doc_id", numRanges)
    // per-(cell, bucket) totals -> per-cell bucket offsets: the window
    // runs over the TOTALS frame, ≤ numRanges rows per cell partition
    val wOff = Window.partitionBy("cell").orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy("cell", "__b")
      .agg(sum(col("n_tokens")).as("__s"))
      .withColumn("__off", coalesce(sum(col("__s")).over(wOff), lit(0L)))
      .select(col("cell"), col("__b"), col("__off"))
    val wRun = Window.partitionBy("cell", "__b").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(offsets, Seq("cell", "__b"))
      .withColumn("cum_cell_tokens", sum(col("n_tokens")).over(wRun) + col("__off"))
      .select(col("doc_id"), col("cell"), col("n_tokens"), col("cum_cell_tokens"),
        expr(s"(cum_cell_tokens - n_tokens) div $budgetTokens").as("bin"))
      .orderBy("doc_id")
  }

  /** Token-balanced shard assignment — the export-planning step before a
    * training corpus is written: documents (in id order) are cut into
    * `nShards` CONTIGUOUS shards of ~equal token mass,
    * `shard = (cum_before · nShards) div total` — deterministic,
    * integer-exact, and replayable in SQL. Contiguity bounds the
    * imbalance by construction: every shard's mass is within one
    * document of total/nShards (spec-pinned), which is what loader-side
    * round-robin consumption needs. Rides [[sequencePacking]]'s
    * distributed bucket prefix sum (never a single-partition window);
    * the only extra cost is one 1-row total aggregate. Output:
    * (id, n_tokens, cum_tokens, shard). */
  def shardAssign(df: DataFrame, idCol: String, textCol: String,
                  nShards: Int = 16): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val packed = sequencePacking(df, idCol, textCol)
      .select("id", "n_tokens", "cum_tokens")
    val total = broadcast(packed.agg(
      greatest(sum(col("n_tokens")), lit(1L)).as("__total")))
    packed.crossJoin(total)
      .select(col("id"), col("n_tokens"), col("cum_tokens"),
        expr(s"((cum_tokens - n_tokens) * $nShards) div __total")
          .as("shard"))
      .orderBy("id")
  }

  /** Write a corpus as token-balanced shards: join the [[shardAssign]]
    * plan back to the documents, lay out one directory per shard
    * (shard= hive partitions — the layout a data loader round-robins
    * over), and write a `_manifest` table of per-shard document/token
    * counts beside it. The join is id-keyed on both sides; the write
    * repartitions ON the partition column so each shard lands as one
    * file (the ANN-store compaction argument). Sink semantics — spec
    * verified (ShardWriterSpec), like the house's other writers. */
  def writeTokenShards(df: DataFrame, idCol: String, textCol: String,
                       path: String, nShards: Int = 16): Unit = {
    // persisted across the two actions: the shard write and the manifest
    // would otherwise each re-run the whole tokenize + prefix-sum lineage
    val assigned = shardAssign(df, idCol, textCol, nShards).persist()
    try {
      df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
        .join(assigned, Seq("id"))
        .select(col("id"), col("text"), col("n_tokens"), col("shard"))
        .repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(path)
      assigned.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/_manifest")
    } finally assigned.unpersist(false)
  }

  /** Systematic probability-proportional-to-size (PPS) sampling — the
    * importance-sampling selection step of corpus curation (pick ~k
    * documents with probability proportional to their token mass),
    * DETERMINISTIC and integer-exact: documents order by id, their token
    * counts prefix-sum, and k evenly spaced integer thresholds
    * (step = total div k) select each document whose cumulative-weight
    * interval contains a threshold. No RNG, no floating point — the same
    * run on the same corpus always picks the same docs, and the DuckDB
    * oracle reproduces the selection value-for-value (float-keyed
    * weighted sampling à la Efraimidis–Spirakis would hinge on pow/log
    * ULPs across engines). A document with weight ≥ step spans several
    * thresholds; `n_hits` is its multiplicity (PPS with replacement).
    * Systematic sampling's standard caveat applies: if document weight
    * is PERIODIC along the id order with a period dividing the step, the
    * thresholds alias to fixed phases — ids should not encode a
    * weight-correlated cycle (content-hash ids, the engine's norm,
    * cannot).
    *
    * Scale shape: the prefix sum IS [[sequencePacking]]'s distributed
    * bucket machinery (step doubles as the bin budget: bin =
    * (cum − w) div step, so selection = `cum div step > bin`, one
    * row-local comparison on its output) — parallelism numRanges at any
    * corpus size, plus one tiny total aggregate to fix the step. Output:
    * (id, n_tokens, cum_tokens, n_hits) for selected docs, by id. */
  def ppsSample(df: DataFrame, idCol: String, textCol: String,
                k: Int = 50,
                numRanges: Int = graft.ops.Adaptive.Auto): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val t = df.select(sum(size(tokens(col(textCol)))).cast("long")).head()
    val total = if (t.isNullAt(0)) 0L else t.getLong(0) // empty corpus → empty sample
    val step = math.max(1L, total / k)
    sequencePacking(df, idCol, textCol, budgetTokens = step, numRanges)
      .withColumn("n_hits",
        expr(s"cum_tokens div $step") - col("bin"))
      .filter(col("n_hits") > 0)
      .select(col("id"), col("n_tokens"), col("cum_tokens"), col("n_hits"))
      .orderBy("id")
  }

  /** Chunk-level exact dedup — [[tokenChunks]] ∘ exact dedup: the RAG /
    * context-window counterpart of document dedup (p13) and span dedup
    * (p87): after chunking, IDENTICAL chunks recur wherever boilerplate,
    * quotes, or duplicated documents overlap chunk boundaries, and a
    * retrieval or training pipeline wants one canonical copy per distinct
    * chunk. Groups chunks by their content hash, keeps the minimum
    * (doc, chunk_idx) occurrence, reports the copy count; hashes seen
    * fewer than `minCopies` times are unique and omitted. Output:
    * (chunk_hash, n_copies, keep_id, keep_chunk_idx) by chunk_hash.
    *
    * Scale shape: chunking is row-local (scan-side posexplode, no
    * shuffle); the dedup is ONE hash aggregate on the fixed-width chunk
    * hash with map-side partials — text never shuffles. Same plan class
    * as [[TextDedup.exactDedup]], applied below document granularity. */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int = 32, overlap: Int = 8,
                 minCopies: Long = 2L): DataFrame =
    tokenChunksUnordered(df, idCol, textCol, chunkTokens, overlap)
      .groupBy("chunk_hash")
      .agg(count(lit(1)).as("n_copies"),
        min(struct(col("id"), col("chunk_idx"))).as("keep"))
      .filter(col("n_copies") >= minCopies)
      .select(col("chunk_hash"), col("n_copies"),
        col("keep.id").as("keep_id"), col("keep.chunk_idx").as("keep_chunk_idx"))
      .orderBy("chunk_hash")

  /** Token-budget mixture sampling — the "data mixing" selection step of a
    * training pipeline: documents carry a mixture KEY (language, domain,
    * source) and each key gets the same token `budget`; within a key,
    * documents are taken in id order until the budget is exhausted (the
    * first document whose cumulative interval STARTS inside the budget is
    * taken whole — budgets are soft by one document, the standard
    * greedy-fill contract). Deterministic, RNG-free: same corpus, same
    * selection. Input: (id, key, weight) rows — compose with
    * [[graft.text.TextStats.langId]] / domain extraction upstream. Output:
    * (id, key, weight, cum_weight) for selected rows, by id.
    *
    * Scale shape: the per-key running sum is the KEYED form of
    * [[sequencePacking]]'s distributed prefix sum — NOT a
    * `Window.partitionBy(key)` over raw rows, which would funnel each
    * key's whole corpus slice through one task (a single dominant
    * language at 100 TB = one straggler task holding ~all the data).
    * Documents bucket row-locally into `numRanges` contiguous id ranges;
    * one small (key × range) total aggregate — driver-bounded via
    * [[graft.ops.Adaptive.boundedCollect]], the mixture-key charter is
    * low cardinality — yields each (key, range)'s offset; a per-(key,
    * range) window adds the running sum, so parallelism is keys × ranges
    * at every corpus size and the result is independent of where range
    * boundaries land. */
  /** Temperature-scaled mixture weights (the mT5/UniMax multilingual
    * sampling archetype): per key, the corpus token mass and the
    * T-tempered sampling share `mass^(1/T) / Σ mass^(1/T)`. The default
    * T = 2 makes the exponent a SQUARE ROOT — IEEE-754 requires sqrt
    * correctly rounded, so (unlike pow/log, which the engine-portable
    * doctrine bans) both engines produce identical bits; the
    * normalization denominator is ONE left-to-right fold over the
    * key-ascending shares, mirrored by the oracle's ordered list fold.
    *
    * Scale shape: one partial-aggregable (key, counts) rollup — C rows —
    * then a driver-free unpartitioned window over those C rows (the
    * post-aggregation one-partition pattern the scorers use). Output:
    * (key, n_docs, n_tokens, sqrt_tokens, weight_share) by key. */
  def mixtureWeights(df: DataFrame, idCol: String, keyCol: String,
                     textCol: String): DataFrame =
    mixtureWeightsFrom(keyMassPartials(df, keyCol, textCol))

  /** The per-key INTEGER mass partials both mixture reports reduce to —
    * (key, n_docs, n_tokens). Mergeable by construction, which is what
    * the streaming twin accumulates as its ≤C-row state. */
  def keyMassPartials(df: DataFrame, keyCol: String,
                      textCol: String): DataFrame =
    df.select(col(keyCol).as("key"),
        size(tokens(col(textCol))).cast("long").as("n_tok"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))

  /** The report half of [[mixtureWeights]] over (possibly pre-merged)
    * per-key partials — shared with the streaming twin so batch and
    * stream cannot drift on the share arithmetic. */
  def mixtureWeightsFrom(partials: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perKey = partials.groupBy("key")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    // the denominator must be an ORDER-DEFINED fold (double addition is
    // non-associative): collect the key-ascending shares into one array
    // over the C-row aggregate and fold left-to-right, the HLL-estimate
    // convention
    val w = Window.partitionBy()
    perKey
      .withColumn("sqrt_tokens", sqrt(col("n_tokens").cast("double")))
      .withColumn("__all",
        sort_array(collect_list(struct(col("key"), col("sqrt_tokens"))).over(w)))
      .withColumn("__denom",
        aggregate(col("__all"), lit(0.0), (acc, e) => acc + e.getField("sqrt_tokens")))
      .select(col("key"), col("n_docs"), col("n_tokens"),
        col("sqrt_tokens"),
        (col("sqrt_tokens") / col("__denom")).as("weight_share"))
      .orderBy("key")
  }

  /** UniMax budget allocation (Chung et al. 2023 "UniMax: Fairer and More
    * Effective Language Sampling", Algorithm 1 — the allocation half that
    * p120's temperature weights approximate): split a total training-token
    * budget over languages so every language receives an EQUAL share,
    * except those whose share would exceed `maxEpochs` passes over their
    * own data — those cap at maxEpochs·mass and the freed budget re-splits
    * among the rest (water-filling). The paper's sequential smallest-first
    * loop has a closed form this rides instead: with keys ascending by cap
    * mass, capped-ness is prefix-monotone (once a key overflows its equal
    * share, every larger key does too), so key i is capped iff
    * `cap_i·(C−i+1) ≤ B − cumcap_{i−1}` — all exact integer arithmetic —
    * and each uncapped key receives `(B − Σ_capped cap_j)/(C−k)`, ONE
    * double division of exact integers, bit-equal on both engines;
    * `n_epochs` is the follow-on alloc/mass division.
    *
    * Scale shape: one partial-aggregable (key, counts) rollup — C rows —
    * then unpartitioned windows over those C rows (the post-aggregation
    * one-partition pattern [[mixtureWeights]] uses). Long bounds: with
    * corpus mass ≤ 2⁴⁵ tokens (~100 TB of text), cap·C stays far under
    * 2⁶³ for any sane key cardinality. Output: (key, n_docs, n_tokens,
    * cap_tokens, capped, alloc_tokens, n_epochs) by key. */
  def unimaxAllocation(df: DataFrame, idCol: String, keyCol: String,
                       textCol: String, budgetTokens: Long,
                       maxEpochs: Long = 2L): DataFrame =
    unimaxAllocationFrom(keyMassPartials(df, keyCol, textCol),
      budgetTokens, maxEpochs)

  /** The report half of [[unimaxAllocation]] over (possibly pre-merged)
    * per-key partials — shared with the streaming twin. */
  def unimaxAllocationFrom(partials: DataFrame, budgetTokens: Long,
                           maxEpochs: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens >= 0, s"unimaxAllocation: budgetTokens must be >= 0")
    require(maxEpochs >= 1, s"unimaxAllocation: maxEpochs must be >= 1")
    val perKey = partials.groupBy("key")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("cap_tokens", col("n_tokens") * maxEpochs)
    val asc = Window.orderBy(col("cap_tokens"), col("key"))
    val all = Window.partitionBy()
    perKey
      .withColumn("__rn", row_number().over(asc))
      .withColumn("__cum", sum(col("cap_tokens"))
        .over(asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__c", count(lit(1)).over(all))
      .withColumn("capped",
        col("cap_tokens") * (col("__c") - col("__rn") + 1) <=
          lit(budgetTokens) - (col("__cum") - col("cap_tokens")))
      .withColumn("__k", sum(col("capped").cast("long")).over(all))
      .withColumn("__cmass",
        sum(when(col("capped"), col("cap_tokens")).otherwise(0L)).over(all))
      .withColumn("alloc_tokens",
        when(col("capped"), col("cap_tokens").cast("double"))
          .otherwise((lit(budgetTokens) - col("__cmass")).cast("double") /
            (col("__c") - col("__k"))))
      .select(col("key"), col("n_docs"), col("n_tokens"), col("cap_tokens"),
        col("capped"), col("alloc_tokens"),
        when(col("n_tokens") > 0, col("alloc_tokens") / col("n_tokens"))
          .otherwise(lit(0.0)).as("n_epochs"))
      .orderBy("key")
  }

  def tokenBudgetSample(rows: DataFrame, idCol: String, keyCol: String,
                        weightCol: String, budget: Long,
                        numRanges: Int = graft.ops.Adaptive.Auto): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = rows.select(col(idCol).cast("long").as("id"),
      col(keyCol).as("key"), col(weightCol).cast("long").as("weight"))
    val withBucket = graft.ops.Adaptive.withRangeBucket(n, "id", numRanges)
    val spark = rows.sparkSession
    import spark.implicits._
    val totals = graft.ops.Adaptive.boundedCollect(
        withBucket.groupBy("key", "__b").agg(sum(col("weight")).as("__s")),
        "the mixture-key × range total table",
        "a per-key sequencePacking pass (or reduce numRanges)")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val offsets = totals.groupBy(_._1).toSeq.flatMap { case (k, ts) =>
      val sorted = ts.sortBy(_._2)
      sorted.map(_._2).zip(sorted.scanLeft(0L)(_ + _._3).init)
        .map { case (bk, off) => (k, bk, off) }
    }
    val offDf = broadcast(offsets.toDF("key", "__b", "__off"))
    val w = Window.partitionBy("key", "__b").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withBucket.join(offDf, Seq("key", "__b"))
      .withColumn("cum_weight", sum(col("weight")).over(w) + col("__off"))
      .filter(col("cum_weight") - col("weight") < budget)
      .select(col("id"), col("key"), col("weight"), col("cum_weight"))
      .orderBy("id")
  }

  /** URL structure extraction — the host/domain step of RefinedWeb/C4-style
    * web curation (domain blocklists, per-domain caps, TLD stats all key on
    * it). Pure anchored regexes in the subset Java (Spark) and RE2 (DuckDB)
    * match identically: explicit character classes, no backreferences, no
    * lookaround. `domain` is the last two dot-labels of the host (the
    * registered-domain approximation a real pipeline would refine with the
    * public-suffix list); `path_depth` counts non-empty path segments after
    * stripping query/fragment. Narrow and shuffle-free — at 100 TB this is
    * a scan-side projection. Output: (id, scheme, host, domain, path_depth,
    * has_query). */
  def urlParts(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val h = Barrier.once(
      df.select(col(idCol).as("id"), col(urlCol).as("url")), Seq("id", "url"),
      "host" -> regexp_extract(col("url"), "^[a-z][a-z0-9+.-]*://([^/?#]+)", 1))
    val path = regexp_replace(
      regexp_replace(col("url"), "^[a-z][a-z0-9+.-]*://[^/?#]*", ""),
      "[?#].*$", "")
    h.select(col("id"),
      regexp_extract(col("url"), "^([a-z][a-z0-9+.-]*)://", 1).as("scheme"),
      col("host"),
      regexp_extract(col("host"), "([a-z0-9-]+\\.[a-z0-9-]+)$", 1).as("domain"),
      size(filter(split(path, "/"), x => x =!= "")).cast("long").as("path_depth"),
      col("url").contains("?").as("has_query"))
      .orderBy("id")
  }

  /** Per-domain document cap — the RefinedWeb-style anti-spam measure
    * (no single domain may contribute more than `cap` documents): keep
    * the first `cap` documents of each domain in id order, with their
    * 1-based rank. Deterministic, RNG-free.
    *
    * Scale shape: a per-domain rank is exactly [[tokenBudgetSample]] with
    * weight 1 and budget `cap`, so this rides the keyed distributed
    * prefix sum — NOT `Window.partitionBy(domain)` over raw rows, which
    * would funnel a hot domain (at web scale single domains contribute
    * millions of pages) through one task. Output: (id, domain, doc_rank)
    * for kept rows, by id. */
  def domainCapSample(df: DataFrame, idCol: String, domainCol: String,
                      cap: Long,
                      numRanges: Int = graft.ops.Adaptive.Auto): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    tokenBudgetSample(
      df.select(col(idCol).as("id"), col(domainCol).as("key"), lit(1L).as("weight")),
      "id", "key", "weight", budget = cap, numRanges)
      .select(col("id"), col("key").as("domain"), col("cum_weight").as("doc_rank"))
      .orderBy("id")
  }

  /** Benchmark-contamination check: for every corpus document, how many
    * of its hashed word `k`-grams appear anywhere in a benchmark
    * (held-out eval) document set. The industry-standard n-gram-overlap
    * decontamination join, shaped for scale: both sides reduce to
    * DISTINCT fixed-width gram hashes, the benchmark side collapses to
    * one row per gram (its size is the benchmark's vocabulary, tiny next
    * to the corpus — Spark broadcast-joins it under AQE), and corpus
    * grams left-join it so the exchange carries (id, gram) longs only —
    * never text. A document with zero overlapping grams still reports
    * n_hits = 0. Output: (id, n_grams, n_hits, contamination_ratio,
    * is_contaminated). */
  /** The (multiplier, offset) families of the p108 Bloom filter's hash
    * functions: pos_i(f) = ((f·aᵢ + bᵢ) mod P) mod mBits. Knuth
    * multiplicative constants — fixed, so any engine recomputes the bit
    * positions exactly. */
  val BloomHashes: Seq[(Long, Long)] =
    Seq((2654435761L, 17L), (2246822519L, 31L))

  /** Bloom-filter membership probe (the p108 query) — the fixed-size
    * "seen set" primitive of crawl-scale dedup (a URL/content filter that
    * must fit in RAM no matter how many documents it has absorbed): every
    * document's content fingerprint sets `BloomHashes.size` bit positions
    * in an `mBits`-bit filter built over `seenPred` rows; a document is
    * `maybe_seen` iff ALL its positions are set (Bloom semantics: false
    * positives possible, false negatives impossible). `is_seen` is the
    * exact fingerprint-match ground truth, so the oracle verifies the
    * false-positive behavior itself, not just the happy path.
    *
    * Scale shape: the distinct-position table IS the Bloom bitset in
    * relational form — bounded at `mBits` rows by construction, so it
    * broadcasts at ANY seen-set size (a 100 TB deployment ships it as
    * mBits/8 bytes); the probe is a narrow explode (k fixed-width longs
    * per doc) into a BroadcastHashJoin + per-doc count, and the exact
    * ground-truth join broadcasts the distinct seen fingerprints. No
    * corpus shuffle anywhere before the final per-id rollup, whose
    * partial aggregate collapses each doc's k rows task-locally.
    *
    * `mBits` is RESULT-affecting (a smaller filter admits more false
    * positives), so the query pins it: the p108 config (64 bits, 2
    * hashes over a 25-doc seen set, load ≈ 0.5) is deliberately TINY so
    * false positives actually occur at every test scale and the oracle
    * pins their semantics — the p91 cap-biting convention. A production
    * filter sizes mBits ≈ 10–15 bits/key for ~1% FP. */
  def bloomSeenProbe(df: DataFrame, idCol: String, textCol: String,
                     seenPred: Column, mBits: Long = 64L): DataFrame = {
    val fp = Barrier.once(
      df.select(col(idCol).cast("long").as("id"), col(textCol).as("__t"),
        seenPred.as("__seen")),
      Seq("id", "__seen"), "f" -> charHash(normText(col("__t"))))
    val seen = fp.filter(col("__seen"))
    val (seenPos, seenFp) = bloomSeenTables(seen.select(col("f")), mBits)
    probeFrame(fp, seenPos, seenFp, mBits)
  }

  /** The `BloomHashes.size` bit positions of a fingerprint column. */
  private def bloomPositions(f: Column, mBits: Long): Column =
    array(BloomHashes.map { case (a, b) =>
      pmod(pmod(f * lit(a) + lit(b), lit(P)), lit(mBits))
    }: _*)

  /** The filter's two frozen tables from a seen-fingerprint frame `fps`
    * (column `f`): the ≤mBits-row distinct position set (the relational
    * bitset) and the distinct fingerprints (the exact ground truth). The
    * build half a deployment runs offline and ships to ingest workers —
    * shared with the stream replay of [[bloomProbeAgainst]] so batch and
    * stream cannot drift on the position rule. */
  def bloomSeenTables(fps: DataFrame, mBits: Long = 64L): (DataFrame, DataFrame) = (
    fps.select(explode(bloomPositions(col("f"), mBits)).as("pos")).distinct(),
    fps.select(col("f")).distinct().select(col("f"), lit(true).as("__hit")))

  /** Probe `df` against frozen [[bloomSeenTables]] — the PROBE half. */
  def bloomProbeAgainst(df: DataFrame, idCol: String, textCol: String,
                        seenPos: DataFrame, seenFp: DataFrame,
                        mBits: Long = 64L): DataFrame =
    probeFrame(
      Barrier.once(
        df.select(col(idCol).cast("long").as("id"), col(textCol).as("__t")),
        Seq("id"), "f" -> charHash(normText(col("__t")))),
      seenPos, seenFp, mBits)

  private def probeFrame(fp: DataFrame, seenPos: DataFrame,
                         seenFp: DataFrame, mBits: Long): DataFrame = {
    val k = BloomHashes.size
    val hits = fp.select(col("id"), explode(bloomPositions(col("f"), mBits)).as("pos"))
      .join(broadcast(seenPos), Seq("pos"))
      .groupBy("id").agg(count(lit(1)).as("__nh"))
    fp.join(hits, Seq("id"), "left")
      .join(broadcast(seenFp), Seq("f"), "left")
      .select(col("id"),
        (coalesce(col("__nh"), lit(0L)) === k).as("maybe_seen"),
        coalesce(col("__hit"), lit(false)).as("is_seen"))
      .orderBy("id")
  }

  /** (id, g) distinct hashed word `k`-grams of a document frame — the
    * shared gram projection of [[contamination]] / [[evalDirtiness]] and
    * the [[graft.streaming.EvalDirtinessStream]] twin (shared so batch
    * and stream cannot drift on the gram rule). */
  private[graft] def docGrams(df: DataFrame, idCol: String, textCol: String,
                              k: Int): DataFrame =
    Barrier.once(
      Barrier.once(
        df.select(col(idCol).as("id"), col(textCol).as("__t")), Seq("id"),
        "th" -> transform(tokens(col("__t")), charHash _)),
      Seq("id"), "g" -> hashedShinglesFromTokenHashes(col("th"), k))

  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, k: Int = 5,
                    minHits: Int = 1): DataFrame = {
    val corpusGrams = docGrams(corpus, idCol, textCol, k)
      .select(col("id"), explode(col("g")).as("g"))
    val benchGrams = docGrams(benchmark, idCol, textCol, k)
      .select(explode(col("g")).as("g")).distinct()
      .select(col("g"), lit(1L).as("__hit"))
    corpusGrams.join(benchGrams, Seq("g"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .select(col("id"), col("n_grams"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_grams")).as("contamination_ratio"),
        (col("n_hits") >= minHits).as("is_contaminated"))
      .orderBy("id")
  }

  /** Eval-set dirtiness report — the DIRECTION FLIP of [[contamination]]
    * (GPT-3 Appendix C / PaLM App. C "clean vs dirty eval" methodology):
    * per benchmark EXAMPLE, how many of its distinct hashed word
    * `k`-grams appear anywhere in the training corpus. p42 answers
    * "which corpus docs carry benchmark text" (and [[graft.text.TextDedup.spanScrub]]
    * removes it); this answers "which eval examples are compromised
    * ANYWAY" — the audit that decides whether to report metrics on
    * clean/dirty eval subsets after training has already happened.
    *
    * Scale shape — the flip is what makes it cheap at 100 TB: the
    * benchmark gram vocabulary is tiny by charter, so it broadcasts into
    * the corpus scan as a left-SEMI probe; only matched grams (≤ the
    * benchmark vocabulary) leave the scan, collapse to a distinct hit
    * set, and broadcast back onto the benchmark's (id, gram) frame. The
    * corpus never shuffles and no corpus-wide distinct-gram table is
    * built (the naive shape — a full-corpus exchange — is exactly what
    * this avoids). Examples shorter than `k` tokens carry no gram and
    * drop from the report (the p42 convention). Output: (id, n_grams,
    * n_hits, dirtiness_ratio, is_dirty) by id. */
  def evalDirtiness(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, k: Int = 5,
                    minHits: Int = 1): DataFrame = {
    val benchGrams = docGrams(benchmark, idCol, textCol, k)
      .select(col("id"), explode(col("g")).as("g"))
    val hitGrams = docGrams(corpus, idCol, textCol, k)
      .select(explode(col("g")).as("g"))
      .join(broadcast(benchGrams.select("g").distinct()), Seq("g"), "left_semi")
      .distinct()
    dirtinessFrom(benchGrams, hitGrams, minHits)
  }

  /** The report half of [[evalDirtiness]] over an already-mined hit-gram
    * set — shared with [[graft.streaming.EvalDirtinessStream]], whose
    * state IS the hit set accumulated across micro-batches. */
  private[graft] def dirtinessFrom(benchGrams: DataFrame, hitGrams: DataFrame,
                                   minHits: Int): DataFrame =
    benchGrams
      .join(broadcast(hitGrams.select(col("g"), lit(1L).as("__hit"))),
        Seq("g"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .select(col("id"), col("n_grams"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_grams")).as("dirtiness_ratio"),
        (col("n_hits") >= minHits).as("is_dirty"))
      .orderBy("id")
}
