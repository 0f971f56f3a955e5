package graft.text

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Barrier
import graft.functions.TextPrims._

/** Deduplication operators for LLM-training-data pipelines: exact,
  * MinHash-LSH, exact n-gram Jaccard, and SimHash. All are pure
  * DataFrame→DataFrame transforms over an (id, text) input, built from
  * higher-order functions plus three codegen'd expressions
  * ([[graft.functions.PolyHash]] / [[graft.functions.MinHashSig]] /
  * [[graft.functions.SimHashSig]]) — no UDFs — and all are hash-bucketed,
  * never all-pairs over the corpus, so the same plans run at 100 TB:
  *
  *  - exact dedup: one shuffle on two independent text hashes (map-side
  *    partial agg);
  *  - MinHash: candidates come from a shuffle on (band, bucket) — only
  *    documents sharing an LSH bucket are ever compared;
  *  - n-gram Jaccard: inverted-index join on the shingle, i.e. a shuffle on
  *    shingle values — pairs materialize only for co-occurring shingles
  *    (at web scale, cap shingle document-frequency to bound skew);
  *  - SimHash: banded on signature halves, so candidate pairs agree on 15
  *    of 30 bits before any comparison.
  *
  * Expression evaluation discipline: every expensive array column (token
  * hashes, shingle sets, signatures) is computed exactly once per row
  * behind a [[graft.functions.Barrier]] (CollapseProject would otherwise
  * inline it into each of its references), and frames consumed by several
  * joins sit behind one explicit `repartition` whose exchange every
  * consumer reuses. No operator holds a session-lifetime cache to leak,
  * evict, or clear between corpus batches — the materialization the
  * one-pass operators need rides the shuffle files the joins require
  * anyway; the only persists are [[duplicateGroups]]' loop-scoped edge
  * frames, released in its `finally` before returning.
  */
object TextDedup {

  /** Document-frequency cap for [[ngramJaccardPairs]]' inverted index,
    * as a distinct type: the cap is REQUIRED and sits where an optional
    * Int (`shingleK`) once did, so a bare-Int positional argument from an
    * older call site must fail to compile rather than silently change
    * meaning. 0 = exact/uncapped (small corpora only). */
  final case class MaxDf(value: Int) extends AnyVal

  /** Exact dedup keyed by TWO independent polynomial hashes of the
    * normalized text (different seed/multiplier/modulus), a ~2^60 combined
    * key space — one ~2^30 hash alone would falsely merge distinct
    * documents at corpus scale (~n²/2^31 expected collisions ≈ 170 already
    * at 600k docs). Both hashes are codegen'd [[graft.functions.PolyHash]]
    * instances over a norm computed once per row. Output: one row per
    * distinct normalized text — the kept (minimum) id and the copy count.
    * Never groups on the full text bytes: at 100 TB the shuffle key must be
    * fixed-width hashes, not a document body. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = Barrier.once(
      df.select(col(idCol).as("id"), col(textCol).as("__t")), Seq("id"),
      "norm" -> normText(col("__t")))
    n.groupBy(
        charHash(col("norm")).as("text_hash"),
        graft.functions.PolyHash(col("norm"), 11L, 37L, 998244353L).as("text_hash2"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("text_hash", "text_hash2")
  }

  /** SPAN-level exact dedup — the n-gram-window form of suffix-array
    * substring deduplication (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": repeated spans, not just repeated
    * documents, drive memorization): every k-token window of the
    * normalized text is keyed by two packed polynomial hashes
    * ([[graft.functions.TextPrims.hashedWindowKeys]]); a window key
    * occurring ≥ `minCount` times across the CORPUS (within-document
    * repeats included) marks a duplicated span, and every occurrence
    * EXCEPT the canonical minimum-(doc, position) one is removed from its
    * document. Each WINDOW keeps its canonical occurrence, but removal is
    * a coverage-union over positions, so when DISTINCT duplicated windows
    * overlap, a keeper occurrence's tokens can still fall inside another
    * window's removal span — cross-overlap cases may erase every textual
    * copy of a run (the oracle and the suffix-array literature's
    * remove-all-but-first variants share this property; callers needing a
    * hard no-content-loss guarantee should re-inject the keeper from the
    * occurrence index). Output, one row per input document:
    * (doc_id, n_tokens, n_dup_spans, n_removed, cleaned_text).
    *
    * Scale shape (the reason this is three narrow shuffles at any corpus
    * size): window occurrences shuffle as (key, id, pos) fixed-width
    * triples — never text; the occurrence count and the canonical-keeper
    * argmin ride ONE hash aggregate on the window key with map-side
    * partials; the removal join's output is LINEAR in duplicated
    * occurrences (occurrences rejoin their group row — they never pair up,
    * so there is no df² blow-up to cap, unlike pair mining); and span
    * removal itself is row-local array math after one per-document
    * aggregate whose collect_list is bounded by tokens-per-document.
    * Overlapping duplicated windows merge through position coverage, so a
    * shared run of m ≥ k tokens costs m−k+1 index rows and removes exactly
    * its m tokens. */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                spanK: Int = 8, minCount: Long = 2L): DataFrame = {
    val tok = spanTokenFrame(df, idCol, textCol)
    // One occurrence row per window position, partitioned by the window
    // key. The explicit exchange is the frame's materialization point: the
    // count/argmin aggregate AND the removal join both need hash(wh)
    // distribution, so both consumers read ONE computation of the fold +
    // explode through exchange reuse (the occurrence helper's isNotNull
    // filters keep the two consumers' subtrees canonical-identical — the
    // join side would otherwise infer them onto its copy alone and split
    // the plans, the ngramJaccardCounting lesson). Map-side partial
    // aggregation is deliberately NOT sought here: window keys are mostly
    // unique, so partials reduce ~nothing and the raw occurrence rows
    // shuffle once either way — this is the shape where a shared exchange
    // WINS (cf. the percentiles counter-example, where one consumer
    // shuffled tiny partials and sharing regressed 5.9 s → 33 s).
    val ex = spanOccurrences(tok, spanK).repartition(col("wh"))
    val grp = ex.groupBy("wh")
      .agg(count(lit(1)).as("cnt"), min(struct(col("id"), col("pos"))).as("keep"))
      .filter(col("cnt") >= minCount)
    val starts = ex.join(grp, Seq("wh"))
      .filter(col("id") =!= col("keep.id") || col("pos") =!= col("keep.pos"))
      .groupBy("id").agg(sort_array(collect_list(col("pos"))).as("starts"))
    spanCleanup(tok, starts, spanK)
  }

  /** Corpus-wide LINE dedup — the C4 preprocessing archetype (Raffel et
    * al. 2020 §2.2 deduplicate repeated lines/spans at corpus scope):
    * every space-trimmed non-blank line occurring ≥ `minCount` times
    * ANYWHERE in the corpus keeps only its minimum-(doc, position)
    * occurrence; every other occurrence is removed from its document.
    * The boilerplate scrubber for nav bars, cookie banners, and license
    * headers that document-level dedup can't touch and token-window
    * span dedup over-segments.
    *
    * Lines key by TWO independent polynomial hashes (the p13 exact-dedup
    * convention): fixed-width shuffle keys, the line text itself never
    * shuffles — only (id, lpos, h1, h2) quadruples cross the exchange,
    * and the count/keeper aggregate plus the removal join share that one
    * exchange (the spanDedup shape). Cleanup is row-local array math.
    * Output: (doc_id, n_lines, n_removed, cleaned_text) with cleaned
    * lines rejoined by `\n`. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minCount: Long = 2L): DataFrame = {
    val lf = lineFrame(df, idCol, textCol)
    val ex = lineOccurrences(lf).repartition(col("h1"), col("h2"))
    val grp = ex.groupBy("h1", "h2")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("id"), col("lpos"))).as("keep"))
      .filter(col("cnt") >= minCount)
    val removals = ex.join(grp, Seq("h1", "h2"))
      .filter(col("id") =!= col("keep.id") || col("lpos") =!= col("keep.lpos"))
      .groupBy("id").agg(sort_array(collect_list(col("lpos"))).as("rm"))
    lineCleanup(lf, removals)
  }

  /** (id, ls): space-trimmed non-blank lines per document (null text ≡
    * empty — no lines). */
  private[graft] def lineFrame(df: DataFrame, idCol: String,
                               textCol: String): DataFrame =
    Barrier.once(
      df.select(col(idCol).cast("long").as("id"),
        coalesce(col(textCol), lit("")).as("__t")),
      Seq("id"),
      "ls" -> filter(transform(split(col("__t"), "\n"), l => trim(l)),
        l => l =!= ""))

  /** (id, lpos, h1, h2) over a [[lineFrame]] — the p13 double polynomial
    * hash pair as fixed-width shuffle keys; line text never leaves the
    * row. Null ids carry no linkage (the duplicateGroups contract). */
  private[graft] def lineOccurrences(lf: DataFrame): DataFrame =
    lf.select(col("id"), posexplode(col("ls")))
      .toDF("id", "lpos", "l")
      .select(col("id"), col("lpos"),
        charHash(col("l")).as("h1"),
        graft.functions.PolyHash(col("l"), 11L, 37L, 998244353L).as("h2"))
      .filter(col("id").isNotNull)

  /** Drop the line positions in `removals`' per-id sorted `rm` lists from
    * a [[lineFrame]]; documents with no removals pass through. */
  private[graft] def lineCleanup(lf: DataFrame, removals: DataFrame): DataFrame = {
    val rm = coalesce(col("rm"), array().cast("array<int>"))
    lf.join(removals, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        size(col("ls")).cast("long").as("n_lines"),
        coalesce(size(col("rm")), lit(0)).cast("long").as("n_removed"),
        array_join(filter(col("ls"),
          (l, i) => !exists(rm, p => p === i)), "\n").as("cleaned_text"))
      .orderBy("doc_id")
  }

  /** Maximal duplicated-span EXTENTS — the audit view of the substring-
    * dedup family (Lee et al. 2022's "what got deduplicated" report):
    * every k-token window occurring ≥ `minCount` times corpus-wide marks
    * its covered positions duplicated, and per document the covered
    * positions coalesce into MAXIMAL extents. Where [[spanDedup]] ships
    * the cleaned corpus, this reports WHERE the duplicated regions are —
    * extent boundaries, window support, and the covered text — one row
    * per (document, extent). Unlike spanDedup, keeper occurrences are
    * included: the report describes duplication, not removal.
    *
    * Extent coalescing is gaps-and-islands PER DOCUMENT: over the
    * id-sorted duplicated window starts, a window opens a new extent iff
    * its start exceeds the previous start + k (coverage adjacency
    * merges: windows at pos and pos+k cover a contiguous token run).
    *
    * Scale shape: the occurrence exchange is the p87 one (fixed-width
    * (id, pos, wh) triples, window keys mostly unique so the count rides
    * the same hash(wh) exchange); the islands window is PARTITIONED BY
    * id — per-document work, never a global funnel; extents rejoin the
    * token frame on id only for their text slice. */
  def dupSpanExtents(df: DataFrame, idCol: String, textCol: String,
                     spanK: Int = 8, minCount: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = spanTokenFrame(df, idCol, textCol)
    val ex = spanOccurrences(tok, spanK).repartition(col("wh"))
    val grp = ex.groupBy("wh")
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= minCount)
    val dup = ex.join(grp, Seq("wh")).select("id", "pos")
    val w = Window.partitionBy("id").orderBy("pos")
    val prev = lag(col("pos"), 1).over(w)
    val ext = dup
      .withColumn("new_ext",
        when(prev.isNull || col("pos") > prev + lit(spanK), 1L).otherwise(0L))
      .withColumn("ext_id", sum(col("new_ext")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("id", "ext_id")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + spanK).as("span_end"),
        count(lit(1)).as("n_windows"))
    ext.join(tok, Seq("id"))
      .select(col("id").as("doc_id"),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start")).cast("long").as("span_tokens"),
        col("n_windows"),
        array_join(slice(col("tk"), col("span_start") + 1,
          col("span_end") - col("span_start")), " ").as("span_text"))
      .orderBy("doc_id", "span_start")
  }

  /** Span-level DECONTAMINATION — the scrubbing counterpart of the p42
    * detector: every k-token window of `df` whose key also occurs
    * anywhere in `benchmark` is removed from the document (coverage-union
    * of overlapping windows, like [[spanDedup]] — a shared run of
    * m ≥ k tokens disappears in full). Where p42 FLAGS documents
    * overlapping the held-out set, this ships the cleaned corpus — the
    * form a training pipeline actually writes. Output:
    * (doc_id, n_tokens, n_contaminated_spans, n_removed, cleaned_text).
    *
    * Scale shape: reuses the spanDedup machinery — occurrence rows are
    * fixed-width triples; the benchmark side reduces to DISTINCT window
    * keys (one small aggregate — benchmarks are tiny next to the corpus,
    * so the contamination join broadcasts, the p42 pattern); cleanup is
    * row-local. No corpus-side aggregate at all: unlike dedup there is
    * no count or keeper to compute, so the corpus shuffles NOTHING when
    * the benchmark side broadcasts. */
  def spanScrub(df: DataFrame, benchmark: DataFrame,
                idCol: String, textCol: String, spanK: Int = 8): DataFrame = {
    val tok = spanTokenFrame(df, idCol, textCol)
    // explicit broadcast, not a size-estimate gamble: the no-corpus-
    // shuffle property above must hold even when the benchmark's distinct
    // keys exceed autoBroadcastJoinThreshold's estimate — one column of
    // longs broadcasts fine far past the 10 MB default
    val benchKeys = broadcast(spanOccurrences(
        spanTokenFrame(benchmark, idCol, textCol), spanK)
      .select("wh").distinct())
    val starts = spanOccurrences(tok, spanK)
      .join(benchKeys, Seq("wh"))
      .groupBy("id").agg(sort_array(collect_list(col("pos"))).as("starts"))
    spanCleanup(tok, starts, spanK)
      .withColumnRenamed("n_dup_spans", "n_contaminated_spans")
  }

  /** (id, tk) token frame for span dedup. Null text ≡ empty text (one
    * empty token, no windows, returned untouched) — without the coalesce
    * Spark's array_join(null) would emit a NULL cleaned_text where the
    * DuckDB twin emits '', breaking the value-exact contract on null-text
    * rows. */
  private[graft] def spanTokenFrame(df: DataFrame, idCol: String,
                                    textCol: String): DataFrame =
    Barrier.once(
      df.select(col(idCol).cast("long").as("id"),
        coalesce(col(textCol), lit("")).as("__t")),
      Seq("id"), "tk" -> tokens(col("__t")))

  /** (id, pos, wh) occurrence rows over a [[spanTokenFrame]] — pos is
    * 0-based, window i covers token positions [i, i+k). The window-key
    * fold chain drops `tk` immediately: the cleanup branch consumes the
    * token frame directly, so it re-tokenizes (a cheap second scan)
    * instead of paying the fold — a Barrier'd column cannot be pruned
    * away, so leaving ws in a shared frame would bill the fold to every
    * consumer (measured: the shared-frame formulation computed the fold
    * three times, 103 s vs 56 s cold at the 500k-doc rung). wh is never
    * null; a null-id document (possible under the cast) leaves the index
    * entirely — its windows neither count toward duplication nor get
    * removed — the same "null ids carry no linkage" contract as
    * duplicateGroups. */
  private[graft] def spanOccurrences(tok: DataFrame, spanK: Int): DataFrame = {
    val th = Barrier.once(tok, Seq("id"), "th" -> transform(col("tk"), charHash _))
    val ws = Barrier.once(th, Seq("id"), "ws" -> hashedWindowKeys(col("th"), spanK))
    ws.select(col("id"), posexplode(col("ws"))).toDF("id", "pos", "wh")
      .filter(col("wh").isNotNull && col("id").isNotNull)
  }

  /** Remove the token positions covered by `starts` (per-id sorted
    * removal-window start lists) from a [[spanTokenFrame]] — row-local
    * array math after the left join; documents with no removals pass
    * through untouched. */
  private[graft] def spanCleanup(tok: DataFrame, starts: DataFrame,
                                 spanK: Int): DataFrame = {
    val st = coalesce(col("starts"), array().cast("array<int>"))
    val cleaned = filter(col("tk"),
      (t, i) => !exists(st, s => s <= i && i < s + spanK))
    tok.join(starts, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        coalesce(size(col("starts")), lit(0)).cast("long").as("n_dup_spans"),
        (size(col("tk")) - size(cleaned)).cast("long").as("n_removed"),
        array_join(cleaned, " ").as("cleaned_text"))
      .orderBy("doc_id")
  }

  /** (id, token-hash array) behind a barrier: the token hashes are computed
    * once per row and every downstream reference reads the stored array
    * (folding windows over a raw `transform(tokens, hash)` expression would
    * re-hash every token once per window — the CollapseProject trap). */
  private def tokenHashFrame(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Barrier.once(
      df.select(col(idCol).as("id"), col(textCol).as("__t")), Seq("id"),
      "th" -> transform(tokens(col("__t")), charHash _))

  /** (id, distinct hashed k-shingles), non-empty docs only, hash-partitioned
    * by id. The `repartition` is load-bearing: the shingle frame feeds the
    * banding/index chain AND both verification join sides, and all those
    * consumers need (or tolerate) hash(id) partitioning — planning them over
    * one explicit exchange lets Spark's exchange reuse compute the shingle
    * sets exactly once, with the shuffle files standing in for the cache an
    * earlier design persisted. Shingle hashes fold k-windows of the stored
    * token hashes (never materializing shingle strings), so the index join
    * and the exact-Jaccard verification all run on fixed-width longs (same
    * Jaccard modulo hash collisions at P ≈ 2^30; the oracle mirrors the
    * hashed sets, so parity is exact). */
  private[graft] def shingleFrame(df: DataFrame, idCol: String, textCol: String,
                                 shingleK: Int): DataFrame =
    Barrier.once(tokenHashFrame(df, idCol, textCol), Seq("id"),
        "sh" -> hashedShinglesFromTokenHashes(col("th"), shingleK))
      .filter(size(col("sh")) > 0)
      .repartition(col("id"))

  /** Band buckets holding more than this many documents are skipped by
    * the banded pair miners ([[minhashNearDup]], [[simhashNearDup]]).
    * A bucket of m members contributes m² candidate pairs INSIDE ONE
    * TASK (the join key is the bucket), so one hot bucket serializes the
    * whole job — the round-9 Zipfian ladder caught minhash 30+ minutes
    * single-core at the 50k rung because one common low-hash shingle won
    * the argmin for thousands of documents. A 1000-member bucket under a
    * 0.8-similarity target is ~all false positives (members share one
    * common feature, not 80% of them), so skipping trades ~nothing for
    * the m² bound; the DuckDB twins mirror the cap with this constant,
    * so parity holds wherever it bites. */
  val DefaultMaxBucket: Int = 1000

  /** Near-duplicate pairs via MinHash + LSH banding, verified with the exact
    * Jaccard on the shingle sets. `numHashes` minhashes in `bands` bands:
    * documents colliding in ≥1 band become candidates; candidates below
    * `minJaccard` are discarded by the exact check, so the only
    * approximation is possible false negatives from banding (including
    * members of buckets above `maxBucket`, skipped — see
    * [[DefaultMaxBucket]]). Output: (doc_a, doc_b, jaccard), doc_a < doc_b. */
  def minhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8,
                     minJaccard: Double = 0.8,
                     maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val r = numHashes / bands
    // localCheckpoint: three consumers (the signature barrier and both
    // verification join sides) sit on distinct plan branches whose scan
    // subtrees are not canonically identical (the join sides carry
    // inferred isnotnull/size filters), so exchange reuse cannot dedupe
    // them and the submitted plan tokenizes + shingles the corpus once
    // per branch. The checkpointed (id, sh) frame is one fixed-width-ish
    // row per document — strictly cheaper than the rebuilds at any scale
    // (the p122/p152 materialization convention); hash(id) partitioning
    // from the repartition survives into the checkpoint blocks.
    val docs = shingleFrame(df, idCol, textCol, shingleK).transform(graft.ops.Adaptive.materialize)
    // banded (id, band, bucket) only — 3 small columns; the shingle sets
    // rejoin for verification instead of riding through the self-join. The
    // signature is computed once per row behind a barrier (each of the
    // `bands` bucket folds references it) and materialized as one tiny
    // (id, 32-long sig) shuffle stage that both self-join sides reuse —
    // without it each side re-runs the signature over the shingle sets.
    val bandsDf = Barrier.once(docs, Seq("id"),
        "sig" -> minhashSig(col("sh"), numHashes))
      .repartition(col("id"))
      .select(col("id"),
        explode(array((0 until bands).map(bi =>
          struct(lit(bi).as("band"), bandSig(col("sig"), bi, r).as("bucket"))): _*))
          .as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // hot-bucket cap: the size aggregate has map-side partials (no skew),
    // and the join against the surviving bucket list drops a hot bucket's
    // m rows BEFORE they can meet as m² pairs in one task
    val eligible = bandsDf.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__m")).filter(col("__m") <= maxBucket)
      .select("band", "bucket")
    val capped = bandsDf.join(eligible, Seq("band", "bucket"))
    val candidates = capped.as("a").join(capped.as("b"), Seq("band", "bucket"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    candidates
      .join(docs.select(col("id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(docs.select(col("id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram Jaccard similarity pairs via an inverted-index join on
    * the shingle (the scalable exact counterpart to [[minhashNearDup]] —
    * candidate pairs materialize only where a shingle co-occurs, never
    * all-pairs). Output: (doc_a, doc_b, jaccard) with jaccard ≥ `minJaccard`.
    *
    * `maxShingleDf` bounds skew and is deliberately REQUIRED: a shingle
    * appearing in more than that many documents ("the end of the" at web
    * scale) contributes O(df²) candidate rows; capping drops it from the
    * INDEX ONLY — intersections lose those common shingles (jaccard becomes
    * a lower bound), which is the standard prefix-filtering trade. 0 = exact
    * (O(df²) on hot shingles — small corpora / verification only); at
    * 100 TB always run with a cap (the configuration
    * `p15b_ngram_jaccard_capped` oracle-verifies). Forcing the caller to
    * choose keeps the bare call from silently being the mode that dies at
    * scale.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        maxShingleDf: MaxDf,
                        shingleK: Int = 3, minJaccard: Double = 0.8): DataFrame = {
    // Hashed shingles: every index below shuffles fixed-width longs, not
    // n-gram strings — at web scale that is the difference between
    // shuffling hashes and shuffling the corpus.
    // localCheckpoint: the counting join reads the shingle frame from four
    // branches (index x/y sides, set sizes, df-cap filter) whose subtrees
    // differ by inferred filters — see the minhashNearDup note.
    val docs = shingleFrame(df, idCol, textCol, shingleK).transform(graft.ops.Adaptive.materialize)
    ngramJaccardCounting(docs, minJaccard, maxShingleDf.value)
  }

  /** The inverted-index counting join, shared by exact (cap 0) and capped
    * modes. Two prefix-filter alternatives exist: a round-8 PPJoin form
    * (df-ordered prefixes + verification rejoin) LOST here (~4.1 s vs
    * ~2.5 s at sf0.1 — df-annotation and per-doc window sorts), and the
    * round-10 array-domain form [[ngramJaccardPrefix]] (row-local sorted-
    * array prefixes, row-local array_intersect verification, output
    * pinned value-identical by spec) — see bench_records for the ladder
    * comparison that decides which candidate generation wins at which
    * density. The counting join remains the default; at web scale the
    * df-cap (p15b) is the documented path that bounds hot-shingle
    * blow-up either way. */
  private def ngramJaccardCounting(docs: DataFrame, minJaccard: Double,
                                   maxShingleDf: Int): DataFrame = {
    // the index carries the set size alongside (id, g): one extra long per
    // row buys the size-ratio prune below. size(sh) is computed above the
    // id-exchange, so the frame still reuses the single shingle stage.
    val exAll = docs.select(col("id"), size(col("sh")).cast("long").as("n"),
      explode(col("sh")).as("g"))
    // set sizes from the exploded index, not from `docs` directly: the
    // explode sides carry an inferred isnotnull(sh) filter that a plain
    // `size(sh)` branch would lack, splitting the canonical plan and
    // costing the exchange reuse that makes the shingle sets compute once.
    // `sh` is distinct, so per-id row count == set size, and the input is
    // already hash(id)-partitioned — this aggregate adds no shuffle.
    val sizes = exAll.groupBy("id").agg(count(lit(1)).as("n"))
    val ex =
      if (maxShingleDf <= 0) exAll
      else {
        // drop ultra-common shingles from the index before the self-join —
        // one cheap agg on the shingle key, the same shuffle the join needs.
        val rare = exAll.groupBy("g").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxShingleDf).select("g")
        exAll.join(rare, Seq("g"))
      }
    // epsilon: see the exact path — a ratio-exactly-t pair must survive.
    val sizeCompatible =
      col("x.n") + lit(1e-6) >= lit(minJaccard) * col("y.n") &&
        col("y.n") + lit(1e-6) >= lit(minJaccard) * col("x.n")
    val inter = ex.as("x").join(ex.as("y"),
        col("x.g") === col("y.g") && col("x.id") < col("y.id") && sizeCompatible)
      .groupBy(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.id"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sa.n") + col("sb.n") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Prefix-filtered twin of [[ngramJaccardCounting]] — identical output,
    * different candidate generation (the round-10 retry of the round-8
    * ppjoin experiment, this time in the ARRAY domain: the round-8 form
    * lost to df-annotation + per-doc window sorts; here the prefix is
    * `slice(array_sort(shc), …)` — row-local, no window, no extra
    * shuffle).
    *
    * Theory: under any global token order, if |A∩B| ≥ α then the first
    * |A|−α+1 tokens of A and the first |B|−α+1 of B share one. A pair can
    * only reach `minJaccard` when the (capped) intersection is ≥
    * ceil(t·n) of EITHER side (the size-compatible partner range bounds
    * t/(1+t)·(na+nb) below by t·na and t·nb), so only that prefix of each
    * document enters the candidate self-join — at t = 0.8 that is ~20% of
    * the index rows, ~4% of the join's candidate volume. Each surviving
    * (a, b) is then verified ROW-LOCALLY: `array_intersect` on the capped
    * shingle arrays, jaccard over FULL sizes — the exact numbers the
    * counting join computes, so the outputs match value-for-value.
    *
    * Trade vs the counting join: candidate volume shrinks ~25×, but the
    * capped arrays must materialize (capped mode: one collect_list over
    * the df-filtered index — the same shuffle volume as the counting
    * join's rare-join) and each candidate pays an O(na+nb) merge.
    * Which side wins depends on pair density — measured on the scaling
    * ladder, see bench_records. */
  private[graft] def ngramJaccardPrefix(df: DataFrame, idCol: String,
                                        textCol: String, maxShingleDf: MaxDf,
                                        shingleK: Int = 3,
                                        minJaccard: Double = 0.8): DataFrame = {
    val docs = shingleFrame(df, idCol, textCol, shingleK)
    val cap = maxShingleDf.value
    val base = docs.select(col("id"), size(col("sh")).cast("long").as("n"), col("sh"))
    val withC =
      if (cap <= 0) base.withColumn("shc", col("sh"))
      else {
        val exAll = docs.select(col("id"), explode(col("sh")).as("g"))
        val rare = exAll.groupBy("g").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("g")
        // docs whose shingles are ALL hot drop out of the inner join —
        // they have no index rows in the counting form either
        val capped = exAll.join(rare, Seq("g"))
          .groupBy("id").agg(collect_list(col("g")).as("shc"))
        base.join(capped, Seq("id"))
      }
    // required overlap for the most favorable eligible partner:
    // ceil(t·n − ε) (ε keeps a ratio-exactly-t pair alive under float
    // rounding); prefix = the smallest shc tokens that any qualifying
    // intersection must reach into
    val pref = withC.select(col("id"), col("n"),
      explode(expr(
        s"slice(array_sort(shc), 1, greatest(0, size(shc) - " +
          s"CAST(ceil($minJaccard * n - 1e-6) AS INT) + 1))")).as("g"))
    val sizeCompatible =
      col("x.n") + lit(1e-6) >= lit(minJaccard) * col("y.n") &&
        col("y.n") + lit(1e-6) >= lit(minJaccard) * col("x.n")
    val cand = pref.as("x").join(pref.as("y"),
        col("x.g") === col("y.g") && col("x.id") < col("y.id") && sizeCompatible)
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
      .distinct()
    cand
      .join(withC.select(col("id").as("doc_a"), col("shc").as("__sa"),
        col("n").as("__na")), Seq("doc_a"))
      .join(withC.select(col("id").as("doc_b"), col("shc").as("__sb"),
        col("n").as("__nb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("__na") + col("__nb") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Asymmetric CONTAINMENT pairs — the overlap coefficient
    * |A∩B| / min(|A|, |B|) over hashed k-shingle sets: the subset-duplicate
    * detector Jaccard structurally misses. A 100-shingle quote embedded in
    * a 5000-shingle page has Jaccard ≈ 0.02 (never crosses any near-dup
    * threshold) but containment 1.0 — and quote/boilerplate embedding is a
    * dominant duplication mode in web training data (the reason dedup
    * literature tracks containment alongside resemblance since Broder
    * 1997). Output: (doc_a, doc_b, containment), doc_a < doc_b, containment
    * ≥ `minContainment`.
    *
    * Scale shape: the same inverted-index counting join as
    * [[ngramJaccardPairs]] — candidate pairs materialize only where a
    * shingle co-occurs, fixed-width longs in every exchange. The Jaccard
    * size-ratio prune does NOT apply here (wildly different sizes are
    * exactly the pairs this operator exists to find), so the REQUIRED
    * df-cap is the only candidate bound — hot shingles leave the index
    * before pairing (containment becomes a lower bound, the standard
    * trade). `minShingles` drops documents whose set is trivially small
    * (a 1-shingle doc is "contained" in anything sharing that shingle —
    * noise, not duplication). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       maxShingleDf: MaxDf, shingleK: Int = 3,
                       minContainment: Double = 0.9,
                       minShingles: Int = 5): DataFrame = {
    // localCheckpoint: four consumers (index x/y sides, both size join
    // sides) — see the minhashNearDup note.
    val docs = shingleFrame(df, idCol, textCol, shingleK).transform(graft.ops.Adaptive.materialize)
    val exAll = docs.select(col("id"), size(col("sh")).cast("long").as("n"),
      explode(col("sh")).as("g"))
    val sizes = exAll.groupBy("id").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minShingles)
    val ex0 = exAll.filter(col("n") >= minShingles)
    val ex =
      if (maxShingleDf.value <= 0) ex0
      else {
        val rare = ex0.groupBy("g").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxShingleDf.value).select("g")
        ex0.join(rare, Seq("g"))
      }
    // no size-compatibility prune (see scaladoc); the intersection count
    // rides one hash aggregate on the (doc_a, doc_b) pair key
    val inter = ex.as("x").join(ex.as("y"),
        col("x.g") === col("y.g") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.id"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("sa.n"), col("sb.n")))
      .filter(col("containment") >= minContainment)
      .select("doc_a", "doc_b", "containment")
      .orderBy("doc_a", "doc_b")
  }

  /** Duplicate GROUPS from near-dup pairs: connected components of the
    * pair graph, labeled by the smallest member id (the canonical document
    * to keep — every dedup pipeline needs this step after pair mining,
    * since near-dup relations are not transitive but retention decisions
    * must be). Works over any of this engine's pair miners
    * ([[minhashNearDup]] / [[ngramJaccardPairs]] / [[simhashNearDup]] /
    * [[graft.ann.Similarity.nearDupPairs]]). Output: one row per document
    * that appears in ≥1 pair — (doc_id, group_id), group_id = min id of
    * its component.
    *
    * Algorithm: FRONTIER-FILTERED iterative min-label propagation with a
    * changed-map pointer jump (chaotic relaxation on the min-label
    * lattice). Labels converge monotonically, so after the full-width
    * round 0 a vertex can only improve through a label that CHANGED last
    * round: each round joins the cached edge list against just the
    * frontier (the changed (id, label) rows), merges the candidate minima
    * into the full label frame, and jumps any vertex whose label VALUE is
    * a frontier node to that node's new label. Every step only lowers a
    * label to another same-component node id, and a round with zero
    * changes proves label(a) ≤ label(b) across every edge in both
    * directions — the exact component-min fixpoint, identical to the old
    * full-map form and to the union-find path (the random-graph test in
    * TextDedupSpec pins the two paths equal, in both frontier modes).
    * The changed-map jump heals a stale label one round after the race
    * that copied it (see the round comment), so convergence stays
    * jump-accelerated — measured on the sf0.1 simhash pair graph
    * (diameter 14): 15 one-hop rounds → 6 (the full-map form measured 5;
    * the +1 is the delayed heal) — and is bounded by diameter + 1 rounds
    * REGARDLESS of staleness (the component-min value itself is never
    * stale, so its BFS wave is unimpeded). `maxIters` bounds pathological
    * graphs and non-convergence throws rather than returning wrong groups.
    *
    * Scale shape: every round shuffles only (long, long) label/edge rows —
    * never text or vectors — and per-round exchange volume DECAYS with
    * convergence (guide §2.2 reduce-before-exchange): the r16 full-map
    * loop re-shuffled every vertex every round (117 GB shuffle write /
    * 222 GB spill at 500M edges); the frontier loop's rounds ≥ 1 shuffle
    * the frontier, the matched edges' aggregate, and the candidate merge
    * — all frontier-sized — and once the frontier fits a broadcast
    * ([[FrontierBroadcastRows]]) both frontier joins run broadcast-hash.
    * Under AQE (Spark's default) a `localCheckpoint` keeps neither the
    * partitioning nor the ordering of the plan it truncates, so every
    * round still shuffles the full label frame by id for the merge, and
    * every shuffle-mode round re-shuffles and re-sorts the symmetric edge
    * list (visible in the per-round executed plans). Each label frame is
    * lazily `localCheckpoint`ed (the convergence probe materializes it),
    * which truncates lineage, so round r plans over flat inputs instead
    * of re-planning all r prior rounds — without the truncation the loop
    * is O(rounds²) in executed stages. Convergence is the probe's
    * changed-label count (0 = fixpoint), which also feeds the next
    * round's broadcast-vs-shuffle choice. The symmetric edge list is
    * checkpointed once, and the caller's raw edge cache + round-0
    * shuffle are released as soon as it is materialized (the r16 1B-rung
    * live-set fix). Local checkpoints
    * trade executor-loss recomputability for bounded lineage — the
    * standard iterative-graph trade, same as GraphX's periodic
    * checkpointing (swap for reliable `checkpoint()` on preemptible
    * clusters; see [[graft.ops.Adaptive.materialize]]). */
  /** Rounds the last [[duplicateGroups]] call ran before reaching its
    * fixpoint (including the confirming round) — observability for tests
    * and benchmarks; not part of the operator contract. */
  @volatile private[graft] var lastRounds: Int = 0

  def duplicateGroups(pairs: DataFrame, aCol: String, bCol: String,
                      maxIters: Int = 25,
                      localEdgeThreshold: Long = 10L * 1000 * 1000): DataFrame = {
    // the edge list is persisted for this call's scope: the plans BELOW
    // reference `e` several times and `pairs` is typically a whole mining
    // pipeline (simhash/LSH self-join) — without this boundary the miner
    // re-executes per reference (measured: p59's 7–8.5 s dropped to ~4 s).
    // Released in the finally below.
    // null ids carry no linkage: the iterative path would drop them at its
    // equi-joins anyway; filtering up front keeps the union-find path
    // (primitive-long encoders) behaviorally identical instead of throwing
    val e = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .persist()
    try {
      // the count materializes the miner ONCE into the persisted blocks
      // (the first downstream job would have anyway) and is the runtime
      // statistic the algorithm choice reads — the same data-driven
      // adaptivity AQE applies to join strategies, applied to the CC
      // algorithm: a pair graph under the threshold is solved EXACTLY by
      // one executor-side union-find task (a primitive long→long map at
      // 16 B/slot: ≤ ~20M nodes at the 10M-edge default fit 2^25 slots =
      // 512 MiB — an explicit, bounded budget; see LongLongMap);
      // above it, the iterative min-label loop below scales to any size.
      // Near-dup graphs are sparse by construction (banding bounds the
      // candidate volume), so at 100 TB most corpora still mine well past
      // the threshold and take the loop — the local path exists because
      // paying ~30 scheduled stages on a graph that fits in one task is
      // pure overhead, at ANY cluster size.
      val edgeCount = e.count()
      if (edgeCount <= localEdgeThreshold) localUnionFind(e)
      else iterativeGroups(e, maxIters)
    } finally { e.unpersist(false) }
  }

  /** Single-task exact union-find with path compression; union links the
    * larger root under the smaller, so each component's terminal root is
    * its minimum member — the same labeling the iterative path converges
    * to (TextDedupSpec's random-graph test pins them equal). The
    * result is eagerly checkpointed so the caller's plan reads the
    * computed blocks, not the mining lineage. */
  private def localUnionFind(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val flat = e.toDF("_1", "_2").as[(Long, Long)].coalesce(1)
      .mapPartitions { it =>
        // primitive open-addressing map (16 B/slot, 0.75 load): the boxed
        // HashMap[Long,Long] alternative costs ~50-80 B/entry, which at the
        // 10M-edge threshold (≤ ~20M nodes) is 1.5-2+ GB — past the budget
        // this path promises. See LongLongMap for the footprint math.
        val parent = new LongLongMap()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != r) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        // emit lazily: find() only path-compresses VALUES of existing keys
        // (safe during keysIterator, see LongLongMap) — materializing
        // .toArray here would box ~20M (Long, Long) tuples (~1 GB) beside
        // the primitive map, tripling the budget the map exists to bound
        parent.keysIterator.map(n => (n, find(n)))
      }
      .toDF("doc_id", "group_id")
      .localCheckpoint(true)
    lastRounds = 1
    flat.orderBy("doc_id")
  }

  /** Frontier rows at or below this broadcast in the frontier rounds:
    * 2M (long, long) rows is a ~64 MB broadcast relation — comfortably
    * inside the driver/executor budget at any deployment size, far under
    * the 8 GB broadcast cap. */
  private[text] val FrontierBroadcastRows: Long = 2000000L

  /** The distributed path: iterative min-label propagation with pointer
    * jumping over the (already persisted) edge list, at the session's
    * `spark.sql.shuffle.partitions`. `frontierBroadcastRows` is a test
    * seam (0 forces every frontier round into shuffle mode).
    *
    * Closed A/Bs, whose losing arms were deleted (recoverable at
    * `390d7f1`):
    *  - An edge-derived loop partition count (~4M sym rows per partition)
    *    measured worse at 500M edges: rounds 0/1 took 559/540 s against
    *    180/632 s and the run ran out of disk (bench_records/r16_cc.md).
    *  - Deserialized label checkpoints matched serialized ones on wall
    *    time at 30M edges with about 3× the GC time
    *    (bench_records/r11_scaling.md).
    *  - An unsorted `sym` paid a 2·|E|-row sort in every shuffle-mode
    *    round; sorting it once won all three paired 30M-edge reps, min of
    *    three by 16% (bench_records/r14_cc_sym.md).
    *  - A SHUFFLE_HASH hint on the frontier side did not beat the sorted
    *    merge join's min of three at 30M edges (bench_records/r14_cc_sym.md). */
  private[text] def iterativeGroups(e: DataFrame, maxIters: Int,
                                    frontierBroadcastRows: Long = FrontierBroadcastRows)
      : DataFrame = {
    val undirected = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    // Round-0 labels straight from the undirected edges: lab1 =
    // min(own id, min in-neighbor) = least(src, min(dst)). Persisted for
    // round 0's two consumers (the label rows and the pointer-jump map)
    // and released right after round 0's probe — no later round reads it
    // (the frontier rounds carry every node in the checkpointed label
    // frame itself, so the former self-loop union is gone entirely).
    val lab0 = undirected.groupBy(col("src").as("id")).agg(min(col("dst")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("lab1"))
      .persist()
    // each round's label table is #nodes UnsafeRow objects; serialized
    // storage packs them into per-partition byte arrays, shrinking the
    // old-gen object census the 30M-edge rung's GC band was traced to.
    val ckptLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    // symmetric closure (2·|E| rows — the per-node self-loops are gone:
    // the merge step below folds each node's own label in directly),
    // partitioned by dst — the key of EVERY round's edge⋈frontier join —
    // so the materialized edges satisfy the join's distribution and each
    // round shuffles only the frontier plus the post-join groupBy(src)
    // stage. ...and SORTED by that key within partitions: the shuffle-mode
    // rounds merge-join against it, and an UNSORTED cached sym pays a
    // fresh 2·|E|-row SortExec on the edge side in EVERY such round —
    // the dominant per-round cost the r13 100M rung surfaced (measured on
    // the 30M rung, on a persisted sym — r14_cc_sym.md; the checkpoint
    // below keeps neither property under AQE, see the scaladoc of
    // duplicateGroups). A lazy LOCAL CHECKPOINT rather than
    // a persist: it materializes at its first consumer (round 1's
    // candidate join) exactly like the persist did, but truncates lineage,
    // so the repartition's shuffle files and the caller's edge cache stop
    // being retained by reference — at the r16 1B-edge rung the live-set
    // peak that exhausted the disk held edge cache + round-0 shuffle +
    // sym simultaneously (bench_records/r16_cc.md); after round 1 the
    // loop now frees the first two eagerly (the executor-loss trade is
    // the loop's documented localCheckpoint trade, unchanged).
    val sym = undirected.repartition(col("dst")).sortWithinPartitions("dst")
      .localCheckpoint(false, ckptLevel)
    try {
      var labels: DataFrame = null
      var frontierRows = 0L
      var round = 0
      while (round < maxIters) {
        val next =
          if (round == 0) {
            // Round 0 is the one full-width round: labels are the identity
            // mapping, so lab1 = least(src, min dst) is precomputed by the
            // lab0 aggregate, and the pointer jump follows the full fresh
            // mapping one step (jmp = lab0(lab1) ≤ lab1). chg = the node
            // improved on its own id — the round-0 frontier.
            lab0.join(lab0.select(col("id").as("id2"), col("lab1").as("jmp")),
                col("lab1") === col("id2"))
              .select(col("id"), least(col("lab1"), col("jmp")).as("label"),
                (least(col("lab1"), col("jmp")) < col("id")).as("chg"))
              .localCheckpoint(false, ckptLevel)
          } else {
            // FRONTIER round (guide §2.2/§2.3 — reduce data before the
            // exchange): labels converge monotonically, so only labels
            // that CHANGED last round can improve a neighbor this round.
            // Propagating just the frontier makes the per-round exchange
            // volume decay with convergence instead of re-shuffling every
            // vertex every round — the r16 500M rung re-shuffled the full
            // label table 5× (117 GB written, 222 GB spilled); the decay
            // is visible as the per-round changed counts in the [cc]
            // debug lines and in bench_records/r17_cc.md.
            val fr = labels.filter(col("chg"))
            val small = frontierRows <= frontierBroadcastRows
            // when the frontier fits a broadcast, BOTH frontier joins run
            // broadcast-hash, so neither the edge list nor the label frame
            // shuffles for them.
            def maybeBcast(df: DataFrame): DataFrame =
              if (small) broadcast(df) else df
            val fd = fr.select(col("id").as("dst"), col("label").as("dl"))
            // candidate updates: min changed-neighbor label per vertex
            // adjacent to the frontier — the only edge work this round
            val cand = sym.join(maybeBcast(fd), Seq("dst"))
              .groupBy(col("src").as("id")).agg(min(col("dl")).as("cmin"))
            // delayed pointer jump: a vertex whose LABEL is a node that
            // just changed adopts that node's new label (jmp < label by
            // monotonicity). This is the classic jump restricted to the
            // changed map — a label pointing at a node that settled
            // earlier was already rewritten the round that node changed,
            // and the rare same-round race (a stale label copied while
            // its target moved) is healed one round later through the
            // edge that carried it. Chaotic relaxation: every step only
            // lowers a label to another same-component node id, and a
            // round with zero changes proves label(a) ≤ label(b) across
            // every edge in both directions — the exact component-min
            // fixpoint, same as the full-map form (TextDedupSpec's
            // random-graph test pins it against the union-find path).
            val jmpM = maybeBcast(
              fr.select(col("id").as("id2"), col("label").as("jmp")))
            labels.select(col("id"), col("label"))
              .join(jmpM, col("label") === col("id2"), "left")
              .select(col("id"), col("label").as("old"),
                coalesce(col("jmp"), col("label")).as("lab1"))
              .join(cand, Seq("id"), "left")
              .select(col("id"),
                least(col("lab1"), coalesce(col("cmin"), col("lab1"))).as("label"),
                (least(col("lab1"), coalesce(col("cmin"), col("lab1")))
                  < col("old")).as("chg"))
              .localCheckpoint(false, ckptLevel)
          }
        // Lineage ends at the LAZY local checkpoint: the convergence probe
        // below is the action that materializes it, so each round is ONE
        // job (probe + checkpoint fused) instead of an eager-checkpoint
        // job plus a probe job — measured ~25% off the loop's wall time
        // at sf0.1. The probe counts the round's changed labels: it both
        // decides convergence (0 = fixpoint) and feeds next round's
        // broadcast-vs-shuffle choice.
        val roundT0 = System.nanoTime()
        val probed = next.agg(sum(when(col("chg"), 1L))).head()
        val changed = if (probed.isNullAt(0)) 0L else probed.getLong(0)
        // dev observability only (CcBench sets it): where inside the loop
        // a wide wall-time band lives — never on in production paths
        if (sys.props.contains("graft.cc.debug"))
          println(f"[cc] round $round: ${(System.nanoTime() - roundT0) / 1e9}%.2f s" +
            f" changed=$changed")
        // next is materialized past its inputs now — release the PREVIOUS
        // round's checkpoint blocks instead of retaining one generation
        // per round for the loop's whole life (the accumulation OOM'd the
        // 30M-edge rung of the round-8 scaling ladder in an 8g JVM; a
        // cluster would shed them by LRU eviction, but holding garbage
        // until eviction is pressure for nothing at any size). Round 0
        // additionally releases lab0 (its only consumer) and, once sym is
        // materialized past it (round 1's probe), the caller's edge cache
        // — the round-1 live-set peak fix for the 1B rung (the caller's
        // finally re-unpersists harmlessly).
        if (round == 0) lab0.unpersist(false)
        if (round == 1) e.unpersist(false)
        if (labels != null) org.apache.spark.sql.GraftSqlBridge.releaseCheckpoint(labels)
        if (changed == 0L) {
          // fixpoint: no label moved this round, so every edge is
          // label-consistent in both directions; return the flat frame
          lastRounds = round + 1
          return next.select(col("id").as("doc_id"), col("label").as("group_id"))
            .orderBy("doc_id")
        }
        frontierRows = changed
        labels = next
        round += 1
      }
      throw new IllegalStateException(
        s"duplicateGroups did not converge in $maxIters rounds — " +
          "a component has diameter above maxIters; raise it")
    } finally { // e is released by the caller
      org.apache.spark.sql.GraftSqlBridge.releaseCheckpoint(sym)
      lab0.unpersist(false)
    }
  }

  private val SimhashBits = 30

  /** Per-document SimHash signatures — one narrow shuffle-free pass: the
    * fused [[graft.functions.SimHashSig]] consumes the token-hash
    * expression exactly once, so no barrier or exchange is needed at all.
    * Output: (id, simhash). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenHashFrame(df, idCol, textCol)
      .select(col("id"), simhashSig(col("th"), SimhashBits).as("simhash"))
      .orderBy("id")

  /** Near-duplicate pairs by SimHash Hamming distance ≤ `maxHamming`,
    * candidate-blocked on 15-bit signature halves (pigeonhole: any pair
    * with ≤1 differing bit shares at least one half, so recall is exact at
    * the default threshold; wider thresholds trade recall for candidate
    * volume — the standard banded-SimHash trade).
    * Buckets above `maxBucket` members are skipped ([[DefaultMaxBucket]]
    * — m² probe work lands in one task; a hot 15-bit bucket means m
    * near-identical signatures, which the exact-dedup pass upstream of
    * any near-dup mining already collapses).
    * Output: (doc_a, doc_b, hamming). */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 1,
                     maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // sig behind a barrier: it feeds both band expressions and rides to
    // the hamming check, and must be computed once per row. The repartition
    // materializes the 16-byte (id, sig) layer as one shuffle stage both
    // self-join sides reuse — without it each side re-tokenizes and
    // re-hashes the corpus.
    val sigs = Barrier.once(tokenHashFrame(df, idCol, textCol), Seq("id"),
      "sig" -> simhashSig(col("th"), SimhashBits))
      .repartition(col("id"))
    val banded0 = sigs.select(col("id"), col("sig"),
      explode(array((0 until 2).map(bi =>
        struct(lit(bi).as("band"), (shiftright(col("sig"), bi * 15) % 32768L).as("bucket"))): _*))
        .as("bb"))
      .select(col("id"), col("sig"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // hot-bucket cap (the minhashNearDup pattern): partial-agg sizes, then
    // drop hot buckets' rows before they meet as m² probe pairs
    val eligible = banded0.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__m")).filter(col("__m") <= maxBucket)
      .select("band", "bucket")
    val banded = banded0.join(eligible, Seq("band", "bucket"))
    val a = banded.select(col("band"), col("bucket"), col("id").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      // hamming BEFORE the pair dedup: bit_count is one codegen'd
      // instruction evaluated during the join probe, so filtering first
      // means the dedup exchange shuffles only surviving near-dups instead
      // of every bucket collision — at a hot bucket that is the difference
      // between shuffling O(k²) candidates and shuffling the answer.
      // Result-identical: hamming is deterministic per (doc_a, doc_b).
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** FineWeb-style dedup-scope report (Penedo et al. 2024 §3.2 — "what
    * does deduplication scope change?"): for every partition of the
    * corpus (source / crawl snapshot), how many documents a PER-SCOPE
    * exact dedup would remove versus a GLOBAL one, under the house
    * keep-min-doc_id rule over the [[exactDedup]] double-polynomial text
    * key. `n_cross_scope_extra` is the FineWeb delta — documents only a
    * global pass catches because their keeper lives in another scope.
    *
    * Scale shape: ONE occurrence exchange — the (scope, h1, h2) group
    * aggregate over a hash-only projection (text never shuffles, the
    * exactDedup contract); the global keeper table derives from the
    * per-scope GROUP table by re-aggregation (≤ one row per distinct
    * text per scope), and the join back is group-level, never
    * document-level. Every aggregate map-side-combines. */
  def scopedDedupReport(df: DataFrame, idCol: String, textCol: String,
                        scopeCol: String): DataFrame = {
    val n = Barrier.once(
      df.select(col(idCol).cast("long").as("id"),
        col(scopeCol).as("scope"), col(textCol).as("__t")),
      Seq("id", "scope"), "norm" -> normText(col("__t")))
    val keyed = n.select(col("id"), col("scope"),
      charHash(col("norm")).as("h1"),
      graft.functions.PolyHash(col("norm"), 11L, 37L, 998244353L).as("h2"))
    val perScope = keyed.groupBy("scope", "h1", "h2")
      .agg(min(col("id")).as("skeep"), count(lit(1)).as("n"))
    val global = perScope.groupBy("h1", "h2")
      .agg(min(col("skeep")).as("gkeep"))
    perScope.join(global, Seq("h1", "h2"))
      .groupBy("scope")
      .agg(sum(col("n")).as("n_docs"),
        sum(col("n") - 1L).as("n_removed_scoped"),
        sum(when(col("skeep") === col("gkeep"), col("n") - 1L)
          .otherwise(col("n"))).as("n_removed_global"))
      .select(col("scope").as("source"), col("n_docs"),
        col("n_removed_scoped"), col("n_removed_global"),
        (col("n_removed_global") - col("n_removed_scoped"))
          .as("n_cross_scope_extra"))
      .orderBy("source")
  }

  /** Cross-source contamination matrix: where near-duplicates come FROM
    * — every [[simhashNearDup]] pair labeled with its endpoints' sources
    * (orientation normalized so (source_a, source_b) is unordered), the
    * pair count per source pair, and each cell's share of all pairs. The
    * diagonal is within-source duplication; off-diagonal cells are the
    * cross-source contamination a scoped dedup (p141) would miss — this
    * is the "which pipelines are re-crawling each other" audit FineWeb
    * §3.2 motivates.
    *
    * Scale shape: the pair miner is the existing banded, hot-bucket-
    * capped simhash join; source labels attach by two id-keyed equi-joins
    * of an (id, source) projection — text never shuffles; the matrix is
    * ≤ |sources|² rows and the share a re-aggregation of it. */
  def contaminationMatrix(df: DataFrame, idCol: String, textCol: String,
                          scopeCol: String,
                          maxHamming: Int = 1,
                          maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val pairs = simhashNearDup(df, idCol, textCol, maxHamming, maxBucket)
    val src = df.select(col(idCol).as("__id"), col(scopeCol).as("__s"))
    val lab = pairs
      .join(src.select(col("__id").as("doc_a"), col("__s").as("sa0")), Seq("doc_a"))
      .join(src.select(col("__id").as("doc_b"), col("__s").as("sb0")), Seq("doc_b"))
      .select(least(col("sa0"), col("sb0")).as("source_a"),
        greatest(col("sa0"), col("sb0")).as("source_b"))
    val m = lab.groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
    val tot = m.agg(sum("n_pairs").as("__t"))
    m.crossJoin(broadcast(tot))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        (col("n_pairs").cast("double") / col("__t")).as("pair_share"))
      .orderBy("source_a", "source_b")
  }

  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken 2003
    * §4 — the MOSS algorithm): per document, the DISTINCT set of
    * window-minimum gram hashes, i.e. `min` over every window of `w`
    * consecutive token-`k`-gram hashes. The published guarantee: any two
    * documents sharing a token run of length ≥ w + k − 1 share at least
    * one fingerprint — substring-granular matching with ~1/w of the
    * grams' index size, the niche between MinHash (whole-document
    * Jaccard) and span dedup (exact fixed-k windows). Deviation from the
    * paper, documented: the rightmost-min tie rule exists to pick ONE
    * position per window for positional reporting; a SET of per-window
    * minima (the standard set-based simplification) selects the same
    * hash values, which is all the pair miner consumes. Documents with
    * fewer than `w` grams contribute the min of what they have (one
    * partial window); gram-less documents contribute nothing.
    * Row-local, one array fold per document. Output: (id, fp) exploded. */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowing: k and w must be >= 1")
    Barrier.once(
        df.select(col(idCol).as("id"), col(textCol).as("__t")), Seq("id"),
        "th" -> transform(tokens(col("__t")), charHash _))
      .select(col("id"), explode(array_distinct(
        graft.functions.WinnowMins(col("th"), k, w))).as("fp"))
  }

  /** The pure-HOF formulation [[winnowingFingerprints]] fuses — kept as
    * the executable specification the codegen'd
    * [[graft.functions.WinnowMins]] is tested against (the
    * charHashHof/PolyHash convention; the fused node cut fingerprinting
    * from ~half the p158 wall at the 500k ladder rung). */
  def winnowingFingerprintsHof(df: DataFrame, idCol: String, textCol: String,
                               k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowing: k and w must be >= 1")
    val grams = Barrier.once(
      Barrier.once(
        df.select(col(idCol).as("id"), col(textCol).as("__t")), Seq("id"),
        "th" -> transform(tokens(col("__t")), charHash _)),
      Seq("id"),
      // ORDERED, non-distinct gram hashes — winnowing needs positions
      "g" -> when(size(col("th")) >= k,
        transform(sequence(lit(1), size(col("th")) - (k - 1)),
          i => aggregate(slice(col("th"), i, lit(k)), lit(7L),
            (a, v) => (a * 31L + v) % P)))
        .otherwise(array().cast("array<long>")))
    grams.select(col("id"),
        explode(when(size(col("g")) >= w,
          array_distinct(transform(sequence(lit(1), size(col("g")) - (w - 1)),
            i => array_min(slice(col("g"), i, lit(w))))))
          .when(size(col("g")) >= 1, array(array_min(col("g"))))
          .otherwise(array().cast("array<long>"))).as("fp"))
  }

  /** Winnowing match report (the MOSS pair view): documents ranked by
    * shared fingerprint count. The inverted-index self-join on the
    * fingerprint value — the [[ngramJaccardPairs]] exchange shape over a
    * ~1/w-sized index — with the house hot-key df-cap: fingerprints in
    * more than `maxFpDf` documents leave the index before the join (the
    * p15b convention, oracle-mirrored; boilerplate fingerprints are
    * exactly the hot keys that would go quadratic at web scale).
    * Output: (doc_a, doc_b, n_shared) for pairs sharing ≥ `minShared`. */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
                     maxFpDf: MaxDf, k: Int = 5, w: Int = 4,
                     minShared: Int = 2): DataFrame = {
    // (id, fp) rows are already distinct — the fingerprint arrays are
    // array_distinct per document before the explode
    val fp = winnowingFingerprints(df, idCol, textCol, k, w)
    val rare = fp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxFpDf.value).select("fp")
    val ex = fp.join(rare, Seq("fp"))
    ex.as("x").join(ex.as("y"),
        col("x.fp") === col("y.fp") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }
}
