package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Rehearse._
import graft.text.{BpeTokenizer, TextCuration, TextDedup, TextStats}

/** The [[Rehearse]] rungs over rows, doc corpora and pair graphs. */
object TextRungs {

  /** The LOW-KEY-CARDINALITY window remedies (p52's bucketed
    * percentiles, p76's ranged trailing frame) against the naive
    * definitional plan (one full sort per key), 3 keys throughout — the
    * shape where a per-key window's parallelism collapses to 3 tasks.
    * Keys tick ~1/s (trailing hour ≈ 1200 rows in frame); values are a
    * hash mix with heavy low-end ties. The naive plans are O(n × frame)
    * in 3 tasks, so they skip sizes past SCALE_NAIVE_MAX. */
  def windows(c: Ctx): Unit = {
    val qs = Seq(0.5, 0.9, 0.99)
    val naiveMax = c.env.getOrElse("SCALE_NAIVE_MAX", "20000000").toLong
    for (n <- c.sizes(1000000L, 10000000L, 100000000L)) {
      val df = persisted(c.spark.range(n).select(
        concat(lit("lot"), (col("id") % 3).cast("string")).as("key"),
        (col("id") / 3).as("t"),
        pmod(hash(col("id")), lit(10000)).cast("long").as("v")))
      def naive(f: => Any) = if (n > naiveMax) None else Some(Fixed(time(f), 2))
      val ranged = time {
        graft.ops.RangedWindow.trailingCount(df, Seq("key"), "t", 3599L,
          numRanges = 32, out = "c").agg(sum("c")).head()
      }
      val naiveW = naive {
        val w = Window.partitionBy("key").orderBy(col("t").cast("long"))
          .rangeBetween(-3599, Window.currentRow)
        df.withColumn("c", count(lit(1)).over(w)).agg(sum("c")).head()
      }
      val bucketed = time {
        graft.ops.Percentiles.exactRankSelect(df, "key", "v", qs).collect()
      }
      val naiveP = naive {
        val byKey = Window.partitionBy("key")
        df.withColumn("rn", row_number().over(byKey.orderBy("v")))
          .withColumn("nn", count(lit(1)).over(byKey))
          .filter(qs.map(q =>
            col("rn") === greatest(lit(1), ceil(lit(q) * col("nn"))).cast("int"))
            .reduce(_ || _))
          .collect()
      }
      df.unpersist(false)
      emit("trailing_window", "rows" -> n, "ranged_sec" -> Fixed(ranged, 2), "naive_sec" -> naiveW)
      emit("percentiles", "rows" -> n, "bucketed_sec" -> Fixed(bucketed, 2), "naive_sec" -> naiveP)
    }
  }

  /** The corpus-shaped operators at ~1×/10×/100× of sf0.1's 5 000 docs,
    * on both corpora: dedup (p13, p14, p15b and its prefix twin, p87),
    * packing (p82), the p88–p90 family, p138, p141, p158 and the p89
    * representative stage; then, on the default ladder only (no sizes
    * given, since the doc sizes do not size them), CC (1M/10M edges take
    * union-find, 30M the iterative loop) and the ranged as-of at 1M/10M/100M
    * rows (p44, 3 keys). SPARK_GRAFT_OPS
    * limits the run to op-name prefixes, SPARK_GRAFT_CORPUS to one corpus;
    * the corpora are not built when no corpus op is selected. */
  def corpus(c: Ctx): Unit = {
    val spark = c.spark
    val opsFilter = c.env.get("SPARK_GRAFT_OPS").map(_.split(",").toSeq)
    def opOn(op: String) = opsFilter.forall(_.exists(op.startsWith))
    val corpusOps = Seq("exact_dedup", "minhash_neardup", "ngram_jaccard_df64",
      "ngram_jaccard_df64_prefix", "sequence_packing", "span_dedup",
      "span_scrub", "bigram_novelty", "group_representative",
      "lm_surprisal", "scoped_dedup", "winnowing_pairs")
    for (n <- c.sizes(5000L, 50000L, 500000L) if corpusOps.exists(opOn);
         cname <- Seq("uniform5k", "zipf50k") if c.env.get("SPARK_GRAFT_CORPUS").forall(_ == cname)) {
      val corpus = persisted(Synth.corpusNamed(spark, cname, n))
      def report(op: String)(f: => DataFrame): Unit = if (opOn(op))
        emit(op, "corpus" -> cname, "docs" -> n, "sec" -> Fixed(time(mat(f)), 2))
      report("exact_dedup")(TextDedup.exactDedup(corpus, "doc_id", "text"))
      report("minhash_neardup")(TextDedup.minhashNearDup(corpus, "doc_id", "text"))
      report("ngram_jaccard_df64")(TextDedup.ngramJaccardPairs(
        corpus, "doc_id", "text", TextDedup.MaxDf(64)))
      // the prefix-filtered twin: identical output, different candidates
      report("ngram_jaccard_df64_prefix")(TextDedup.ngramJaccardPrefix(
        corpus, "doc_id", "text", TextDedup.MaxDf(64)))
      report("sequence_packing")(TextCuration.sequencePacking(corpus, "doc_id", "text"))
      report("span_dedup")(TextDedup.spanDedup(corpus, "doc_id", "text"))
      // benchmark = every 20th doc (~5%), the held-out-set shape
      report("span_scrub")(TextDedup.spanScrub(
        corpus, corpus.filter(pmod(col("doc_id"), lit(20)) === 0), "doc_id", "text"))
      report("bigram_novelty")(TextStats.bigramNovelty(corpus, "doc_id", "text"))
      report("lm_surprisal")(TextStats.lmSurprisal(corpus, "doc_id", "text"))
      report("winnowing_pairs")(TextDedup.winnowingPairs(
        corpus, "doc_id", "text", TextDedup.MaxDf(16)))
      report("scoped_dedup")(TextDedup.scopedDedupReport(
        corpus.withColumn("source",
          concat(lit("s"), pmod(col("doc_id"), lit(20)).cast("string"))),
        "doc_id", "text", "source"))
      // p89: time only the argmax riding the group shuffle, over
      // precomputed groups and quality
      if (opOn("group_representative")) {
        val groups = persisted(TextDedup.duplicateGroups(
          TextDedup.simhashNearDup(corpus, "doc_id", "text"), "doc_a", "doc_b"))
        val quality = persisted(TextStats.stats(corpus, "doc_id", "text")
          .select(col("id").as("doc_id"), col("quality_score")))
        report("group_representative")(groups.join(quality, Seq("doc_id"))
          .groupBy("group_id")
          .agg(count(lit(1)).as("group_size"),
            max(struct(col("quality_score"), (-col("doc_id")).as("neg"),
              col("doc_id"))).as("best"))
          .select(col("group_id"), col("best.doc_id").as("rep_id"), col("group_size")))
        groups.unpersist(false); quality.unpersist(false)
      }
      corpus.unpersist(false)
    }
    val defaultLadder = c.args.isEmpty
    for (n <- Seq(1000000L, 10000000L, 30000000L) if defaultLadder && opOn("dedup_groups_cc")) {
      val edges = persisted(Synth.edges(spark, n))
      val cc = time(mat(TextDedup.duplicateGroups(edges, "doc_a", "doc_b")))
      edges.unpersist(false)
      emit("dedup_groups_cc", "edges" -> n, "sec" -> Fixed(cc, 2))
    }
    // p44's shape: 3 keys, snapshots every 100th tick, adaptive ranges
    for (n <- Seq(1000000L, 10000000L, 100000000L) if defaultLadder && opOn("asof_ranged")) {
      val key = concat(lit("lot"), pmod(col("id"), lit(3)).cast("string")).as("key")
      val left = persisted(spark.range(n).select(
        key, (col("id") / 3).as("t"), col("id").as("left_id")))
      val right = persisted(spark.range(0L, n, 100L).select(
        key, (col("id") / 3).as("rt"), (col("id") * 7).as("payload")))
      val asof = time(mat(graft.ops.AsOfJoin.asOfRanged(
        left, right, Seq("key"), "t", "rt", Seq("payload"))))
      left.unpersist(false); right.unpersist(false)
      emit("asof_ranged", "rows" -> n, "sec" -> Fixed(asof, 2))
    }
  }

  /** The iterative CC loop alone, `reps` times in one JVM, with per-run
    * wall, rounds, GC time and the per-round `[cc]` walls: the rung to
    * quantify a wide wall band without paying the whole ladder per
    * sample. `localEdgeThreshold = 0` forces the loop at any edge count. */
  def cc(c: Ctx): Unit = {
    val n = c.arg(0, 30000000L)
    System.setProperty("graft.cc.debug", "1")
    try for (rep <- 1 to c.arg(1, 3).toInt) {
      val edges = persisted(Synth.edges(c.spark, n))
      val m = measured(c.spark) {
        mat(TextDedup.duplicateGroups(edges, "doc_a", "doc_b", localEdgeThreshold = 0L))
      }
      edges.unpersist(true)
      emit("dedup_groups_cc", Seq("edges" -> n, "rep" -> rep, "sec" -> Fixed(m.sec, 2),
        "gc_sec" -> Fixed(m.gcSec, 2), "rounds" -> TextDedup.lastRounds) ++ m.snap.fields: _*)
    } finally System.clearProperty("graft.cc.debug")
  }

  /** The FULL production curation chain — exact dedup → near-dup CC
    * canonicalization → benchmark decontamination → PII scrub → Gopher
    * gate → mixture sampling → hash splits — each stage persisted and
    * counted on its own, so its wall, task skew and shuffle/spill bytes
    * belong to exactly one stage (the p78 query is one lazy
    * composition). SPARK_GRAFT_CORPUS picks the corpus. */
  def funnel(c: Ctx): Unit = {
    val spark = c.spark
    val cname = c.env.getOrElse("SPARK_GRAFT_CORPUS", "uniform5k")
    for (n <- c.sizes(1000000L, 10000000L)) {
      val ds = persisted(Synth.corpusNamed(spark, cname, n))
      def stage(name: String)(f: => DataFrame): DataFrame = {
        val m = measured(spark)(persisted(f))
        emit(s"funnel_$name", Seq("corpus" -> cname, "docs" -> n, "sec" -> Fixed(m.sec, 2),
          "rows" -> m.result.count()) ++ m.snap.fields: _*)
        m.result
      }
      val exactKeep = stage("exact_dedup") {
        TextDedup.exactDedup(ds, "doc_id", "text").select(col("keep_id").as("doc_id"))
      }
      // the keeper frame every later stage reads (p78's exchange reuse)
      val kdd = stage("keeper_join") {
        ds.join(exactKeep, "doc_id").repartition(col("doc_id"))
      }
      val pairs = stage("simhash_pairs") {
        TextDedup.simhashNearDup(kdd, "doc_id", "text")
      }
      // non-canonical members: everyone but the group minimum
      val dupMembers = stage("cc_members") {
        TextDedup.duplicateGroups(pairs, "doc_a", "doc_b")
          .filter(col("doc_id") =!= col("group_id")).select("doc_id")
      }
      val canon = stage("canonical_antijoin") {
        kdd.join(dupMembers, Seq("doc_id"), "left_anti").repartition(col("doc_id"))
      }
      // held-out set: the first min(1000, n/10) docs, each the seed of a
      // dup family, so the span removal bites but leaves docs for the
      // later stages at small n; its vocabulary broadcasts (p90)
      val bench = persisted(ds.filter(col("doc_id") < math.min(1000L, n / 10))
        .select("doc_id", "text"))
      val decon = stage("decontam_scrub") {
        TextDedup.spanScrub(canon.select("doc_id", "text"), bench, "doc_id", "text")
          .select(col("doc_id"), col("cleaned_text").as("text"))
      }
      val pii = stage("pii_scrub") {
        TextCuration.piiScrub(decon, "doc_id", "text")
          .select(col("id").as("doc_id"), col("clean_text").as("text"))
      }
      val keepq = stage("quality_gate") {
        TextCuration.repetitionStats(pii, "doc_id", "text")
          .filter(col("keep")).select(col("id").as("doc_id"))
      }
      // per-source token budgets filled in id order by the keyed prefix
      // sum (p96); source = doc_id mod 5, budget n takes ~60% of the mass
      val mix = stage("mixture_sample") {
        val keyed = pii.join(keepq, "doc_id")
          .select(col("doc_id"),
            concat(lit("src"), pmod(col("doc_id"), lit(5))).as("source"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
        TextCuration.tokenBudgetSample(keyed, "doc_id", "source", "n_tokens", budget = n)
          .select(col("id").as("doc_id"))
      }
      val splits = measured(spark) {
        TextCuration.hashSplit(pii.join(mix, "doc_id"), "doc_id", "text")
          .groupBy("split").agg(count(lit(1)).as("c")).orderBy("split").collect()
      }
      emit("funnel_split", Seq("corpus" -> cname, "docs" -> n, "sec" -> Fixed(splits.sec, 2)) ++
        splits.result.map(r => r.getString(0) -> r.getLong(1)) ++ splits.snap.fields: _*)
      Seq(exactKeep, kdd, pairs, dupMembers, canon, bench, decon, pii, keepq, mix, ds)
        .foreach(_.unpersist(false))
    }
  }

  /** The banded miners on a Zipf-1.2 corpus (hotter than the ladder's
    * Zipf-1.0), with each op's task-duration distribution: the caps and
    * AQE should keep p99/median small under adversarial key skew. */
  def skew(c: Ctx): Unit =
    for (n <- c.sizes(500000L)) {
      val corpus = persisted(Synth.corpusZipfS(c.spark, n, s = 1.2))
      val hot = corpus.select(explode(split(col("text"), " ")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
        .agg(max("c").as("mx"), sum("c").as("tot")).head()
      emit("skew_corpus", "docs" -> n, "s" -> 1.2,
        "hottest_token_share" -> Fixed(hot.getLong(0).toDouble / hot.getLong(1), 4))
      def run(op: String)(f: => DataFrame): Unit = {
        val m = measured(c.spark)(mat(f))
        emit(op, Seq("docs" -> n, "s" -> 1.2, "sec" -> Fixed(m.sec, 2),
          "p99_over_median" -> Fixed(m.snap.p99OverMedian, 2)) ++ m.snap.fields: _*)
      }
      run("skew_span_dedup")(TextDedup.spanDedup(corpus, "doc_id", "text"))
      run("skew_scoped_dedup")(TextDedup.scopedDedupReport(
        corpus.withColumn("source",
          concat(lit("s"), pmod(col("doc_id"), lit(20)).cast("string"))),
        "doc_id", "text", "source"))
      run("skew_winnowing")(TextDedup.winnowingPairs(
        corpus, "doc_id", "text", TextDedup.MaxDf(16)))
      run("skew_ngram_jaccard")(TextDedup.ngramJaccardPairs(
        corpus, "doc_id", "text", TextDedup.MaxDf(64)))
      corpus.unpersist(false)
    }

  /** The banded SimHash miner's bucket occupancy: it self-joins on
    * (band, bucket), so a task's probe work is Σ m² over its buckets.
    * Prints the occupancy histogram by log2(m), the top-10 occupancies,
    * and Σ m² per hash partition at the session's shuffle-partition
    * count — hot buckets (salt them) or partition placement. */
  def buckets(c: Ctx): Unit = {
    val nPart = c.spark.conf.get("spark.sql.shuffle.partitions").toInt
    val cname = c.env.getOrElse("SPARK_GRAFT_CORPUS", "zipf50k")
    for (n <- c.sizes(10000000L)) {
      val ds = persisted(Synth.corpusNamed(c.spark, cname, n))
      // the miner's banded frame: two 15-bit halves of the 30-bit sig
      val banded = TextDedup.simhash(ds, "doc_id", "text").select(col("id"),
        explode(array((0 until 2).map(bi =>
          struct(lit(bi).as("band"),
            (shiftright(col("simhash"), bi * 15) % 32768L).as("bucket"))): _*)).as("bb"))
        .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      val occ = banded.groupBy("band", "bucket").agg(count(lit(1)).as("m")).persist()
      val hist = occ.withColumn("cls", floor(log2(col("m"))))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_buckets"), sum("m").as("rows"),
          sum(col("m") * col("m")).as("probe"))
        .orderBy("cls").collect()
      val tot = hist.map(_.getLong(3)).sum
      hist.foreach { r =>
        emit("bucket_hist", "docs" -> n, "corpus" -> cname, "log2_m" -> r.getLong(0),
          "n_buckets" -> r.getLong(1), "rows" -> r.getLong(2), "probe" -> r.getLong(3),
          "probe_share" -> Fixed(r.getLong(3).toDouble / tot, 4))
      }
      val top = occ.orderBy(col("m").desc).limit(10).collect().map(_.getLong(2)).toSeq
      emit("bucket_top10", "docs" -> n, "top_m" -> top, "probe_total" -> tot)
      val parts = occ
        .withColumn("p", pmod(hash(col("band"), col("bucket")), lit(nPart)))
        .groupBy("p").agg(sum(col("m") * col("m")).as("probe"))
        .select("probe").collect().map(_.getLong(0)).sorted
      def pct(q: Double) = parts(math.min(parts.length - 1, (q * parts.length).toInt))
      emit("bucket_parts", "docs" -> n, "n_parts" -> parts.length,
        "probe_min" -> parts.head, "probe_med" -> pct(0.5), "probe_max" -> parts.last,
        "max_over_med" -> Fixed(parts.last.toDouble / math.max(1L, pct(0.5)), 2))
      occ.unpersist(false); ds.unpersist(false)
    }
  }

  /** p152's semantic packing on a degenerate all-one-cell corpus of
    * constant three-token docs, so the delta is pure prefix-sum
    * topology: `numRanges = 1` is the old one-partition-per-cell funnel,
    * `Auto` the shipped (cell, id-range) two-level sum. */
  def packing(c: Ctx): Unit =
    for (n <- c.sizes(1000000L, 4000000L, 16000000L)) {
      val docs = persisted(c.spark.range(n)
        .select(col("id").as("doc_id"), lit("w w w").as("text")))
      val cells = persisted(c.spark.range(n)
        .select(col("id").as("vec_id"), lit(0L).as("cell")))
      for ((shape, nr) <- Seq("funnel" -> 1, "two_level" -> graft.ops.Adaptive.Auto)) {
        val s = time(mat(TextCuration.semanticPacking(
          docs, "doc_id", "text", cells, budgetTokens = 512L, numRanges = nr)))
        emit(s"semantic_packing_$shape", "rows" -> n, "sec" -> s)
      }
      docs.unpersist(false); cells.unpersist(false)
    }

  /** BPE train wall vs MERGE COUNT (the distributed loop pays one Spark
    * job per merge) and apply wall for the fused expression vs the
    * replace-fold chain, on the Zipf corpus (enough pair diversity for
    * ≥ 1000 merges). */
  def bpe(c: Ctx): Unit = {
    val nDocs = c.arg(0, 5000L)
    val docs = persisted(Synth.corpusZipf(c.spark, nDocs))
    val vocab = BpeTokenizer.vocabulary(docs, "text").persist()
    val nVocab = vocab.count()
    val tCollect = time(vocab.select("word", "freq").collect())
    val vocabRows = vocab.select("word", "freq").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    emit("bpe_vocab", "n_docs" -> nDocs, "n_vocab" -> nVocab, "collect_sec" -> Fixed(tCollect, 3))
    for (m <- Seq(40, 200, 1000, 4000)) {
      val (t, merges) = timed(BpeTokenizer.trainMergesLocal(vocabRows, m))
      emit("bpe_train_local", "n_merges" -> m, "trained" -> merges.length, "sec" -> Fixed(t, 3))
      // the fused apply's plan is ONE node whatever the merge count
      val tApply = time(mat(BpeTokenizer.tokenize(docs, "doc_id", "text", merges)))
      emit("bpe_apply_fused", "n_merges" -> merges.length, "sec" -> Fixed(tApply, 3))
      // the chain only where its plan still analyzes in reasonable time
      if (m <= 200) {
        val tChain = time(mat(BpeTokenizer.tokenizeSpec(docs, "doc_id", "text", merges)))
        emit("bpe_apply_chain", "n_merges" -> merges.length, "sec" -> Fixed(tChain, 3))
      }
    }
    val tDist = time(BpeTokenizer.trainMergesDistributed(vocab, 40))
    emit("bpe_train_distributed", "n_merges" -> 40, "sec" -> Fixed(tDist, 3),
      "sec_per_merge" -> Fixed(tDist / 40, 4))
  }
}
