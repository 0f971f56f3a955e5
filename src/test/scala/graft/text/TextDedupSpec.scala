package graft.text

import graft.SparkSpec

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog near the old stone bridge " +
      "while rain falls softly on the quiet village road at dusk tonight"
  private val nearDup = base.replace("quiet village", "quiet little village")
  private val unrelated =
    "completely different content about database engines shuffle partitions " +
      "broadcast joins and adaptive query execution plans running at scale"

  private def docs = Seq(
    (1L, base),
    (2L, "  THE quick   brown fox jumps over the lazy dog near the old stone bridge " +
      "while rain falls softly on the quiet village road at dusk tonight  "),
    (3L, nearDup),
    (4L, unrelated)
  ).toDF("doc_id", "text")

  "exactDedup" should "merge case/whitespace variants and keep the min id" in {
    val out = TextDedup.exactDedup(docs, "doc_id", "text").collect()
    out.length shouldBe 3 // doc 1 and 2 normalize to the same text
    val merged = out.find(_.getAs[Long]("n_copies") == 2L).get
    merged.getAs[Long]("keep_id") shouldBe 1L
  }

  "minhashNearDup" should "find the planted near-dup pair and nothing else" in {
    val pairs = TextDedup.minhashNearDup(docs, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs should contain((1L, 2L)) // identical after normalization, j = 1.0
    pairs should contain((1L, 3L)) // near-dup
    pairs.map(p => Set(p._1, p._2)) should not contain Set(1L, 4L)
  }

  it should "report jaccard 1.0 for texts identical after normalization" in {
    val row = TextDedup.minhashNearDup(docs, "doc_id", "text", minJaccard = 0.5)
      .filter("doc_a = 1 AND doc_b = 2").collect().head
    row.getAs[Double]("jaccard") shouldBe 1.0
  }

  "ngramJaccardPairs" should "agree with minhash on high-similarity pairs" in {
    val exact = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", maxShingleDf = TextDedup.MaxDf(0), minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mh = TextDedup.minhashNearDup(docs, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // banding can only lose pairs, never invent them, and jaccard is exact in both
    mh.subsetOf(exact) shouldBe true
    exact.map(t => (t._1, t._2)) should contain((1L, 3L))
  }

  "ngramJaccardPairs with a df cap" should "drop ultra-common shingles and lower-bound jaccard" in {
    // every shingle of docs 1/2/3 co-occurs; a df cap of 1 empties the
    // index of shared shingles → no pairs survive (jaccard lower bound 0)
    val capped = TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
      minJaccard = 0.5, maxShingleDf = TextDedup.MaxDf(1))
    capped.count() shouldBe 0
    // a generous cap changes nothing on this corpus
    val loose = TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
      minJaccard = 0.5, maxShingleDf = TextDedup.MaxDf(1000))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", maxShingleDf = TextDedup.MaxDf(0), minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    loose shouldBe exact
  }

  "ngramJaccardPrefix" should "equal the counting join value-for-value in exact and capped modes" in {
    // the real corpora, both modes, full-row equality — the prefix filter
    // is a candidate-generation change only, so any divergence is a bug
    for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01");
         cap <- Seq(0, 4, 16)) {
      val real = spark.read.parquet(s"$sfDir/documents.parquet")
      val counting = TextDedup.ngramJaccardPairs(real, "doc_id", "text",
        TextDedup.MaxDf(cap)).collect().map(_.toSeq).toSeq
      val prefix = TextDedup.ngramJaccardPrefix(real, "doc_id", "text",
        TextDedup.MaxDf(cap)).collect().map(_.toSeq).toSeq
      withClue(s"$sfDir cap=$cap: ") { prefix shouldBe counting }
    }
    // and at a lower threshold, where prefixes are long
    val counting5 = TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
      TextDedup.MaxDf(0), minJaccard = 0.5).collect().map(_.toSeq).toSeq
    val prefix5 = TextDedup.ngramJaccardPrefix(docs, "doc_id", "text",
      TextDedup.MaxDf(0), minJaccard = 0.5).collect().map(_.toSeq).toSeq
    prefix5 shouldBe counting5
  }

  "p89 group representative" should "keep the highest-quality member of each dup group, ties to min id" in {
    // drive the REGISTERED composition and re-derive the expected argmax
    // sequentially from the same groups + quality outputs — this pins the
    // max(struct) keeper logic; the quality formula itself is pinned by
    // p18's oracle.
    val d = "/root/testdata/sf0.001"
    val ds = graft.sources.Tables.documents(spark, d)
    val got = graft.ops.DocAnalytics.queries("p89_group_representative")(spark, d)
      .collect()
      .map(r => r.getAs[Long]("group_id") ->
        ((r.getAs[Long]("rep_id"), r.getAs[Double]("rep_quality"),
          r.getAs[Long]("group_size"), r.getAs[Long]("n_discarded"))))
      .toMap
    val groups = TextDedup.duplicateGroups(
        TextDedup.simhashNearDup(ds, "doc_id", "text"), "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val quality = TextStats.stats(ds, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("quality_score")).toMap
    val expected = groups.groupBy(_._2).map { case (gid, members) =>
      val ids = members.map(_._1)
      val best = ids.maxBy(id => (quality(id), -id))
      gid -> ((best, quality(best), ids.length.toLong, ids.length.toLong - 1))
    }
    expected.nonEmpty shouldBe true
    expected.exists(_._2._4 > 0) shouldBe true // real multi-member groups
    got shouldBe expected
  }

  // threshold 0 forces the distributed loop — the small fixtures below
  // would otherwise take the single-task union-find path
  private val Iterative = 0L

  "duplicateGroups" should "label a diameter-9 chain by its min id in bounded rounds" in {
    // chain 1-2-…-10: the min label travels one hop per round, so this
    // exercises 9 propagation rounds — the case where an unbounded lineage
    // would nest 9 rounds of joins into every action.
    val pairs = (1L until 10L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val groups = TextDedup.duplicateGroups(pairs, "doc_a", "doc_b",
        localEdgeThreshold = Iterative)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    groups.map(_._1).toSeq shouldBe (1L to 10L)
    all(groups.map(_._2)) shouldBe 1L
  }

  it should "keep disconnected components apart (both paths)" in {
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    Seq(Iterative, 1000000L).foreach { thr =>
      val m = TextDedup.duplicateGroups(pairs, "doc_a", "doc_b",
          localEdgeThreshold = thr)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"threshold=$thr: ") { m shouldBe expect }
    }
  }

  it should "return empty groups for an empty pair set (both paths)" in {
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    Seq(Iterative, 1000000L).foreach { thr =>
      TextDedup.duplicateGroups(pairs, "doc_a", "doc_b",
        localEdgeThreshold = thr).count() shouldBe 0L
    }
  }

  it should "throw rather than return wrong groups when maxIters is too low" in {
    val pairs = (1L until 10L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    an[IllegalStateException] should be thrownBy
      TextDedup.duplicateGroups(pairs, "doc_a", "doc_b", maxIters = 2,
        localEdgeThreshold = Iterative)
  }

  it should "agree between the union-find and iterative paths on random graphs" in {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(70)
      val edges = Seq.fill(n) {
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)
      }.filter { case (a, b) => a != b }
      val pairs = edges.toDF("doc_a", "doc_b")
      def groups(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val local = groups(TextDedup.duplicateGroups(pairs, "doc_a", "doc_b"))
      val iter = groups(TextDedup.duplicateGroups(pairs, "doc_a", "doc_b",
        localEdgeThreshold = Iterative))
      // broadcast threshold 0: every frontier round runs in shuffle mode,
      // the mode that runs of 100M+ edges take
      val shuffled = groups(TextDedup.iterativeGroups(
        pairs.toDF("src", "dst"), maxIters = 25, frontierBroadcastRows = 0L))
      withClue(s"trial $trial (${edges.length} edges): ") {
        local shouldBe iter
        local shouldBe shuffled
      }
    }
  }

  it should "keep the shuffle-mode edge table sorted by dst and stored serialized" in {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
    import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.storage.{RDDBlockId, StorageLevel}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._

    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    // the symmetric edge table is the loop's only (src, dst) checkpoint
    def isSym(p: SparkPlan): Boolean = p.output.map(_.name) == Seq("src", "dst")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val levels = new java.util.concurrent.ConcurrentLinkedQueue[(Int, StorageLevel)]()
    val planListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (f == "localCheckpoint") plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // removals carry an invalid level
    val blockListener = new SparkListener {
      override def onBlockUpdated(u: SparkListenerBlockUpdated): Unit =
        u.blockUpdatedInfo.blockId match {
          case RDDBlockId(rdd, _) if u.blockUpdatedInfo.storageLevel.isValid =>
            levels.add(rdd -> u.blockUpdatedInfo.storageLevel)
          case _ => ()
        }
    }
    spark.listenerManager.register(planListener)
    spark.sparkContext.addSparkListener(blockListener)
    try {
      val chain = (1L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
      TextDedup.iterativeGroups(chain, maxIters = 25, frontierBroadcastRows = 0L)
        .collect().map(_.getLong(1)).distinct shouldBe Array(1L)
      eventually(timeout(30.seconds), interval(100.millis)) {
        val captured = plans.toArray(Array.empty[SparkPlan]).toSeq
        // the sym checkpoint itself: sorted by the candidate join's key
        val symPlan = captured.find(isSym)
        symPlan should not be empty
        nodes(symPlan.get).collect {
          case s: SortExec => s.sortOrder.flatMap(_.references.map(_.name))
        } should contain(Seq("dst"))
        // ...and read by every frontier round from serialized blocks
        val symRdds = captured.flatMap(nodes).collect {
          case r: RDDScanExec if isSym(r) => r.rdd.id
        }.distinct
        symRdds should have size 1
        val stored = levels.toArray(Array.empty[(Int, StorageLevel)]).toSeq
          .collect { case (id, level) if id == symRdds.head => level }
        stored should not be empty
        all(stored.map(_.deserialized)) shouldBe false
      }
    } finally {
      spark.listenerManager.unregister(planListener)
      spark.sparkContext.removeSparkListener(blockListener)
    }
  }

  it should "return a lineage-truncated plan (no join survives the loop)" in {
    val pairs = (1L until 10L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = TextDedup.duplicateGroups(pairs, "doc_a", "doc_b",
      localEdgeThreshold = Iterative)
    // the returned frame reads the final checkpointed label blocks — if any
    // Join leaks into its plan, the localCheckpoint truncation regressed and
    // per-round work is O(rounds) again
    out.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    } shouldBe empty
  }

  it should "group the simhash near-dup pairs transitively (the p37 composition)" in {
    val groups = TextDedup.duplicateGroups(
        TextDedup.simhashNearDup(docs, "doc_id", "text"), "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1/2 are identical post-normalization, doc 3 is the planted
    // near-dup: all three collapse into group 1; doc 4 pairs with nobody
    groups.getOrElse(1L, -1L) shouldBe 1L
    groups.getOrElse(2L, -1L) shouldBe 1L
    groups should not contain key(4L)
  }

  "simhash" should "assign equal signatures to normalized-identical texts" in {
    val sigs = TextDedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sigs(1L) shouldBe sigs(2L)
    sigs(1L) should not be sigs(4L)
  }

  "containmentPairs" should "find the subset duplicate Jaccard misses" in {
    val big = (1 to 60).map(i => s"tok$i").mkString(" ")          // 58 shingles
    val quote = (20 to 31).map(i => s"tok$i").mkString(" ")       // 10 shingles, all ⊂ big
    val other = (100 to 140).map(i => s"u$i").mkString(" ")
    val d = Seq((1L, big), (2L, quote), (3L, other)).toDF("doc_id", "text")
    // Jaccard: |∩|=10, |∪|=58 → 0.17, far below any near-dup threshold
    TextDedup.ngramJaccardPairs(d, "doc_id", "text", TextDedup.MaxDf(0))
      .count() shouldBe 0L
    val c = TextDedup.containmentPairs(d, "doc_id", "text", TextDedup.MaxDf(0))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    c.keySet shouldBe Set((1L, 2L))
    c((1L, 2L)) shouldBe 1.0 +- 1e-12 // the quote is fully contained
  }

  it should "drop trivially small sets and mirror the df-cap's lower-bound trade" in {
    val big = (1 to 60).map(i => s"tok$i").mkString(" ")
    val tiny = "tok5 tok6 tok7"                    // 1 shingle < minShingles
    val d = Seq((1L, big), (2L, tiny)).toDF("doc_id", "text")
    TextDedup.containmentPairs(d, "doc_id", "text", TextDedup.MaxDf(0))
      .count() shouldBe 0L
    // a cap below any shared shingle's df kills no pair here (all dfs = 2
    // ≤ cap), and capped containment never exceeds the uncapped value
    val quote = (20 to 31).map(i => s"tok$i").mkString(" ")
    val d2 = Seq((1L, big), (2L, quote)).toDF("doc_id", "text")
    val un = TextDedup.containmentPairs(d2, "doc_id", "text", TextDedup.MaxDf(0))
      .collect().map(_.getDouble(2)).head
    val cap = TextDedup.containmentPairs(d2, "doc_id", "text", TextDedup.MaxDf(2))
      .collect().map(_.getDouble(2)).head
    cap should be <= un + 1e-12
  }

  "simhashNearDup" should "pair the identical docs at hamming 0" in {
    val pairs = TextDedup.simhashNearDup(docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Long]("hamming"))).toMap
    pairs((1L, 2L)) shouldBe 0L
  }

  // sequential winnowing reference: ordered gram hashes, window-of-w
  // minima, distinct — the Schleimer §4 set-based form
  private def refFingerprints(text: String, k: Int, w: Int): Set[Long] = {
    val P = 1000000007L
    def h(s: String): Long =
      s.foldLeft(7L)((a, c) => (a * 31 + c.toLong) % P)
    val th = text.trim.toLowerCase.replaceAll("\\s+", " ").split(" ").map(h)
    val g = if (th.length >= k)
      (0 to th.length - k).map(i =>
        th.slice(i, i + k).foldLeft(7L)((a, v) => (a * 31 + v) % P))
    else Seq.empty[Long]
    if (g.size >= w) (0 to g.size - w).map(i => g.slice(i, i + w).min).toSet
    else if (g.nonEmpty) Set(g.min)
    else Set.empty
  }

  "winnowingFingerprints" should "match the sequential reference and honor the shared-run guarantee" in {
    val out = TextDedup.winnowingFingerprints(docs, "doc_id", "text")
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    Seq(1L -> base, 3L -> nearDup, 4L -> unrelated).foreach { case (id, t) =>
      out(id) shouldBe refFingerprints(t, 5, 4)
    }
    // guarantee: docs 1 and 3 share long token runs (>= w+k-1 = 8) ->
    // they must share a fingerprint; the unrelated doc shares none
    (out(1L) intersect out(3L)) should not be empty
    (out(1L) intersect out(4L)) shouldBe empty
    // normalization variants fingerprint identically
    out(2L) shouldBe out(1L)
  }

  it should "honor the published guarantee on random planted runs (property)" in {
    // Schleimer §4: any two documents sharing a token run of length
    // >= w + k - 1 (= 8 at the defaults) share at least one fingerprint.
    // 20 random trials: distinct per-doc vocabularies with one shared
    // run of random length 8..20 planted at random offsets — the pair
    // must always share a fingerprint; with the run REMOVED (disjoint
    // vocabularies), never.
    val rnd = new scala.util.Random(1581)
    (1 to 20).foreach { trial =>
      val runLen = 8 + rnd.nextInt(13)
      val run = (0 until runLen).map(_ => s"s${rnd.nextInt(50)}")
      def doc(prefix: String, withRun: Boolean): String = {
        val pad1 = (0 until rnd.nextInt(15)).map(_ => s"$prefix${rnd.nextInt(40)}")
        val pad2 = (0 until rnd.nextInt(15)).map(_ => s"$prefix${rnd.nextInt(40)}")
        ((pad1 ++ (if (withRun) run else Nil)) ++ pad2).mkString(" ")
      }
      val docs = Seq(
        (0L, doc("a", withRun = true)), (1L, doc("b", withRun = true)),
        (2L, doc("c", withRun = false)), (3L, doc("d", withRun = false))
      ).toDF("doc_id", "text")
      val fps = TextDedup.winnowingFingerprints(docs, "doc_id", "text")
        .collect().groupBy(_.getLong(0))
        .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
        .withDefaultValue(Set.empty[Long])
      withClue(s"trial $trial (runLen $runLen): ") {
        (fps(0L) intersect fps(1L)) should not be empty
        (fps(2L) intersect fps(3L)) shouldBe empty
      }
    }
  }

  it should "match the pure-HOF executable specification (fused WinnowMins)" in {
    // random lengths 0..20 cover gram-less (<k), partial-window (<w
    // grams) and normal documents; small vocab forces duplicate minima
    // so the distinct rule is exercised
    val rnd = new scala.util.Random(158)
    val corpus = (0L until 40L).map(id =>
      (id, (0 until rnd.nextInt(21))
        .map(_ => s"t${rnd.nextInt(7)}").mkString(" "))).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity)
    rows(TextDedup.winnowingFingerprints(corpus, "doc_id", "text")).toSeq shouldBe
      rows(TextDedup.winnowingFingerprintsHof(corpus, "doc_id", "text")).toSeq
  }

  it should "emit one partial-window fingerprint for short docs and none for gram-less docs" in {
    val tiny = Seq(
      (10L, "a b c d e f"), // 2 grams < w -> min of both, one fingerprint
      (11L, "a b")          // no 5-gram -> nothing
    ).toDF("doc_id", "text")
    val out = TextDedup.winnowingFingerprints(tiny, "doc_id", "text")
      .collect().groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    out.getOrElse(10L, 0) shouldBe 1
    out.getOrElse(11L, 0) shouldBe 0
  }

  "winnowingPairs" should "rank duplicate families by shared fingerprints under the df cap" in {
    val out = TextDedup.winnowingPairs(docs, "doc_id", "text",
        TextDedup.MaxDf(16), minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val m = out.map(t => (t._1, t._2) -> t._3).toMap
    // exact normalization twins share their whole fingerprint set
    m((1L, 2L)) shouldBe refFingerprints(base, 5, 4).size.toLong
    // the near-dup shares plenty but not everything
    m((1L, 3L)) should be > 0L
    m((1L, 3L)) should be < m((1L, 2L))
    // unrelated doc pairs with nobody
    out.exists(t => t._1 == 4L || t._2 == 4L) shouldBe false
  }

  "contaminationMatrix" should "count pairs per unordered source pair with exact shares" in {
    // doc 1 (crawlA) duplicates doc 2 (crawlB) -> one cross-source cell;
    // docs 5/6 are both crawlB duplicates -> one diagonal cell. Source
    // orientation must not depend on id order.
    val df = Seq(
      (1L, base, "crawlB"), (2L, base, "crawlA"),
      (5L, unrelated, "crawlB"), (6L, unrelated, "crawlB")
    ).toDF("doc_id", "text", "source")
    val out = TextDedup.contaminationMatrix(df, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    out.toSeq shouldBe Seq(
      ("crawlA", "crawlB", 1L, 0.5),
      ("crawlB", "crawlB", 1L, 0.5))
  }
}
