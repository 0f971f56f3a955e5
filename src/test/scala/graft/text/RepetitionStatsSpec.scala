package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the Gopher repetition signals: hand-computed fixture values,
  * the U+0020-only trim contract, UTF8-binary gram tie-breaks (the one
  * place Java's compareTo would silently diverge from both engines'
  * sort order), degenerate inputs, codegen/interpreted agreement, and
  * the published-threshold filter. */
class RepetitionStatsSpec extends SparkSpec {
  import spark.implicits._

  private def signals(rows: Seq[(Long, String)]) =
    TextStats.repetitionSignals(rows.toDF("doc_id", "text"), "doc_id", "text")

  "repetitionSignals" should "match the hand-computed fixture" in {
    // lines: "a b a b a b"(11 ch), "x", "x" → 3 lines, 1 dup;
    // line chars 13, distinct 12; tokens a b a b a b x x (norm 15 ch):
    // top bigram "a b"×3 (9/15), trigram tie "a b a"/"b a b" ×2 → utf8
    // smaller "a b a" (10/15); four 5-gram windows, all distinct.
    val r = signals(Seq((1L, "a b a b a b\nx\nx"))).collect().head
    r.getAs[Long]("n_lines") shouldBe 3L
    r.getAs[Long]("n_dup_lines") shouldBe 1L
    r.getAs[Double]("dup_line_frac") shouldBe (1.0 / 3.0)
    r.getAs[Double]("dup_line_char_frac") shouldBe (1.0 / 13.0)
    r.getAs[String]("top_2gram") shouldBe "a b"
    r.getAs[Long]("top_2gram_count") shouldBe 3L
    r.getAs[Double]("top_2gram_char_frac") shouldBe (9.0 / 15.0)
    r.getAs[Double]("top_3gram_char_frac") shouldBe (10.0 / 15.0)
    r.getAs[Long]("n_5grams") shouldBe 4L
    r.getAs[Long]("n_dup_5grams") shouldBe 0L
    r.getAs[Double]("dup_5gram_frac") shouldBe 0.0
  }

  it should "trim lines on U+0020 only, like both engines' trim" in {
    // "y \t" == "y \t" but != "y": exactly 1 duplicate line of 3. A
    // Java String.trim (which also strips \t) would collapse all three
    // to "y" and report 2 — the silent divergence this pins against.
    val r = signals(Seq((1L, "y \t\ny \t\ny"))).collect().head
    r.getAs[Long]("n_lines") shouldBe 3L
    r.getAs[Long]("n_dup_lines") shouldBe 1L
  }

  it should "break gram-count ties in UTF8-binary order, not UTF-16" in {
    // "ﬀ b" (U+FB00) vs "😀 a" (U+1F600): both bigrams occur twice. In
    // UTF8/code-point order ﬀ < 😀 (the DuckDB collation and Spark sort
    // order); Java compareTo would order the surrogate pair FIRST and
    // pick "😀 a".
    val r = signals(Seq((1L, "😀 a 😀 a ﬀ b ﬀ b")))
      .collect().head
    r.getAs[Long]("top_2gram_count") shouldBe 2L
    r.getAs[String]("top_2gram") shouldBe "ﬀ b"
  }

  it should "zero out cleanly on empty and whitespace-only docs" in {
    val rs = signals(Seq((1L, ""), (2L, "   "))).collect()
    rs.foreach { r =>
      r.getAs[Long]("n_lines") shouldBe 0L
      r.getAs[Double]("dup_line_frac") shouldBe 0.0
      r.getAs[Double]("dup_line_char_frac") shouldBe 0.0
      r.getAs[String]("top_2gram") shouldBe null
      r.getAs[Long]("top_2gram_count") shouldBe 0L
      r.getAs[Double]("top_2gram_char_frac") shouldBe 0.0
      r.getAs[Double]("top_3gram_char_frac") shouldBe 0.0
      r.getAs[Long]("n_5grams") shouldBe 0L
      r.getAs[Double]("dup_5gram_frac") shouldBe 0.0
    }
  }

  it should "follow the house split convention on interior-whitespace docs" in {
    // "\n\n \n" normalizes to " " (trim strips U+0020 only, then \s+
    // collapses), which splits to TWO empty tokens — so the top bigram
    // is the single space with count 1 and full char coverage. Both
    // engines agree (DuckDB's trim/string_split do the same); this pins
    // the convention so a helpful-looking special case can't drift the
    // expression away from its oracle.
    val r = signals(Seq((1L, "\n\n \n"))).collect().head
    r.getAs[Long]("n_lines") shouldBe 0L
    r.getAs[String]("top_2gram") shouldBe " "
    r.getAs[Long]("top_2gram_count") shouldBe 1L
    r.getAs[Double]("top_2gram_char_frac") shouldBe 1.0
  }

  it should "agree between codegen and interpreted eval on the real corpus" in {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(): Seq[Seq[Any]] =
      TextStats.repetitionSignals(docs, "doc_id", "text")
        .collect().map(_.toSeq).toSeq
    val fast = run()
    withConf(NoCodegen) { run() shouldBe fast }
    fast.length.toLong shouldBe docs.count()
  }

  "gopherQualityRules" should "pass a clean doc and flag each rule in its own direction" in {
    val cleanBody = Array.fill(12)("the data of stream flows").mkString(" ")
    val out = TextStats.gopherQualityRules(Seq(
      (1L, cleanBody),                               // 60 words, mean 4, 2 stops
      (2L, "the data of short"),                     // word_count 4 < 50
      (3L, Array.fill(60)("ab").mkString(" ")),      // mean word len 2 < 3
      (4L, cleanBody + " " + Array.fill(10)("#").mkString(" ")), // symbols
      (5L, "• " + cleanBody),                        // its ONE line is a bullet
      (6L, cleanBody + "...\nthe data of stream flows...") // 2/2 ellipsis lines
    ).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    out(1L).getAs[Boolean]("kept") shouldBe true
    out(1L).getAs[Long]("n_distinct_stopwords") shouldBe 2L
    out(1L).getAs[Double]("mean_word_len") shouldBe 4.0
    out(2L).getAs[Boolean]("bad_word_count") shouldBe true
    out(3L).getAs[Boolean]("bad_mean_word_len") shouldBe true
    out(4L).getAs[Boolean]("bad_symbol_ratio") shouldBe true
    out(5L).getAs[Boolean]("bad_bullets") shouldBe true
    out(5L).getAs[Double]("bullet_line_frac") shouldBe 1.0
    out(6L).getAs[Boolean]("bad_ellipsis") shouldBe true
    Seq(2L, 3L, 4L, 5L, 6L).foreach { id =>
      out(id).getAs[Boolean]("kept") shouldBe false
    }
  }

  "curationReport" should "melt per-rule counts with exact fractions" in {
    val cleanBody = Array.fill(12)("the data of stream flows").mkString(" ")
    val qual = TextStats.gopherQualityRules(Seq(
      (1L, cleanBody), (2L, "the data of short"),
      (3L, Array.fill(60)("ab").mkString(" "))
    ).toDF("doc_id", "text"), "doc_id", "text")
    val rep = TextStats.gopherRepetitionFilter(Seq(
      (1L, "spam spam spam spam spam spam"),
      // distinct words: cleanBody is 12 repeats and would (correctly)
      // trip the repetition rules it passes the QUALITY rules with
      (2L, "the quick brown fox jumps over a lazy dog while seven wise " +
        "owls watch from tall oak trees beside an old stone bridge " +
        "near quiet river banks under pale winter skies tonight"),
      (3L, "dup line\ndup line\ndup line\nunique closing line")
    ).toDF("doc_id", "text"), "doc_id", "text")
    val rows = TextStats.curationReport(qual, rep).collect()
    rows.length shouldBe 14 // 8 quality + 6 repetition rule rows
    val m = rows.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    m(("quality", "kept")).getAs[Long]("n_flagged") shouldBe 1L
    m(("quality", "kept")).getAs[Long]("n_docs") shouldBe 3L
    m(("quality", "kept")).getAs[Double]("frac") shouldBe (1.0 / 3.0)
    m(("quality", "bad_word_count")).getAs[Long]("n_flagged") shouldBe 1L
    m(("quality", "bad_mean_word_len")).getAs[Long]("n_flagged") shouldBe 1L
    m(("repetition", "kept")).getAs[Long]("n_flagged") shouldBe 1L
    m(("repetition", "bad_dup_lines")).getAs[Long]("n_flagged") shouldBe 1L
  }

  "gopherRepetitionFilter" should "drop the planted repetitive doc and keep clean text" in {
    val out = TextStats.gopherRepetitionFilter(Seq(
      (1L, "spam spam spam spam spam spam"), // top bigram ×5 → way past 0.20
      // long enough that a single-occurrence top gram stays under the
      // published char-fraction thresholds (Gopher targets web docs; a
      // 10-word sentence would trip top-3-gram at len/doc_len > 0.18)
      (2L, "the quick brown fox jumps over a lazy dog while seven wise " +
        "owls watch from tall oak trees beside an old stone bridge " +
        "near quiet river banks under pale winter skies tonight"),
      (3L, "dup line\ndup line\ndup line\nunique closing line") // 2/4 dup lines
    ).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    out(1L).getAs[Boolean]("bad_top_2gram") shouldBe true
    out(1L).getAs[Boolean]("kept") shouldBe false
    out(2L).getAs[Boolean]("kept") shouldBe true
    out(3L).getAs[Boolean]("bad_dup_lines") shouldBe true
    out(3L).getAs[Boolean]("kept") shouldBe false
  }
}
