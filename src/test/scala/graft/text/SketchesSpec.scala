package graft.text

import graft.SparkSpec

/** Accuracy claims for the sketch operators (their VALUES are pinned by
  * the DuckDB oracle; these pin that the sketches are actually good). */
class SketchesSpec extends SparkSpec {

  private def docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")

  "hllGroupedCardinality" should "equal the GLOBAL sketch computed per key subset" in {
    import org.apache.spark.sql.functions.col
    val grouped = Sketches.hllGroupedCardinality(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    grouped.keySet.size should be > 1 // a real multi-key report
    grouped.keySet.foreach { lang =>
      val g = Sketches.hllShingleCardinality(
        docs.filter(col("lang") === lang), "doc_id", "text").head()
      grouped(lang) shouldBe
        ((g.getAs[Long]("n_present"), g.getAs[Long]("n_exact"),
          g.getAs[Double]("estimate")))
    }
  }

  "hllShingleCardinality" should "estimate within the theoretical error band" in {
    val r = Sketches.hllShingleCardinality(docs, "doc_id", "text").head()
    val exact = r.getAs[Long]("n_exact")
    val est = r.getAs[Double]("estimate")
    exact should be > 0L
    // 1.04/sqrt(256) ≈ 6.5% standard error; allow 3 sigma
    math.abs(est - exact) / exact.toDouble should be < 0.20
  }

  it should "be exact-ish and saturation-free on a tiny corpus" in {
    import spark.implicits._
    val tiny = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val r = Sketches.hllShingleCardinality(tiny, "doc_id", "text").head()
    r.getAs[Long]("n_exact") shouldBe 2L // two distinct 3-shingles, deduped
    r.getAs[Long]("n_present") shouldBe 2L
  }

  "hllRegisters" should "converge to the batch register table when fed as a stream" in {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    // chunk the documents into 5 json files → ≥5 micro-batches; the
    // monotone per-register max must merge incrementally to exactly the
    // batch table, with state bounded at 256 rows throughout.
    val dir = tempDir("graft-hll-stream")
    val lines = docs.orderBy("doc_id")
      .select(to_json(struct(col("doc_id"), col("text"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, lines.length / 5)).zipWithIndex.foreach {
      case (chunk, i) =>
        val f = dir.resolve(f"chunk-$i%03d.json")
        Files.write(f, String.join("\n", chunk: _*).getBytes("UTF-8"))
        f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val ckpt = tempDir("graft-hll-ckpt").toString
    val q = Sketches.hllRegisters(stream, "doc_id", "text")
      .writeStream.outputMode("complete").format("memory")
      .queryName("hll_regs_stream")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val streamed = spark.table("hll_regs_stream").collect()
      .map(r => (r.getAs[Long]("register"), r.getAs[Long]("m_j"))).toSet
    val batch = Sketches.hllRegisters(docs, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("register"), r.getAs[Long]("m_j"))).toSet
    streamed shouldBe batch
  }

  "cmsCells" should "converge to the batch cell table when fed as a stream" in {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val dir = tempDir("graft-cms-stream")
    val lines = docs.orderBy("doc_id")
      .select(to_json(struct(col("doc_id"), col("text"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, lines.length / 4)).zipWithIndex.foreach {
      case (chunk, i) =>
        val f = dir.resolve(f"chunk-$i%03d.json")
        Files.write(f, String.join("\n", chunk: _*).getBytes("UTF-8"))
        f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val ckpt = tempDir("graft-cms-ckpt").toString
    val q = Sketches.cmsCells(stream, "text")
      .writeStream.outputMode("complete").format("memory")
      .queryName("cms_cells_stream")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Int]("row"), r.getAs[Long]("cell")) -> r.getAs[Long]("c")).toMap
    toMap(spark.table("cms_cells_stream").collect()) shouldBe
      toMap(Sketches.cmsCells(docs, "text").collect())
  }

  "kmvState" should "merge: split halves re-selected equal the full-corpus state" in {
    import org.apache.spark.sql.functions._
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 =!= 0)
    val merged = Sketches.kmvMerge(Sketches.KmvK, Seq(
        Sketches.kmvState(half1, "doc_id", "text"),
        Sketches.kmvState(half2, "doc_id", "text")))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("v"))).toSet
    val full = Sketches.kmvState(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("v"))).toSet
    merged shouldBe full
    full.size shouldBe Sketches.KmvK
  }

  it should "merge OVERLAPPING states to the union's bottom-k" in {
    // the normal sketch-union case: two states built over corpora that
    // share rows. Without the id-dedup the shared ids enter the heap
    // twice, displacing distinct ids and fanning the value join out to
    // duplicate rows — this pins both failure modes.
    import org.apache.spark.sql.functions._
    val twoThirdsA = docs.filter(col("doc_id") % 3 =!= 0) // residues 1,2
    val twoThirdsB = docs.filter(col("doc_id") % 3 =!= 1) // residues 0,2 — overlap on 2
    val merged = Sketches.kmvMerge(Sketches.KmvK, Seq(
        Sketches.kmvState(twoThirdsA, "doc_id", "text"),
        Sketches.kmvState(twoThirdsB, "doc_id", "text")))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("v")))
    val full = Sketches.kmvState(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("v"))).toSet
    merged.length shouldBe merged.toSet.size // no duplicate (id, v) rows
    merged.toSet shouldBe full
  }

  it should "keep every row when the corpus is smaller than k" in {
    val tiny = docs.limit(10)
    Sketches.kmvState(tiny, "doc_id", "text").count() shouldBe 10L
  }

  it should "converge to the batch sample when fed as a stream" in {
    // the bottom-k heap is a streaming-mergeable aggregate (monotone
    // under union, like the HLL register max): complete-mode output over
    // micro-batches must equal the batch bottom-k id set, with state
    // bounded at k entries throughout
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val dir = tempDir("graft-kmv-stream")
    val lines = docs.orderBy("doc_id")
      .select(to_json(struct(col("doc_id"), col("text"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, lines.length / 4)).zipWithIndex.foreach {
      case (chunk, i) =>
        val f = dir.resolve(f"chunk-$i%03d.json")
        Files.write(f, String.join("\n", chunk: _*).getBytes("UTF-8"))
        f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val ckpt = tempDir("graft-kmv-ckpt").toString
    // the id-only heap half of kmvState (the join back to values is
    // per-batch derivable; the STATE is the sampled id set)
    val sampled = stream
      .select(col("doc_id").as("id"),
        (-((col("doc_id") * lit(2654435761L)) % lit(1000000007L)))
          .cast("double").as("negPr"))
      .agg(graft.functions.TopKAgg.topk(col("negPr"), col("id"),
        Sketches.KmvK).as("top"))
    val q = sampled.writeStream.outputMode("complete").format("memory")
      .queryName("kmv_stream").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val streamedIds = spark.table("kmv_stream")
      .select(explode(col("top")).as("e")).select(col("e.neighbor_id"))
      .collect().map(_.getLong(0)).toSet
    val batchIds = Sketches.kmvState(docs, "doc_id", "text")
      .collect().map(_.getAs[Long]("id")).toSet
    streamedIds shouldBe batchIds
  }

  "kmvQuantiles" should "estimate within the uniform-sample error band" in {
    val rows = Sketches.kmvQuantiles(docs, "doc_id", "text").collect()
    rows.length shouldBe 6
    rows.foreach { r =>
      val est = r.getAs[Long]("est_value")
      val exact = r.getAs[Long]("exact_value")
      exact should be > 0L
      // k=256 uniform sample: order-stat standard error ~1/sqrt(k) of the
      // local density; token counts span ~15-100, allow a generous band
      math.abs(est - exact).toDouble / exact should be < 0.25
      r.getAs[Long]("abs_error") shouldBe est - exact
    }
  }

  "kmvQuantiles" should "reject probes outside (0, 1]" in {
    an[IllegalArgumentException] should be thrownBy
      Sketches.kmvQuantiles(docs, "doc_id", "text", probes = Seq(0.5, 1.5))
    an[IllegalArgumentException] should be thrownBy
      Sketches.kmvQuantiles(docs, "doc_id", "text", probes = Seq.empty)
  }

  it should "fail fast with a named message on an empty corpus" in {
    val ex = the[IllegalArgumentException] thrownBy
      Sketches.kmvQuantiles(docs.limit(0), "doc_id", "text")
    ex.getMessage should include("non-empty corpus")
  }

  "cmsTokenFrequency" should "never underestimate and bound the collision error" in {
    val rows = Sketches.cmsTokenFrequency(docs, "doc_id", "text").collect()
    rows.length shouldBe 10
    rows.foreach { r =>
      val exact = r.getAs[Long]("tf_exact")
      val over = r.getAs[Long]("overestimate")
      over should be >= 0L // CMS collisions only ever add
      // 4 rows × 1024 cells on this corpus: expected collision mass per
      // cell is total_tokens/1024; min-of-4 keeps error well under 10%
      over.toDouble / exact.toDouble should be < 0.10
    }
  }
}
