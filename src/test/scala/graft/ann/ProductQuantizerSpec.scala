package graft.ann

import graft.SparkSpec
import graft.functions.AnnPrims
import org.apache.spark.sql.functions._

class ProductQuantizerSpec extends SparkSpec {
  import spark.implicits._

  // Four 8-d vectors, quantized as m=2 subspaces of 4 dims. v1 and v2 are
  // close (differ by 0.01 in one dim), v3 is far, v4 is opposite v1.
  private def emb = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f, 1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.99f, 0.01f, 0.0f, 0.0f, 1.0f, 0.0f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f, 0.0f, 0.0f, 1.0f, 0.0f, 0.0f)),
    (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f, -1.0f, 0.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  "lowestIdCodebooks" should "seed each subspace from the k lowest-id subvectors" in {
    val cb = ProductQuantizer.lowestIdCodebooks(emb, "vec_id", "embedding", m = 2, k = 2)
    cb.length shouldBe 2
    cb(0).length shouldBe 2
    cb(0)(0).toSeq shouldBe Seq(1.0f, 0.0f, 0.0f, 0.0f) // v1's first subvector
    cb(0)(1).toSeq shouldBe Seq(0.99f, 0.01f, 0.0f, 0.0f) // v2's
    cb(1)(0).toSeq shouldBe Seq(1.0f, 0.0f, 0.0f, 0.0f)
    cb(1)(1).toSeq shouldBe Seq(1.0f, 0.0f, 0.0f, 0.0f) // v2's second = v1's
  }

  "lowestIdCodebooks" should "fail fast when the dim is not divisible by m" in {
    // round-12 advice: a silent floor here would null every encode
    val e = intercept[IllegalArgumentException] {
      ProductQuantizer.lowestIdCodebooks(emb, "vec_id", "embedding", m = 3)
    }
    e.getMessage should include("not divisible")
  }

  "encode" should "assign each seed vector its own code (ties toward the smaller code)" in {
    val cb = ProductQuantizer.lowestIdCodebooks(emb, "vec_id", "embedding", m = 2, k = 2)
    val codes = ProductQuantizer.encode(emb, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    codes(1L) shouldBe Seq(0, 0)
    // v2's first subvector matches its own seed entry exactly; its second
    // subvector ties between the two identical entries → smaller code 0.
    codes(2L) shouldBe Seq(1, 0)
    // every code is in range for every vector
    codes.values.foreach { cs =>
      cs.length shouldBe 2
      cs.foreach(c => c should (be >= 0 and be < 2))
    }
  }

  "decode" should "reconstruct a vector exactly when its subvectors are codebook entries" in {
    val cb = ProductQuantizer.lowestIdCodebooks(emb, "vec_id", "embedding", m = 2, k = 2)
    val rec = ProductQuantizer.encode(emb, "vec_id", "embedding", cb)
      .filter(col("vec_id") === 1L)
      .select(ProductQuantizer.decode(col("codes"), cb).as("de"))
      .collect().head.getSeq[Float](0)
    rec shouldBe Seq(1.0f, 0.0f, 0.0f, 0.0f, 1.0f, 0.0f, 0.0f, 0.0f)
  }

  "PqEncode" should "equal the declarative array_min construction on real embeddings, in both eval modes" in {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = ProductQuantizer.trainCodebooks(corpus, "vec_id", "embedding")
    def check(): Unit = {
      val rows = corpus.select(
        graft.functions.PqEncode(col("embedding"), cb).as("fast"),
        ProductQuantizer.encodeSpec(col("embedding"), cb).as("spec"))
        .collect()
      rows.length should be > 10
      rows.foreach(r => r.getSeq[Int](0) shouldBe r.getSeq[Int](1))
    }
    check()
    withConf(NoCodegen) { check() }
  }

  it should "return null for a length-mismatched vector" in {
    val cb = ProductQuantizer.lowestIdCodebooks(emb, "vec_id", "embedding", m = 2, k = 2)
    val r = Seq(Tuple1(Array(1.0f, 2.0f, 3.0f))).toDF("v")
      .select(graft.functions.PqEncode(col("v"), cb).as("c"))
      .collect().head
    r.isNullAt(0) shouldBe true
  }

  "trainCodebooks" should "be deterministic and not increase reconstruction error" in {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def err(cb: ProductQuantizer.Codebooks): Double =
      ProductQuantizer.encode(corpus, "vec_id", "embedding", cb)
        .join(corpus.select(col("vec_id").cast("long").as("vec_id"),
          col("embedding")), "vec_id")
        .select(AnnPrims.l2sq(col("embedding"),
          ProductQuantizer.decode(col("codes"), cb)).as("e"))
        .agg(sum(col("e"))).collect().head.getDouble(0)
    val seed = ProductQuantizer.lowestIdCodebooks(corpus, "vec_id", "embedding")
    val t1 = ProductQuantizer.trainCodebooks(corpus, "vec_id", "embedding")
    val t2 = ProductQuantizer.trainCodebooks(corpus, "vec_id", "embedding")
    t1.zip(t2).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => x.toSeq shouldBe y.toSeq }
    }
    val (e0, e1) = (err(seed), err(t1))
    info(f"reconstruction error: seed $e0%.2f -> trained $e1%.2f")
    e1 should be <= e0
  }

  "knnPq" should "rank by exact distance when the codebook reconstructs exactly" in {
    // k = 4 seeds every distinct subvector -> decode is the identity on
    // this corpus, so ADC distances are the true L2 distances and the
    // ranking is fully determined: from v1, v2 is nearest, then v3, v4.
    val cb = ProductQuantizer.lowestIdCodebooks(emb, "vec_id", "embedding", m = 2, k = 4)
    val out = ProductQuantizer.knnPq(emb, "vec_id", "embedding",
      col("vec_id") === 1L, cb, k = 3).collect()
    out.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(2L, 3L, 4L)
    out.head.getAs[Double]("dist") shouldBe (0.01 * 0.01 + 0.01 * 0.01) +- 1e-9
    out.last.getAs[Double]("dist") shouldBe 8.0 +- 1e-9
  }

  "knnIvfPq" should "equal the exhaustive ADC scan when every cell is probed" in {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pred = col("vec_id") < 5
    val cb = ProductQuantizer.trainCodebooks(corpus, "vec_id", "embedding")
    val cents = Similarity.lowestIdCentroids(corpus, "vec_id", "embedding", 4)
    val full = ProductQuantizer.knnPq(corpus, "vec_id", "embedding", pred, cb)
      .collect().map(_.toSeq).toSeq
    val ivf = ProductQuantizer.knnIvfPq(corpus, "vec_id", "embedding", pred,
      cents, cb, nProbe = 4).collect().map(_.toSeq).toSeq
    ivf shouldBe full
  }

  "residuals" should "be the exact float32 difference against the assigned centroid" in {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.lowestIdCentroids(corpus, "vec_id", "embedding", 4)
    val centById = cents.toMap
    val joined = ProductQuantizer.residuals(corpus, "vec_id", "embedding", cents)
      .join(corpus.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding")), "vec_id")
      .collect()
    joined.length should be > 100
    joined.foreach { r =>
      val cell = r.getAs[Long]("cell")
      val res = r.getSeq[Float](r.fieldIndex("r"))
      val v = r.getSeq[Float](r.fieldIndex("embedding"))
      val cv = centById(cell)
      res.indices.foreach { i =>
        java.lang.Float.floatToRawIntBits(res(i)) shouldBe
          java.lang.Float.floatToRawIntBits(v(i) - cv(i))
      }
    }
  }

  "trainResidualCodebooks" should "not increase residual reconstruction error" in {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.lowestIdCentroids(corpus, "vec_id", "embedding", 4)
    val rv = ProductQuantizer.residuals(corpus, "vec_id", "embedding", cents)
    def err(cb: ProductQuantizer.Codebooks): Double =
      rv.select(AnnPrims.l2sq(col("r"),
          ProductQuantizer.decode(
            graft.functions.PqEncode(col("r"), cb), cb)).as("e"))
        .agg(sum(col("e"))).collect().head.getDouble(0)
    val seed = ProductQuantizer.lowestIdCodebooks(rv, "vec_id", "r")
    val trained = ProductQuantizer.trainResidualCodebooks(
      corpus, "vec_id", "embedding", cents)
    val (e0, e1) = (err(seed), err(trained))
    info(f"residual reconstruction error: seed $e0%.2f -> trained $e1%.2f")
    e1 should be <= e0
  }

  "knnIvfPqResidual" should "rank by exact distance when residuals reconstruct exactly" in {
    // one coarse cell + k=4 residual codes seed every distinct residual
    // subvector -> decode is the identity on residuals, so ADC distances
    // are (q-c)-(v-c) folds of the true differences: from v1, v2 nearest,
    // then v3, then v4 — the knnPq ordering.
    val cents = Similarity.lowestIdCentroids(emb, "vec_id", "embedding", 1)
    val rv = ProductQuantizer.residuals(emb, "vec_id", "embedding", cents)
    val cb = ProductQuantizer.lowestIdCodebooks(rv, "vec_id", "r", m = 2, k = 4)
    val out = ProductQuantizer.knnIvfPqResidual(emb, "vec_id", "embedding",
      col("vec_id") === 1L, cents, cb, k = 3, nProbe = 1).collect()
    out.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(2L, 3L, 4L)
    out.head.getAs[Double]("dist") shouldBe (0.01 * 0.01 + 0.01 * 0.01) +- 1e-9
    out.last.getAs[Double]("dist") shouldBe 8.0 +- 1e-9
  }

  it should "beat raw-vector codes on clustered data at the same tiny (m, k) budget" in {
    // The residual tier's premise (Jégou et al. §IV): when data clusters,
    // residuals against the cluster centers have far less variance than
    // the raw vectors, so a small codebook spends its codes on the noise
    // instead of re-describing cluster geometry. Deterministic clustered
    // corpus: 4 well-separated centers + small hash noise; k=4 codes per
    // subspace is deliberately starved so raw PQ must burn codes on the
    // centers. (On an UNCLUSTERED corpus residual ≈ raw by construction —
    // measured 0.70 vs 0.76 on the uniform sf0.01 synthetic — which is
    // why this property needs planted structure to test.)
    val dim = 64
    val centers = Array.tabulate(4) { c =>
      Array.tabulate(dim)(j => if (j % 4 == c) 1.0f else 0.0f)
    }
    val rows = (0L until 800L).map { id =>
      val c = (id % 4).toInt
      val v = Array.tabulate(dim) { j =>
        val h = ((id * 1315423911L + j * 2654435761L) % 1000003L).toFloat / 1000003.0f
        centers(c)(j) + 0.05f * (h - 0.5f)
      }
      (id, v)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val pred = col("vec_id") < 20
    val bf = Similarity.knnBruteForce(corpus, "vec_id", "embedding", pred)
      .select("query_id", "neighbor_id").persist()
    def recall(approx: org.apache.spark.sql.DataFrame): Double =
      bf.join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id")).count().toDouble / bf.count()
    val cents = Similarity.trainIvfCentroids(corpus, "vec_id", "embedding",
      nCells = 4, iters = 3)
    val rawCb = ProductQuantizer.trainCodebooks(corpus, "vec_id", "embedding",
      m = 8, k = 4)
    val resCb = ProductQuantizer.trainResidualCodebooks(corpus, "vec_id",
      "embedding", cents, m = 8, k = 4)
    val rRaw = recall(ProductQuantizer.knnPq(corpus, "vec_id", "embedding",
      pred, rawCb))
    val rRes = recall(ProductQuantizer.knnIvfPqResidual(corpus, "vec_id",
      "embedding", pred, cents, resCb, nProbe = 4))
    bf.unpersist(false)
    info(f"recall@5 on clustered corpus: raw $rRaw%.3f residual $rRes%.3f")
    rRes should be > rRaw
  }

  "knnIvfPqResidualLut" should "agree with the decode-ADC residual search up to float association" in {
    val corpus = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val pred = col("vec_id") < 20
    val cents = Similarity.lowestIdCentroids(corpus, "vec_id", "embedding", 8)
    val cb = ProductQuantizer.trainResidualCodebooks(corpus, "vec_id",
      "embedding", cents, m = 16)
    val dec = ProductQuantizer.knnIvfPqResidual(corpus, "vec_id", "embedding",
      pred, cents, cb).select("query_id", "neighbor_id", "dist")
    val lut = ProductQuantizer.knnIvfPqResidualLut(corpus, "vec_id",
      "embedding", pred, cents, cb).select("query_id", "neighbor_id", "dist")
    val joined = dec.as("d").join(lut.as("l"), Seq("query_id", "neighbor_id"))
      .select(col("d.dist").as("dd"), col("l.dist").as("dl")).collect()
    // same candidates, same per-pair distance up to the m-term vs dim-term
    // association difference (exact arithmetic would be equal)
    joined.length should be >= 95 // of 100; boundary ties may swap rank 5
    joined.foreach(r =>
      math.abs(r.getDouble(0) - r.getDouble(1)) should be < 1e-9)
  }

  it should "rank exactly when residuals reconstruct exactly" in {
    val cents = Similarity.lowestIdCentroids(emb, "vec_id", "embedding", 1)
    val rv = ProductQuantizer.residuals(emb, "vec_id", "embedding", cents)
    val cb = ProductQuantizer.lowestIdCodebooks(rv, "vec_id", "r", m = 2, k = 4)
    val out = ProductQuantizer.knnIvfPqResidualLut(emb, "vec_id", "embedding",
      col("vec_id") === 1L, cents, cb, k = 3, nProbe = 1).collect()
    out.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(2L, 3L, 4L)
    out.head.getAs[Double]("dist") shouldBe (0.01 * 0.01 + 0.01 * 0.01) +- 1e-9
  }

  it should "restrict candidates to the probed cells" in {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pred = col("vec_id") < 5
    val cb = ProductQuantizer.trainCodebooks(corpus, "vec_id", "embedding")
    val cents = Similarity.lowestIdCentroids(corpus, "vec_id", "embedding", 4)
    val oneProbe = ProductQuantizer.knnIvfPq(corpus, "vec_id", "embedding", pred,
      cents, cb, nProbe = 1)
    val fourProbe = ProductQuantizer.knnIvfPq(corpus, "vec_id", "embedding", pred,
      cents, cb, nProbe = 4)
    oneProbe.count() should be <= fourProbe.count()
  }

  "knnIvfPqRerank" should "equal exact brute force when the shortlist covers the corpus" in {
    // IVFADC+R's limiting case: probe every cell and widen the shortlist
    // past the corpus size, and the re-rank IS brute force — same
    // neighbors, same ranks, same cosine bits (the ADC stage then only
    // selects candidates, never ranks survivors). Pins the full
    // shortlist→fetch→re-score path against the independent p21 operator.
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pred = col("vec_id") < 5
    val cents = Similarity.lowestIdCentroids(corpus, "vec_id", "embedding", 8)
    val cb = ProductQuantizer.trainResidualCodebooks(
      corpus, "vec_id", "embedding", cents, m = 16)
    val rr = ProductQuantizer.knnIvfPqRerank(corpus, "vec_id", "embedding",
      pred, cents, cb, kShort = 1000, nProbe = 8).collect().map(_.toSeq)
    val bf = Similarity.knnBruteForce(corpus, "vec_id", "embedding", pred)
      .select(col("query_id").cast("long"), col("knn_rank"),
        col("neighbor_id"), col("sim")).collect().map(_.toSeq)
    rr.toSeq shouldBe bf.toSeq
  }

  it should "recover recall the ADC tier dropped, per query" in {
    // the p130 property on the real corpus: a 30-deep exact re-rank
    // dominates the ADC-only top-5 on every query, and recovers full
    // recall here (sf0.001 has 500 vectors across 8 cells, so the true
    // top-5 sits comfortably inside a 30-deep exhaustive-probe shortlist)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pred = col("vec_id") < 10
    val cents = Similarity.lowestIdCentroids(corpus, "vec_id", "embedding", 8)
    val cb = ProductQuantizer.trainResidualCodebooks(
      corpus, "vec_id", "embedding", cents, m = 16)
    val bf = Similarity.knnBruteForce(corpus, "vec_id", "embedding", pred)
      .select("query_id", "neighbor_id").persist()
    def perQueryHits(approx: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      bf.join(approx.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"))
        .groupBy("query_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val adc = perQueryHits(ProductQuantizer.knnIvfPqResidual(
      corpus, "vec_id", "embedding", pred, cents, cb, nProbe = 8))
    val rr = perQueryHits(ProductQuantizer.knnIvfPqRerank(
      corpus, "vec_id", "embedding", pred, cents, cb,
      kShort = 30, nProbe = 8))
    (0L until 10L).foreach { q =>
      rr.getOrElse(q, 0L) should be >= adc.getOrElse(q, 0L)
      rr.getOrElse(q, 0L) shouldBe 5L // full recall at this depth
    }
    bf.unpersist()
  }
}
