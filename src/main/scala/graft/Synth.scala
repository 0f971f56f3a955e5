package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic inputs for the [[Rehearse]] rungs: doc
  * corpora, a pair graph and embedding vectors. Everything is
  * expression-only (no driver loops, no RNG state), so a size always
  * yields the same rows. Synthetic on purpose: the sf dirs stop at 5 000
  * docs/vectors, and the operators' cost drivers (duplicate rate, token
  * skew, component structure, cluster structure) are controlled here.
  * `ScaleCorpusSynthSpec` pins the structure the curves rely on. */
object Synth {

  /** Docs with sf0.1's shape (≈300 chars, 50–149 tokens) and heavy exact
    * + near duplicate structure: per 10-doc block, docs x0–x6 and x9 are
    * unique, x7 is an EXACT duplicate of x0 and x8 is a NEAR duplicate of
    * x0 (every 17th token replaced by a doc-unique one), so exact-dup and
    * near-dup rates are 10% at every size. Token k of seed doc `__s` is
    * the SQL expression `token`. */
  private def docs(spark: SparkSession, n: Long, token: String): DataFrame = {
    val seed = when(pmod(col("id"), lit(10)).isin(7, 8),
      expr("(id div 10) * 10")).otherwise(col("id")).cast("long")
    val perturb = pmod(col("id"), lit(10)) === 8
    spark.range(n).select(col("id").as("doc_id"),
        seed.as("__s"), perturb.as("__p"))
      .select(col("doc_id"), array_join(expr(
        "transform(sequence(0, 49 + pmod(hash(__s), 100)), k -> " + token + " || " +
          "IF(__p AND k % 17 = 3, concat('x', CAST(pmod(hash(doc_id * 31L + k), 99989) AS STRING)), ''))"),
        " ").as("text"))
  }

  /** Uniform u ∈ (0,1) from the token's hash. */
  private val tokenU = "(pmod(hash(__s * 1000003L + k), 1000000) + 0.5) / 1000000.0"

  /** Tokens drawn uniformly from a fixed 5 000-word vocabulary, so
    * shingle df grows with n (the `uniform5k` corpus). */
  def corpus(spark: SparkSession, n: Long): DataFrame =
    docs(spark, n, "concat('w', CAST(pmod(hash(__s * 1000003L + k), 5000) AS STRING))")

  /** Web-shaped twin of [[corpus]] (`zipf50k`): tokens drawn ZIPFIAN from
    * a `vocab`-word vocabulary, rank = floor(V^u) — P(rank) ∝ 1/rank, the
    * log-uniform inverse CDF. The uniform corpus inflates mid-frequency
    * n-gram df and makes df-capped operators look pessimistic; the ladder
    * runs both so its numbers bracket real data. */
  def corpusZipf(spark: SparkSession, n: Long, vocab: Int = 50000): DataFrame =
    docs(spark, n, s"concat('z', CAST(CAST(pow($vocab.0, $tokenU) AS BIGINT) AS STRING))")

  /** Zipf-`s` twin by inverse CDF on the bounded power law:
    * rank = (1 − u·(1 − V^(1−s)))^(1/(1−s)). At s = 1.2, V = 50 000 the
    * top token carries ~3.5% of all occurrences (~0.9% at s = 1.0). */
  def corpusZipfS(spark: SparkSession, n: Long, s: Double,
                  vocab: Int = 50000): DataFrame = {
    val oneMinusS = 1.0 - s
    docs(spark, n, s"concat('z', CAST(CAST(pow(1.0 - $tokenU * " +
      s"(1.0 - pow($vocab.0, $oneMinusS)), 1.0 / $oneMinusS) AS BIGINT) AS STRING))")
  }

  /** The corpus a `SPARK_GRAFT_CORPUS` name selects: `zipf50k`, else
    * `uniform5k`. */
  def corpusNamed(spark: SparkSession, name: String, n: Long): DataFrame =
    if (name == "zipf50k") corpusZipf(spark, n) else corpus(spark, n)

  /** Pair graph with controlled component structure: per 100-edge block,
    * edges 1–89 star onto the block hub, 90–98 chain off the star's rim,
    * and edge 99 glues the hub to the NEXT block's hub — except on every
    * 10th block, which ends its run. Components are ~1 000-node fusions
    * of 10 blocks whose COUNT grows with n while their diameter stays
    * constant, the shape of a real near-dup graph. */
  def edges(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val inBlock = pmod(id, lit(100))
    val hub = expr("(id div 100) * 100")
    val glue = inBlock === 99 && expr("pmod(id div 100, 10)") =!= 9
    spark.range(1L, n + 1).select(
      when(inBlock < 90, hub).when(glue, hub).otherwise(id - 1).as("doc_a"),
      when(inBlock < 90, id).when(glue, id + 1).otherwise(id).as("doc_b"))
  }

  /** A dim-`dim` float vector whose coordinate d is the SQL expression
    * `coord`. */
  private def vector(dim: Int, coord: String) =
    expr(s"transform(sequence(0, ${dim - 1}), d -> CAST($coord AS FLOAT))")
      .as("embedding")

  /** Murmur3 hash of `args` mapped to [-0.5, 0.5). Deliberately NOT the
    * Knuth lattice `AnnPrims.plane` uses: a generator sharing the planes'
    * lattice correlates corpus and planes into a handful of buckets. */
  private def unit(args: String) = s"(pmod(hash($args), 1000003) / 1000003.0 - 0.5)"

  /** n deterministic dim-64 vectors in [-0.5, 0.5). */
  def embeddings(spark: SparkSession, n: Long, dim: Int = 64): DataFrame =
    spark.range(n).select(col("id").as("vec_id"), vector(dim, unit("id, d")))

  /** [[embeddings]] with every 10th vector replaced by a near duplicate
    * of its block base (id − 9): coordinate d gets the base value plus
    * (hash(id, d) mod 7 − 3) × 0.01 ∈ [−0.03, 0.03] (cosine ≈ 0.996). */
  def plantedEmbeddings(spark: SparkSession, n: Long, dim: Int = 64): DataFrame = {
    val isDup = pmod(col("id"), lit(10)) === 9
    spark.range(n).select(col("id").as("vec_id"),
        when(isDup, col("id") - 9).otherwise(col("id")).cast("long").as("__b"),
        isDup.as("__d"))
      .select(col("vec_id"), vector(dim,
        unit("__b, d") + " + IF(__d, (pmod(hash(vec_id, d), 7) - 3) * 0.01, 0.0)"))
  }

  /** Planted clusters: `nClusters` hash centers + 10%-scale hash noise,
    * the shape real embedding corpora have (uniform vectors are the
    * quantizer's adversarial worst case). */
  def clustered(spark: SparkSession, n: Long, nClusters: Int,
                dim: Int = 64): DataFrame =
    spark.range(n).select(col("id").as("vec_id"), vector(dim,
      unit(s"id % $nClusters, d") + " + 0.05 * " + unit("id, d")))
}
