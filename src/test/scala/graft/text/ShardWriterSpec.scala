package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sink spec for the token-balanced shard writer (the p136 assignment's
  * write side): layout, round trip, manifest arithmetic, and the
  * contiguity-bounded balance guarantee. */
class ShardWriterSpec extends SparkSpec {

  "writeTokenShards" should "lay out balanced contiguous shards with a consistent manifest" in {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val nShards = 8
    val path = tempDir("graft-shards").toString + "/corpus"
    TextCuration.writeTokenShards(docs, "doc_id", "text", path, nShards)

    // layout: one directory per shard, one file per shard
    val root = new java.io.File(path)
    val shardDirs = root.listFiles().filter(_.getName.startsWith("shard="))
    shardDirs.length shouldBe nShards
    shardDirs.foreach { d =>
      d.listFiles().count(_.getName.endsWith(".parquet")) shouldBe 1
    }

    // round trip: every document comes back with its text intact
    val back = spark.read.parquet(path)
    back.count() shouldBe docs.count()
    val joined = back.select(col("id").as("doc_id"), col("text").as("t2"))
      .join(docs, Seq("doc_id"))
    joined.filter(col("t2") =!= col("text")).count() shouldBe 0L

    // manifest: per-shard counts sum to the corpus totals and agree with
    // the written data
    val manifest = spark.read.parquet(s"$path/_manifest")
    manifest.count() shouldBe nShards.toLong
    manifest.agg(sum("n_docs")).head().getLong(0) shouldBe docs.count()
    val perShardWritten = back.groupBy("shard")
      .agg(count(lit(1)).as("w_docs"), sum("n_tokens").as("w_tokens"))
    manifest.join(perShardWritten, Seq("shard"))
      .filter(col("n_docs") =!= col("w_docs") ||
        col("n_tokens") =!= col("w_tokens")).count() shouldBe 0L

    // balance: contiguous cuts bound every shard's token mass within one
    // document of the ideal total/nShards
    val assigned = TextCuration.shardAssign(docs, "doc_id", "text", nShards)
      .persist()
    val total = assigned.agg(sum("n_tokens")).head().getLong(0)
    val maxDoc = assigned.agg(max("n_tokens")).head().getLong(0)
    val masses = assigned.groupBy("shard").agg(sum("n_tokens").as("m"))
      .collect().map(_.getLong(1))
    masses.length shouldBe nShards
    val ideal = total.toDouble / nShards
    masses.foreach { m =>
      m.toDouble should be <= (ideal + maxDoc)
      m.toDouble should be >= (ideal - maxDoc)
    }

    // contiguity: shard is nondecreasing in id order
    val ordered = assigned.orderBy("id").select("shard")
      .collect().map(_.getLong(0))
    ordered.sliding(2).foreach { case Array(a, b) => b should be >= a }
    assigned.unpersist(false)
  }
}
