package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Helper-level contract of [[VersionedState]]: delta/compact
  * resolution, the replay read (a batch sees only versions BELOW its own
  * id), compaction cadence, the set-state step, pruning,
  * incomplete-write invisibility, and legacy `v<id>` full-rewrite dirs
  * reading as compacts. The streaming twins' parity cases prove the
  * end-to-end semantics; this spec pins the state machine they stand on. */
class VersionedStateSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-vstate").toString

  private def keys(ks: Long*): DataFrame = ks.toDF("wh")

  private def assign(rows: (Long, Long)*): DataFrame =
    rows.toDF("doc_id", "group_id")

  "VersionedState.readSet" should "union the newest compact with the deltas above it, honoring beforeBatch" in {
    val dir = freshDir()
    VersionedState.write(keys(1L, 2L), dir, 0L, compact = true)
    VersionedState.write(keys(3L), dir, 1L, compact = false)
    VersionedState.write(keys(4L), dir, 2L, compact = false)
    VersionedState.readSet(spark, dir).get
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L, 3L, 4L)
    // the replay read: batch 2 re-running must NOT see its own delta
    VersionedState.readSet(spark, dir, Some(2L)).get
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L, 3L)
    VersionedState.readSet(spark, dir, Some(0L)) shouldBe None
  }

  it should "never read deltas already folded into a newer compact" in {
    val dir = freshDir()
    VersionedState.write(keys(1L), dir, 0L, compact = true)
    VersionedState.write(keys(2L), dir, 1L, compact = false)
    // batch 2 compacts: the fold REPLACES {c0, d1}; a stale d1 row must
    // not resurface even though the directory still exists pre-prune
    VersionedState.write(keys(1L, 2L, 3L), dir, 2L, compact = true)
    VersionedState.readSet(spark, dir).get
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L, 3L)
  }

  "VersionedState.readKeyed" should "resolve the newest write per key across the chain" in {
    val dir = freshDir()
    VersionedState.write(assign(1L -> 10L, 2L -> 20L), dir, 0L, compact = true)
    VersionedState.write(assign(2L -> 99L, 3L -> 30L), dir, 1L, compact = false)
    VersionedState.readKeyed(spark, dir, "doc_id").get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(1L -> 10L, 2L -> 99L, 3L -> 30L)
    // replay read: batch 1 diffs against its predecessor, not itself
    VersionedState.readKeyed(spark, dir, "doc_id", Some(1L)).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(1L -> 10L, 2L -> 20L)
  }

  "VersionedState" should "ignore directories without a _SUCCESS marker" in {
    val dir = freshDir()
    VersionedState.write(keys(1L), dir, 0L, compact = true)
    // simulate a crashed batch-1 write: data present, no _SUCCESS
    val broken = new java.io.File(dir, "d1")
    broken.mkdirs()
    Files.write(broken.toPath.resolve("part-00000.parquet"), Array[Byte](1, 2))
    VersionedState.versions(spark, dir).map(_.id) shouldBe Seq(0L)
    VersionedState.readSet(spark, dir).get
      .collect().map(_.getLong(0)) shouldBe Array(1L)
  }

  it should "read legacy v<id> full-rewrite directories as compacts" in {
    val dir = freshDir()
    keys(1L, 2L).write.parquet(s"$dir/v0")
    VersionedState.write(keys(3L), dir, 1L, compact = false)
    VersionedState.readSet(spark, dir).get
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L, 3L)
    VersionedState.versions(spark, dir).find(_.id == 0L).get.compact shouldBe true
  }

  "VersionedState.shouldCompact" should "anchor the chain then fire every compactEvery deltas" in {
    val dir = freshDir()
    // empty dir: the first batch writes the anchoring compact
    VersionedState.shouldCompact(spark, dir, 0L, 3) shouldBe true
    VersionedState.write(keys(1L), dir, 0L, compact = true)
    VersionedState.shouldCompact(spark, dir, 1L, 3) shouldBe false
    VersionedState.write(keys(2L), dir, 1L, compact = false)
    VersionedState.write(keys(3L), dir, 2L, compact = false)
    VersionedState.shouldCompact(spark, dir, 3L, 3) shouldBe false // 2 deltas < 3
    VersionedState.write(keys(4L), dir, 3L, compact = false)
    VersionedState.shouldCompact(spark, dir, 4L, 3) shouldBe true  // 3 deltas
    // a replayed batch makes the same decision as its first attempt:
    // versions at/above its id are excluded from the count
    VersionedState.write(keys(1L, 2L, 3L, 4L, 5L), dir, 4L, compact = true)
    VersionedState.shouldCompact(spark, dir, 4L, 3) shouldBe true
  }

  "VersionedState.step" should "give f the state below its batch and write a delta or a folded compact" in {
    val dir = freshDir()
    def step(id: Long, compactEvery: Int, ks: Long*): Seq[Long] = {
      var seen = Seq.empty[Long]
      VersionedState.step(spark, dir, id, keys().schema, compactEvery, _.distinct()) { s =>
        seen = s.collect().map(_.getLong(0)).sorted.toSeq
        keys(ks: _*)
      }
      seen
    }
    step(0L, 8, 1L, 2L) shouldBe Nil // no version yet: an empty frame, then the anchor
    step(1L, 8, 3L) shouldBe Seq(1L, 2L)
    step(1L, 8, 3L) shouldBe Seq(1L, 2L) // a replay never sees its own delta
    step(2L, 0, 2L, 4L) shouldBe Seq(1L, 2L, 3L) // compactEvery 0: every batch compacts
    new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted shouldBe Array("c0", "c2", "d1")
    spark.read.parquet(s"$dir/c2").collect().map(_.getLong(0)).sorted shouldBe
      Array(1L, 2L, 3L, 4L)
  }

  "VersionedState.prune" should "keep the newest two compact windows and drop everything below" in {
    val dir = freshDir()
    VersionedState.write(keys(1L), dir, 0L, compact = true)
    VersionedState.write(keys(2L), dir, 1L, compact = false)
    VersionedState.write(keys(1L, 2L, 3L), dir, 2L, compact = true)
    VersionedState.write(keys(4L), dir, 3L, compact = false)
    VersionedState.write(keys(1L, 2L, 3L, 4L, 5L), dir, 4L, compact = true)
    VersionedState.write(keys(6L), dir, 5L, compact = false)
    VersionedState.prune(spark, dir, 6L)
    // newest compact below 6 is c4 (its window must survive replay of
    // any batch ≤ 6); c2's window is reader grace; c0+d1 go
    new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted shouldBe Array("c2", "c4", "d3", "d5")
    // with fewer than two compacts below the current batch, nothing is
    // ever deleted
    val dir2 = freshDir()
    VersionedState.write(keys(1L), dir2, 0L, compact = true)
    VersionedState.write(keys(2L), dir2, 1L, compact = false)
    VersionedState.prune(spark, dir2, 2L)
    new java.io.File(dir2).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted shouldBe Array("c0", "d1")
  }
}
