package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LayoutSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Mean per-file (max−min)/(globalMax−globalMin) of `c` across the
    * parquet files under `path` — 1.0 means every file spans the whole
    * domain (no clustering), small means footer stats prune. */
  private def meanFileSpan(path: String, c: String): Double = {
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath)
    val global = spark.read.parquet(path)
      .agg(min(col(c).cast("double")), max(col(c).cast("double"))).head()
    val width = global.getDouble(1) - global.getDouble(0)
    val spans = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col(c).cast("double")), max(col(c).cast("double"))).head()
      (r.getDouble(1) - r.getDouble(0)) / width
    }
    spans.sum / spans.length
  }

  "writeZOrdered" should "round-trip the data and cluster BOTH dimensions" in {
    val l = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
    val zDir = tempDir("graft-zorder").toString + "/t"
    val oneDir = tempDir("graft-onecol").toString + "/t"

    Layout.writeZOrdered(l, zDir, "l_partkey", "l_suppkey", numFiles = 8)
    // baseline: same file count, range-laid-out on ONE column only
    l.repartitionByRange(8, col("l_partkey")).sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(oneDir)

    // layout must never change content
    val got = spark.read.parquet(zDir)
    got.count() shouldBe l.count()
    got.agg(sum("l_orderkey"), sum("l_partkey")).head() shouldBe
      l.agg(sum("l_orderkey"), sum("l_partkey")).head()

    val zSpan1 = meanFileSpan(zDir, "l_partkey")
    val zSpan2 = meanFileSpan(zDir, "l_suppkey")
    val oSpan1 = meanFileSpan(oneDir, "l_partkey")
    val oSpan2 = meanFileSpan(oneDir, "l_suppkey")
    info(f"per-file span: z-order ($zSpan1%.2f, $zSpan2%.2f) vs single-col ($oSpan1%.2f, $oSpan2%.2f)")
    // single-column layout: first dim tightly clustered, second dim spans
    // ~the whole domain in every file. Z-order: BOTH dims meaningfully
    // narrower than the unclustered dimension's ~1.0.
    oSpan2 should be > 0.9
    zSpan1 should be < 0.6
    zSpan2 should be < 0.6
    // and the z-layout's worse dimension still beats the baseline's worse
    math.max(zSpan1, zSpan2) should be < oSpan2
  }

  "interleaveExpr" should "match a reference bit interleave exactly" in {
    import spark.implicits._
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val rnd = new scala.util.Random(23)
    val pts = Seq((0L, 0L), (65535L, 65535L), (1L, 0L), (0L, 1L)) ++
      Seq.fill(64)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pts.toDF("__zx", "__zy")
      .withColumn("__z", Layout.interleaveExpr(16))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, z) =>
      withClue(s"($x, $y): ") { z shouldBe ref(x, y, 16) }
    }
  }

  "compact" should "reduce the file count without changing the data" in {
    val l = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_extendedprice")
    val dir = tempDir("graft-compact").toString + "/t"
    l.repartition(40).write.parquet(dir) // the small-file mess a micro-batch sink leaves
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    parquetFiles shouldBe 40
    val before = l.agg(count(lit(1)), sum("l_orderkey")).head()
    Layout.compact(spark, dir) shouldBe 1 // tiny table -> one right-sized file
    parquetFiles shouldBe 1
    spark.read.parquet(dir).agg(count(lit(1)), sum("l_orderkey")).head() shouldBe before
  }

  "compact's recursive delete" should "remove a symlink in the tree, not its target's files" in {
    val target = tempDir("graft-link-target")
    Files.write(target.resolve("keep.txt"), "kept".getBytes("UTF-8"))
    val tree = tempDir("graft-link-tree").resolve("t")
    Files.createDirectories(tree.resolve("sub"))
    Files.write(tree.resolve("sub/own.txt"), "own".getBytes("UTF-8"))
    Files.createSymbolicLink(tree.resolve("sub/link"), target)
    org.apache.commons.io.FileUtils.deleteDirectory(tree.toFile)
    Files.exists(tree) shouldBe false
    new String(Files.readAllBytes(target.resolve("keep.txt")), "UTF-8") shouldBe "kept"
  }
}
