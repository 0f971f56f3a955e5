package graft.functions

import graft.SparkSpec
import graft.ann.Similarity
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Pins the two-level nested assignment ([[CellArgmaxNested]]): exact
  * equality with the flat fused argmax when every supercluster is
  * probed, eval-mode agreement, null conventions, and the trainer's
  * determinism / structure. */
class CellArgmaxNestedSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
  private def cents(n: Int) = Similarity.lowestIdCentroids(
    emb, "vec_id", "embedding", n)

  "CellArgmaxNested" should "equal the flat argmax when all superclusters are probed" in {
    // wSuper = nSuper removes the approximation: every cell is scanned,
    // the same (cos DESC, cid ASC) argmax — must match CellArgmax bitwise
    val cs = cents(32)
    val (supers, cells) = Similarity.trainTwoLevel(cs)
    val bad = emb.select(
      Similarity.cellOfTwoLevel(col("embedding"), supers, cells, supers.length)
        .as("nested"),
      CellArgmax(col("embedding"), cs).as("flat"))
      .filter(col("nested") =!= col("flat")).count()
    bad shouldBe 0L
  }

  it should "agree between generated and interpreted evaluation" in {
    val cs = cents(32)
    val (supers, cells) = Similarity.trainTwoLevel(cs)
    val codegen = emb.limit(100).select(
      Similarity.cellOfTwoLevel(col("embedding"), supers, cells, 2).as("c"))
      .collect().map(_.getLong(0))
    withConf(NoCodegen) {
      val interp = emb.limit(100).select(
        Similarity.cellOfTwoLevel(col("embedding"), supers, cells, 2).as("c"))
        .collect().map(_.getLong(0))
      interp.toSeq shouldBe codegen.toSeq
    }
  }

  it should "keep high agreement with the flat argmax at wSuper = 2" in {
    val cs = cents(32)
    val (supers, cells) = Similarity.trainTwoLevel(cs)
    val rows = emb.select(
      Similarity.cellOfTwoLevel(col("embedding"), supers, cells, 2).as("nested"),
      CellArgmax(col("embedding"), cs).as("flat")).collect()
    val agree = rows.count(r => r.getLong(0) == r.getLong(1))
    // the standard two-level approximation: most vectors' best cell sits
    // in one of their top-2 superclusters
    agree.toDouble / rows.length should be > 0.6
  }

  it should "return null on length-mismatched or null-element vectors" in {
    val cs = cents(8)
    val (supers, cells) = Similarity.trainTwoLevel(cs)
    val df = Seq(
      (1L, Some(Seq(Some(1.0f), Some(2.0f)))),
      (2L, None)
    ).toDF("id", "v")
      .select(col("id"),
        Similarity.cellOfTwoLevel(col("v"), supers, cells, 2).as("cell"))
    df.collect().foreach(r => r.isNullAt(1) shouldBe true)
  }

  "trainTwoLevel" should "be deterministic and cover every cell exactly once" in {
    val cs = cents(32)
    val (s1, c1) = Similarity.trainTwoLevel(cs)
    val (s2, c2) = Similarity.trainTwoLevel(cs)
    s1.map(_._1).toSeq shouldBe s2.map(_._1).toSeq
    s1.zip(s2).foreach { case (a, b) => a._2.toSeq shouldBe b._2.toSeq }
    c1.map(x => (x._1, x._2)).toSeq shouldBe c2.map(x => (x._1, x._2)).toSeq
    // √-rule supercluster count; every cell mapped to an existing super
    s1.length shouldBe math.ceil(math.sqrt(32.0)).toInt
    c1.map(_._1).distinct.length shouldBe cs.length
    val sids = s1.map(_._1).toSet
    c1.foreach(c => sids should contain(c._2))
  }
}
