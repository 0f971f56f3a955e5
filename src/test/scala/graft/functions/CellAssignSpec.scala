package graft.functions

import graft.SparkSpec
import graft.ann.Similarity
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Pins the fused cell-assignment expressions ([[CellArgmax]] /
  * [[CellProbes]]) to their declarative spec twins
  * ([[graft.ann.Similarity.cellOfSpec]] / probeCellsSpec — the literal
  * struct-array forms the fused path replaced), in both eval modes, on
  * real embeddings and on a large trained-style centroid table. */
class CellAssignSpec extends SparkSpec {
  import spark.implicits._

  private def cents(n: Int) = Similarity.lowestIdCentroids(
    Tables.embeddings(spark, "/root/testdata/sf0.01"), "vec_id", "embedding", n)

  private def emb = Tables.embeddings(spark, "/root/testdata/sf0.01")

  "CellArgmax" should "match the declarative argmax on real embeddings" in {
    val cs = cents(8)
    val rows = emb.select(
      graft.functions.CellArgmax(col("embedding"), cs).as("fast"),
      Similarity.cellOfSpec(col("embedding"), cs).cast("long").as("spec"))
      .collect()
    rows.length should be > 100
    rows.foreach(r => r.getLong(0) shouldBe r.getLong(1))
  }

  it should "match on a 64-cell table (ties and near-ties exercised)" in {
    val cs = cents(64)
    val bad = emb.select(
      graft.functions.CellArgmax(col("embedding"), cs).as("fast"),
      Similarity.cellOfSpec(col("embedding"), cs).cast("long").as("spec"))
      .filter(col("fast") =!= col("spec")).count()
    bad shouldBe 0L
  }

  it should "agree between generated and interpreted evaluation" in {
    val cs = cents(8)
    withConf(NoCodegen) {
      val bad = emb.limit(100).select(
        graft.functions.CellArgmax(col("embedding"), cs).as("fast"),
        Similarity.cellOfSpec(col("embedding"), cs).cast("long").as("spec"))
        .filter(col("fast") =!= col("spec")).count()
      bad shouldBe 0L
    }
  }

  it should "return null on length-mismatched or null-element vectors" in {
    val cs = cents(4)
    val df = Seq(
      (1L, Some(Seq(Some(1.0f), Some(2.0f)))), // wrong dim
      (2L, None)                               // null vector
    ).toDF("id", "v")
      .select(col("id"), graft.functions.CellArgmax(col("v"), cs).as("cell"))
    df.collect().foreach(r => r.isNullAt(1) shouldBe true)
    // null ELEMENT at the right dim
    val dim = cs.head._2.length
    val vals: Seq[Option[Float]] = Some(1.0f) +: Seq.fill(dim - 2)(Option(0.5f)) :+ (None: Option[Float])
    val withNullElem = Seq((3L, vals)).toDF("id", "v")
      .select(graft.functions.CellArgmax(col("v"), cs).as("cell"))
    withNullElem.collect().head.isNullAt(0) shouldBe true
  }

  "CellProbes" should "match the declarative sort-reverse-slice probe list" in {
    for (nProbe <- Seq(1, 2, 5)) {
      val cs = cents(8)
      val bad = emb.select(
        graft.functions.CellProbes(col("embedding"), cs, nProbe).as("fast"),
        Similarity.probeCellsSpec(col("embedding"), cs, nProbe)
          .cast("array<long>").as("spec"))
        .filter(!(col("fast") === col("spec"))).count()
      bad shouldBe 0L
    }
  }

  it should "match on a 64-cell table and in interpreted mode" in {
    val cs = cents(64)
    val check = () => emb.limit(200).select(
      graft.functions.CellProbes(col("embedding"), cs, 4).as("fast"),
      Similarity.probeCellsSpec(col("embedding"), cs, 4)
        .cast("array<long>").as("spec"))
      .filter(!(col("fast") === col("spec"))).count()
    check() shouldBe 0L
    withConf(NoCodegen) { check() shouldBe 0L }
  }

  it should "return all cells when nProbe exceeds the cell count" in {
    val cs = cents(3)
    val r = emb.limit(5).select(
      graft.functions.CellProbes(col("embedding"), cs, 10).as("p")).collect()
    r.foreach(_.getSeq[Long](0).length shouldBe 3)
  }

  "CellResidual" should "agree with CellArgmax + declarative zip_with subtraction" in {
    val cs = cents(8)
    import spark.implicits._
    val cdf = broadcast(cs.toSeq.toDF("cell", "ce"))
    val declar = emb
      .select(col("vec_id"),
        graft.functions.CellArgmax(col("embedding"), cs).as("cell"),
        col("embedding"))
      .join(cdf, "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("ce"), (x, c) => x - c).as("r"))
    val fused = emb.select(col("vec_id"),
        graft.functions.CellResidual(col("embedding"), cs).as("cr"))
      .select(col("vec_id"), col("cr.cell").as("cell"), col("cr.r").as("r"))
    val cmp = fused.as("f").join(declar.as("d"), "vec_id")
      .filter(col("f.cell") =!= col("d.cell") || !(col("f.r") === col("d.r")))
    cmp.count() shouldBe 0L
    // and in interpreted mode
    withConf(NoCodegen) {
      fused.limit(50).collect().length shouldBe 50
    }
  }

  "both" should "canonicalize structurally equal instances together" in {
    val a = cents(4)
    val b = cents(4).map { case (id, v) => (id, v.clone()) } // distinct arrays
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val child = Literal.create(Seq.fill(a.head._2.length)(0.5f),
      ArrayType(FloatType, containsNull = false))
    val ea: Any = CellArgmax(child, a)
    val eb: Any = CellArgmax(child, b)
    ea shouldBe eb
    ea.hashCode() shouldBe eb.hashCode()
    val pa: Any = CellProbes(child, a, 2)
    val pb: Any = CellProbes(child, b, 2)
    pa shouldBe pb
    pa.hashCode() shouldBe pb.hashCode()
    (pa == CellProbes(child, b, 3)) shouldBe false
  }
}
