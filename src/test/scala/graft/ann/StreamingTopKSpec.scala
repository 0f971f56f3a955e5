package graft.ann

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** The k-bounded heap aggregate under Structured Streaming: a custom
  * TypedImperativeAggregate must serialize its buffer into the state
  * store between micro-batches and merge it with each batch's partial —
  * the exact path the serialize/deserialize/merge trio exists for. The
  * streamed per-group top-k must equal the batch top-k over the same
  * rows however the rows were split across micro-batches. */
class StreamingTopKSpec extends SparkSpec {
  import spark.implicits._

  "TopKAgg" should "maintain exact per-group top-k across micro-batches" in {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 400).map { i =>
      (i.toLong % 7, rnd.nextDouble(), i.toLong) // (group, sim, id)
    }
    val dir = tempDir("graft-topk-stream")
    val lines = rows.map { case (g, s, i) => s"""{"g":$g,"sim":$s,"id":$i}""" }
    lines.grouped(100).zipWithIndex.foreach { case (chunk, i) =>
      val f = dir.resolve(f"chunk-$i%03d.json")
      Files.write(f, String.join("\n", chunk: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stream = spark.readStream.schema("g LONG, sim DOUBLE, id LONG")
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val ckpt = tempDir("graft-topk-ckpt").toString
    val q = stream.groupBy("g")
      .agg(graft.functions.TopKAgg.topk(col("sim"), col("id"), 5).as("top"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("topk_stream")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")

    def flat(df: org.apache.spark.sql.DataFrame) = df
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("pos"), col("col.neighbor_id"), col("col.sim"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = rows.toDF("g", "sim", "id").groupBy("g")
      .agg(graft.functions.TopKAgg.topk(col("sim"), col("id"), 5).as("top"))
    flat(spark.table("topk_stream")) shouldBe flat(batch)
  }
}
