package graft.streaming

import java.nio.file.{Files, Path}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSpec
import graft.ops.ParkingAnalytics
import graft.schema.ParkingModel

/** ST1–ST6 batch parity: replay the sf0.001 events through the file-backed
  * stream source in multiple micro-batches (maxFilesPerTrigger) and assert
  * each streaming operator converges to exactly the rows its batch twin
  * computes over the same data. This is the correctness gate for the
  * streaming layer — the stateful ops cross micro-batch boundaries here.
  */
class StreamingParitySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val jsonDir: String = dumpEventsAsJson()

  /** Flattened parquet events → the reference's nested JSON-lines shape,
    * chunked into 10 files with strictly increasing mtimes so the file
    * stream replays them in event order across ≥5 micro-batches. */
  private def dumpEventsAsJson(): String = {
    val dir = tempDir("graft-events-json")
    val json = ParkingModel.parkingEvents(spark, sfDir)
      .orderBy("event_id")
      .select(to_json(struct(
        col("event_id"),
        col("eventType"),
        col("ts").as("timestamp"),
        struct(col("licensePlate"), col("vehicleType"), lit("gray").as("color")).as("vehicle"),
        struct(col("parkingLotId"), col("parkingSpotId"), col("isSlotHandicapped")).as("parking"),
        col("duration_ms").as("duration"))).as("line"))
      .collect().map(_.getString(0))
    val chunks = json.grouped(math.max(1, json.length / 10)).toSeq
    chunks.zipWithIndex.foreach { case (lines, i) =>
      val f = dir.resolve(f"chunk-$i%03d.json")
      Files.write(f, String.join("\n", lines: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    dir.toString
  }

  private def decodedStream: DataFrame =
    EventDecode.decode(FileEventSource(jsonDir, maxFilesPerTrigger = 2).stream(spark))

  private def runStream(df: DataFrame, mode: String)(onBatch: DataFrame => Unit): Unit = {
    val ckpt = tempDir("graft-ckpt").toString
    val q = df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) => onBatch(batch) }
      .start()
    drain(q)
  }

  private def drain(q: StreamingQuery): Unit = {
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
  }

  private def tmp(prefix: String): String = tempDir(prefix).toString

  /** `df` ordered by `order` as JSON-lines files of ⌈rows / files⌉ rows
    * with increasing mtimes, and a maxFilesPerTrigger=1 stream with
    * `df`'s schema that replays them in that order, one file per
    * micro-batch. */
  private def chunked(df: DataFrame, order: String, files: Int = 5): DataFrame = {
    val dir = tempDir("graft-chunks-json")
    val lines = df.orderBy(order).select(to_json(struct(df.columns.map(col): _*)))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, math.ceil(lines.length.toDouble / files).toInt)).zipWithIndex
      .foreach { case (ls, i) =>
        val f = dir.resolve(f"chunk-$i%03d.json")
        Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
        f.toFile.setLastModified(1700000000000L + i * 60000L)
      }
    spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).json(dir.toString)
  }

  /** The id-ordered documents (with their `lang` when asked) as a
    * 5-micro-batch stream: the cross-batch ordering contract of the
    * first-seen twins. */
  private def docStream(withLang: Boolean = false): DataFrame =
    chunked(graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text" +: (if (withLang) Seq("lang") else Nil): _*), "doc_id")

  /** A row-local operator over frozen inputs is its own streaming twin:
    * replay `stream` through `op` with [[StreamingConf.eachBatch]] and
    * [[StreamingConf.writeBatch]], and read the drained output back
    * without its `batch` partition column. */
  private def replayed(stream: DataFrame)(op: DataFrame => DataFrame): DataFrame = {
    val out = tmp("graft-replay-out")
    drain(StreamingConf.eachBatch(stream, tmp("graft-replay-ckpt"), Trigger.AvailableNow()) {
      (batch, id) => StreamingConf.writeBatch(op(batch), out, id)
    })
    spark.read.parquet(out).drop("batch")
  }

  "StreamingConf" should "have the RocksDB provider active for this suite" in {
    spark.conf.get("spark.sql.streaming.stateStore.providerClass") should
      endWith("RocksDBStateStoreProvider")
  }

  it should "have the local checkpoint manager active for this suite" in {
    spark.conf.get(StreamingConf.CheckpointFileManagerKey) shouldBe
      classOf[LocalCheckpointFileManager].getName
  }

  "EventDecode" should "drop undecodable payloads and keep valid ones (ST6)" in {
    import spark.implicits._
    val dir = tempDir("graft-garbage")
    val good =
      """{"event_id":1,"eventType":"PARKING_ENTRY","timestamp":"2024-01-01T10:00:00.000Z","vehicle":{"licensePlate":"P-1","vehicleType":"car","color":"red"},"parking":{"parkingLotId":"lot-01","parkingSpotId":"7","isSlotHandicapped":false},"duration":null}"""
    val good2 = good.replace("\"event_id\":1", "\"event_id\":2")
      .replace("PARKING_ENTRY", "PARKING_EXIT")
    val lines = Seq(good, "not json at all", "{\"half\":", good2, "{\"eventType\":\"OTHER\",\"timestamp\":\"2024-01-01T10:00:00Z\"}")
    Files.write(dir.resolve("mixed.json"), String.join("\n", lines: _*).getBytes("UTF-8"))
    val got = ArrayBuffer.empty[Row]
    runStream(EventDecode.decode(FileEventSource(dir.toString).stream(spark)), "append") {
      b => got.synchronized { got ++= b.collect() }
    }
    got.map(_.getAs[Long]("event_id")).sorted shouldBe Seq(1L, 2L)
  }

  "LiveSlotView" should "converge to the batch latestSlotState (p09) across micro-batches" in {
    val view = TrieMap.empty[(String, String), (Boolean, Option[String])]
    runStream(LiveSlotView.updates(decodedStream).toDF(), "update") { b =>
      b.collect().foreach { r =>
        view((r.getString(0), r.getString(1))) =
          (r.getBoolean(2), Option(r.getAs[String]("plate")))
      }
    }
    val batch = ParkingAnalytics.latestSlotState(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getBoolean(2), Option(r.getAs[String]("plate")))).toMap
    view.toMap shouldBe batch
  }

  "SessionStream" should "emit exactly the batch sessionPairing rows (p05)" in {
    val got = ArrayBuffer.empty[(Long, String, String, String, String, String, String, Long)]
    val formatted = SessionStream.pairs(decodedStream).toDF()
      .select(col("exit_event_id"), col("licensePlate"), col("parkingSpotId"),
        col("parkingLotId"), col("vehicleType"),
        date_format(col("entry_ts"), "yyyy-MM-dd HH:mm:ss").as("entry_ts"),
        date_format(col("exit_ts"), "yyyy-MM-dd HH:mm:ss").as("exit_ts"),
        col("duration_min"))
    runStream(formatted, "append") { b =>
      b.collect().foreach { r =>
        got.synchronized {
          got += ((r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
            r.getString(4), r.getString(5), r.getString(6), r.getLong(7)))
        }
      }
    }
    val batch = ParkingAnalytics.sessionPairing(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5), r.getString(6), r.getLong(7)))
    got.sortBy(_._1) shouldBe batch.sortBy(_._1).toSeq
  }

  "HourlyStatsStream" should "converge to the batch occupancyByLot (p02)" in {
    val agg = TrieMap.empty[(String, String, String), (Long, Long, Long)]
    runStream(HourlyStatsStream.aggregates(decodedStream), "update") { b =>
      b.collect().foreach { r =>
        agg((r.getString(0), r.getString(1), r.getString(2))) =
          (r.getLong(3), r.getLong(4), r.getLong(5))
      }
    }
    val batch = ParkingAnalytics.occupancyByLot(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    agg.toMap shouldBe batch
  }

  "SessionWindowStream" should "emit exactly the batch plateSessions rows it finalizes (p49)" in {
    // streaming session windows support append mode only (Spark 4): a
    // session emits once its window end (last event + gap) falls behind
    // the watermark, so sessions near the end of the replay stay open and
    // unemitted. Parity contract: every emitted row equals its batch twin
    // exactly, and every batch session comfortably behind the final
    // watermark (last_ts + gap + slack < max_ts - lateness) was emitted.
    val emitted = TrieMap.empty[(String, String), (String, Long)]
    runStream(SessionWindowStream.sessions(decodedStream), "append") { b =>
      b.collect().foreach { r =>
        emitted((r.getString(0), r.getString(1))) = (r.getString(2), r.getLong(3))
      }
    }
    val batch = ParkingAnalytics.plateSessions(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getString(2), r.getLong(3))).toMap
    emitted.foreach { case (k, v) => batch.get(k) shouldBe Some(v) }
    // lateness 60 min + gap 30 min + 1 min slack, as a lexicographically
    // comparable second-string in the same UTC format as last_ts
    val cutoff = ParkingModel.parkingEvents(spark, sfDir)
      .agg(date_format(max(col("ts")) - expr("INTERVAL 91 MINUTES"),
        "yyyy-MM-dd HH:mm:ss")).head().getString(0)
    val mustEmit = batch.filter { case (_, (lastTs, _)) => lastTs < cutoff }
    mustEmit.nonEmpty shouldBe true // the contract below must bite
    mustEmit.keySet.subsetOf(emitted.keySet) shouldBe true
  }

  "DedupGroupStream" should "converge to the batch duplicateGroups over all streamed pairs" in {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = tempDir("graft-pairs-json")
    // three chunks engineered so components MERGE across micro-batches:
    // chunk 1 creates {1,2},{3,4},{10,11}; chunk 2 glues 2-3 (fusing two
    // existing groups) and opens {20,21}; chunk 3 glues 11-20 (fusing two
    // groups found in DIFFERENT earlier batches) and extends 4-5
    val chunks = Seq(
      Seq((1L, 2L), (3L, 4L), (10L, 11L)),
      Seq((2L, 3L), (20L, 21L)),
      Seq((11L, 20L), (4L, 5L)))
    chunks.zipWithIndex.foreach { case (ps, i) =>
      val lines = ps.map { case (a, b) => s"""{"doc_a":$a,"doc_b":$b}""" }
      val f = dir.resolve(f"chunk-$i%03d.json")
      Files.write(f, String.join("\n", lines: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = StructType(Seq(StructField("doc_a", LongType), StructField("doc_b", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val stateDir = tmp("graft-ccstate")
    drain(DedupGroupStream.attach(stream, "doc_a", "doc_b", stateDir, tmp("graft-ccckpt")))
    val got = VersionedState.readKeyed(spark, stateDir, "doc_id").get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.text.TextDedup.duplicateGroups(
        chunks.flatten.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe batch
    // the interesting shape really happened: both cross-batch merges landed
    got(5L) shouldBe 1L   // {1,2}+{3,4} fused in batch 2, extended in batch 3
    got(21L) shouldBe 10L // {10,11}+{20,21} fused in batch 3
    // incremental state: batch 0 anchors a compact, later batches append
    // DELTAS holding only the labels they added or changed
    val versions = new java.io.File(stateDir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    versions shouldBe Array("c0", "d1", "d2")
    // batch 2 glued {10,11}+{20,21} (relabeling 20,21) and added 5 to
    // group 1 — its delta is exactly those 3 rows, NOT the 9-row
    // assignment: per-batch state writes track batch novelty
    val d2 = spark.read.parquet(s"$stateDir/d2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    d2 shouldBe Map(5L -> 1L, 20L -> 10L, 21L -> 10L)

    // same pairs with compactEvery = 1: the mid-stream compact (c2 folds
    // c0 + d1 + batch 2's merge) must resolve to the identical assignment
    val stateDir2 = tmp("graft-ccstate2")
    drain(DedupGroupStream.attach(stream, "doc_a", "doc_b", stateDir2, tmp("graft-ccckpt2"),
      compactEvery = 1))
    new java.io.File(stateDir2).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted shouldBe Array("c0", "c2", "d1")
    VersionedState.readKeyed(spark, stateDir2, "doc_id").get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe batch
  }

  "AsOfStream" should "emit exactly the batch asOf rows across time-ordered micro-batches" in {
    import spark.implicits._
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
    val rnd = new scala.util.Random(42)
    // unique global times keep cross-batch in-order chunking well-defined;
    // some right payload VALUES are null so the latest-ROW (not latest
    // non-null) semantics crosses the state boundary too
    val events = rnd.shuffle((0L until 90L).toList).zipWithIndex.map {
      case (t, i) =>
        val key = "k" + (i % 3)
        if (i % 2 == 0) (key, t, true, 0L, if (i % 10 == 0) None else Some(t * 7))
        else (key, t, false, i.toLong, None)
    }
    val dir = tempDir("graft-asof-json")
    events.sortBy(_._2).grouped(30).zipWithIndex.foreach { case (evs, i) =>
      val lines = evs.map { case (k, t, isR, lid, p) =>
        s"""{"key":"$k","t":$t,"is_right":$isR,"left_id":$lid,"payload":${p.map(_.toString).getOrElse("null")}}"""
      }
      val f = dir.resolve(f"chunk-$i%03d.json")
      Files.write(f, String.join("\n", lines: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("t", LongType),
      StructField("is_right", BooleanType), StructField("left_id", LongType),
      StructField("payload", LongType)))
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .json(dir.toString).as[AsOfEvent]
    val got = TrieMap.empty[Long, Option[Long]]
    runStream(AsOfStream.joined(stream).toDF(), "append") { b =>
      b.collect().foreach { r =>
        got(r.getAs[Long]("left_id")) =
          if (r.isNullAt(r.fieldIndex("payload"))) None
          else Some(r.getAs[Long]("payload"))
      }
    }
    val left = events.filter(!_._3).map(e => (e._1, e._4, e._2)).toDF("key", "id", "lt")
    val right = events.filter(_._3).map(e => (e._1, e._2, e._5)).toDF("key", "rt", "v")
    val batch = graft.ops.AsOfJoin.asOf(left, right, Seq("key"), "lt", "rt", Seq("v"))
      .collect().map(r => r.getAs[Long]("id") ->
        (if (r.isNullAt(r.fieldIndex("v"))) None else Some(r.getAs[Long]("v")))).toMap
    batch.values.exists(_.isEmpty) shouldBe true // null/absent payloads really occur
    got.toMap shouldBe batch
  }

  "ExactDedupStream" should "keep one survivor per batch-dedup content group across micro-batches" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val got = ArrayBuffer.empty[(Long, Long, Long)]
    runStream(ExactDedupStream.firstSeen(docStream(), "doc_id", "text"), "append") { b =>
      b.collect().foreach(r => got.synchronized {
        got += ((r.getLong(0), r.getLong(1), r.getLong(2)))
      })
    }
    val batch = graft.text.TextDedup.exactDedup(docsDf, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet // (hash, hash2)
    // exactly one survivor per distinct content, covering every batch group
    got.size shouldBe batch.size
    got.map(t => (t._2, t._3)).toSet shouldBe batch
  }

  "ChunkStream" should "emit exactly the batch tokenChunks rows (p81) across micro-batches" in {
    // chunking is row-local, so the batch transform minus its
    // presentation sort is its own streaming twin
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val got = ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    runStream(graft.text.TextCuration.tokenChunksUnordered(docStream(), "doc_id", "text"),
        "append") { b =>
      b.collect().foreach(r => got.synchronized {
        got += ((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      })
    }
    val batch = graft.text.TextCuration.tokenChunks(docsDf, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    got.size should be > docsDf.count().toInt // chunking really multiplied rows
    got.sortBy(t => (t._1, t._2)) shouldBe batch.toSeq
  }

  "PackingStream" should "match batch sequencePacking per shard (p82) across id-ordered micro-batches" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    // shard = doc_id % 3; chunks are GLOBALLY id-ordered, so each shard's
    // documents arrive id-ordered across micro-batches (the stated
    // contract) while every micro-batch mixes all three shards
    val stream = chunked(docsDf.select(col("doc_id"),
      pmod(col("doc_id"), lit(3)).as("shard"), col("text")), "doc_id")
    val budget = 128L
    val got = ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    runStream(PackingStream.packed(stream, "shard", "doc_id", "text", budget).toDF(), "append") { b =>
      b.collect().foreach(r => got.synchronized {
        got += ((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      })
    }
    // batch twin, shard by shard: the streaming packer's per-shard
    // (cum_tokens, bin) must equal the batch operator run on exactly that
    // shard's documents
    val batch = (0L until 3L).flatMap { s =>
      graft.text.TextCuration.sequencePacking(
          docsDf.filter(pmod(col("doc_id"), lit(3)) === s), "doc_id", "text", budget)
        .collect().map(r => (s, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    batch.map(_._5).max should be > 0L // multiple bins really filled
    got.sortBy(t => (t._1, t._2)) shouldBe batch.sortBy(t => (t._1, t._2))
  }

  "RegistryStream" should "converge to the batch UserRegistry.view across micro-batches" in {
    import spark.implicits._
    val dir = tempDir("graft-regmut-json")
    // chunk 0 seeds the base (mut_seq = −1, exactly the batch view's
    // union); chunk 1 updates P-1, inserts P-9, grants P-2 a temporary
    // record that is EXPIRED at now=1000; chunk 2 tombstones P-9 and
    // re-updates P-1 (latest must win across batch boundaries)
    val chunks = Seq(
      Seq(
        """{"u_plate":"P-1","username":"alice","email":"a@x.io","handicapped":false,"op":"upsert","mut_seq":-1,"expires_at":null}""",
        """{"u_plate":"P-2","username":"bob","email":"b@x.io","handicapped":true,"op":"upsert","mut_seq":-1,"expires_at":null}"""),
      Seq(
        """{"u_plate":"P-1","username":"alice","email":"new@x.io","handicapped":false,"op":"upsert","mut_seq":1,"expires_at":null}""",
        """{"u_plate":"P-9","username":"carol","email":"c@x.io","handicapped":false,"op":"upsert","mut_seq":2,"expires_at":null}""",
        """{"u_plate":"P-2","username":"bob","email":"tmp@x.io","handicapped":true,"op":"upsert","mut_seq":3,"expires_at":900}"""),
      Seq(
        """{"u_plate":"P-9","username":null,"email":null,"handicapped":null,"op":"delete","mut_seq":4,"expires_at":null}""",
        """{"u_plate":"P-1","username":"alice","email":"final@x.io","handicapped":false,"op":"upsert","mut_seq":5,"expires_at":null}""",
        """{"u_plate":"P-3","username":"dora","email":"d@x.io","handicapped":false,"op":"upsert","mut_seq":6,"expires_at":2000}"""))
    chunks.zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"chunk-$i%03d.json")
      Files.write(f, String.join("\n", ls: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stream = spark.readStream.schema(graft.sources.UserRegistry.mutationSchema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val live = TrieMap.empty[String, (Boolean, Option[String], Long, Option[Long])]
    runStream(RegistryStream.updates(stream, () => 1000L).toDF(), "update") { b =>
      b.collect().foreach { r =>
        live(r.getString(0)) = (r.getBoolean(1),
          Option(r.getAs[String]("email")), r.getAs[Long]("version"),
          if (r.isNullAt(r.fieldIndex("expires_at"))) None
          else Some(r.getAs[Long]("expires_at")))
      }
    }
    val base = Seq(("P-1", "alice", "a@x.io", false), ("P-2", "bob", "b@x.io", true))
      .toDF("u_plate", "username", "email", "handicapped")
    val log = spark.read.schema(graft.sources.UserRegistry.mutationSchema)
      .json((chunks(1) ++ chunks(2)).toDS)
    val batch = graft.sources.UserRegistry.view(base, log, nowEpochS = 1000L)
      .collect().map(r => r.getString(0) -> (r.getString(2), r.getLong(4))).toMap
    // visible stream rows ≡ the batch merge, invisible ≡ its exclusions
    live.filter(_._2._1).map { case (k, (_, e, v, _)) => k -> (e.get, v) }.toMap shouldBe batch
    live("P-9")._1 shouldBe false // tombstoned in a later batch than its insert
    live("P-2")._1 shouldBe false // temporary record expired at now
    batch.keySet shouldBe Set("P-1", "P-3")
    batch("P-1") shouldBe ("final@x.io", 5L)
    // the read-side expiry contract (Redis model): a STILL-VALID temporary
    // row is emitted visible WITH its deadline, so a consumer holding it
    // can expire it locally — no stream event will fire when the TTL
    // lapses for a plate that never mutates again
    live("P-3") shouldBe ((true, Some("d@x.io"), 6L, Some(2000L)))
  }

  "RangeJoin" should "run unchanged as a stream-static join (streaming points side)" in {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // the binned range join is STATELESS (row-local bin + equi-join +
    // residual filter), so the batch operator IS its own streaming twin —
    // this case proves Spark accepts the plan on an unbounded side and
    // that results match batch exactly across micro-batches
    val ivs = Seq(("k1", 1L, 0L, 10L), ("k1", 2L, 5L, 25L), ("k2", 3L, -6L, 4L))
    val pts = (0 until 30).map(i => ("k" + (i % 2 + 1), i.toLong, (i * 3 - 10).toLong))
    val dir = tempDir("graft-range-json")
    pts.grouped(10).zipWithIndex.foreach { case (ps, i) =>
      val lines = ps.map { case (k, id, t) => s"""{"key":"$k","pt_id":$id,"t":$t}""" }
      val f = dir.resolve(f"chunk-$i%03d.json")
      Files.write(f, String.join("\n", lines: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = StructType(Seq(StructField("key", StringType),
      StructField("pt_id", LongType), StructField("t", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val intervals = ivs.toDF("key", "iv_id", "lo", "hi")
    val got = ArrayBuffer.empty[(Long, Long)]
    runStream(graft.ops.RangeJoin.pointInInterval(
        stream, intervals, Seq("key"), "t", "lo", "hi", binWidth = 7L), "append") { b =>
      b.collect().foreach(r => got.synchronized {
        got += ((r.getAs[Long]("pt_id"), r.getAs[Long]("iv_id")))
      })
    }
    val batch = graft.ops.RangeJoin.pointInInterval(
        pts.toDF("key", "pt_id", "t"), intervals, Seq("key"), "t", "lo", "hi", 7L)
      .collect().map(r => (r.getAs[Long]("pt_id"), r.getAs[Long]("iv_id"))).toSet
    batch.nonEmpty shouldBe true
    got.toSet shouldBe batch
  }

  "ViolationStream" should "emit exactly the batch violations rows (p11)" in {
    val got = ArrayBuffer.empty[Seq[Any]]
    runStream(ViolationStream.alerts(decodedStream, ParkingModel.users(spark, sfDir)), "append") {
      b => b.collect().foreach(r => got.synchronized { got += r.toSeq })
    }
    val batch = ParkingAnalytics.violations(spark, sfDir).collect().map(_.toSeq)
    got.sortBy(_.head.asInstanceOf[Long]) shouldBe batch.toSeq.sortBy(_.head.asInstanceOf[Long])
  }

  "MixtureSampleStream" should "match batch tokenBudgetSample per key (p96) across id-ordered micro-batches" in {
    // the p96 input shape, precomputed in batch: (id, predicted_lang,
    // n_tokens) — the twin under test is the SAMPLER, not the upstream
    // lang-id/stats (those are stateless scan-side projections)
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val rows = graft.text.TextStats.langId(docsDf, "doc_id", "text")
      .select(col("id"), col("predicted_lang"))
      .join(graft.text.TextStats.stats(docsDf, "doc_id", "text")
        .select(col("id"), col("n_tokens")), "id")
      .persist()
    val stream = chunked(rows.select("id", "predicted_lang", "n_tokens"), "id")
    val budget = 4000L // the p96 budget: the dominant lang overruns it
    val got = ArrayBuffer.empty[(Long, String, Long, Long)]
    runStream(MixtureSampleStream
        .sampled(stream, "id", "predicted_lang", "n_tokens", budget).toDF(), "append") { b =>
      b.collect().foreach(r => got.synchronized {
        got += ((r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      })
    }
    val batch = graft.text.TextCuration
      .tokenBudgetSample(rows, "id", "predicted_lang", "n_tokens", budget)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val total = rows.count().toInt
    rows.unpersist(false)
    batch.length should be < total // the budget really dropped rows
    got.sortBy(_._1) shouldBe batch.toSeq.sortBy(_._1)
  }

  "ContainmentStream" should "accumulate exactly the batch containmentPairs output across micro-batches (p98)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val outDir = tmp("graft-contain-out")
    val stateDir = tmp("graft-contain-state")
    val minC = 0.5 // lower than p94's 0.9 so sf0.001 yields real pairs
    drain(ContainmentStream.attach(docStream(), "doc_id", "text", outDir, stateDir,
      tmp("graft-contain-ckpt"), graft.text.TextDedup.MaxDf(0), minContainment = minC))
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val batch = graft.text.TextDedup.containmentPairs(docsDf, "doc_id", "text",
        graft.text.TextDedup.MaxDf(0), minContainment = minC)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    batch.length should be > 0 // real pairs exist at this threshold
    got.sortBy(t => (t._1, t._2)) shouldBe batch.toSeq
    // postings state: one anchoring compact + disjoint per-batch deltas
    // that sum to the corpus's full posting table
    val dirs = stateDirs(stateDir)
    dirs.head shouldBe "c0"
    all(dirs.tail) should startWith("d")
    val stateRows = dirs.map(d => spark.read.parquet(s"$stateDir/$d").count()).sum
    val postings = graft.text.TextDedup.shingleFrame(docsDf, "doc_id", "text", 3)
      .select(col("id"),
        org.apache.spark.sql.functions.size(col("sh")).cast("long").as("n"),
        explode(col("sh")).as("g"))
      .filter(col("n") >= 5).count()
    stateRows shouldBe postings
  }

  /** The drained rows of a replay, sorted by their leading id. */
  private def byId(df: DataFrame): Array[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])

  "DsirScoreStream" should "score a doc stream against a frozen importance model exactly like batch dsirScore (p104)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val model = graft.text.ImportanceSampler
      .dsirModel(docsDf, "doc_id", "text", col("lang") === "en")
      .persist()
    val got = byId(replayed(docStream())(
      graft.text.ImportanceSampler.dsirScore(_, "doc_id", "text", model)))
    val batch = graft.text.ImportanceSampler
      .dsirScore(docsDf, "doc_id", "text", model)
      .collect().map(_.toSeq)
    model.unpersist(false)
    got.length shouldBe batch.length
    got shouldBe batch.toSeq
  }

  "QualityScoreStream" should "score a doc stream against a frozen quality model exactly like batch qualityScore (p99)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val model = graft.text.QualityScorer
      .qualityModel(
        docsDf.withColumn("hiq", (col("doc_id") % 2 === 0).cast("int")),
        "doc_id", "text", "hiq")
      .persist()
    val got = byId(replayed(docStream())(
      graft.text.QualityScorer.qualityScore(_, "doc_id", "text", model)))
    val batch = graft.text.QualityScorer
      .qualityScore(docsDf, "doc_id", "text", model)
      .collect().map(_.toSeq)
    model.unpersist(false)
    got.length shouldBe batch.length
    got shouldBe batch.toSeq
  }

  "BpeTokenizeStream" should "tokenize a doc stream with frozen merges exactly like batch tokenize (p114)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val merges = graft.text.BpeTokenizer.trainMerges(docsDf, "text", nMerges = 20)
    val got = byId(replayed(docStream())(
      graft.text.BpeTokenizer.tokenize(_, "doc_id", "text", merges)))
    val batch = graft.text.BpeTokenizer
      .tokenize(docsDf, "doc_id", "text", merges)
      .collect().map(_.toSeq)
    got.length shouldBe batch.length
    got shouldBe batch.toSeq
  }

  "RepetitionSignalsStream" should "score a doc stream exactly like batch repetition signals (p131)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val got = byId(replayed(docStream())(
      graft.text.TextStats.repetitionSignals(_, "doc_id", "text")))
    val batch = graft.text.TextStats
      .repetitionSignals(docsDf, "doc_id", "text")
      .collect().map(_.toSeq)
    got.length shouldBe batch.length
    got shouldBe batch.toSeq
  }

  "GopherQualityStream" should "gate a doc stream exactly like the batch quality rules (p133)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val got = byId(replayed(docStream())(
      graft.text.TextStats.gopherQualityRules(_, "doc_id", "text")))
    val batch = graft.text.TextStats
      .gopherQualityRules(docsDf, "doc_id", "text")
      .collect().map(_.toSeq)
    got.length shouldBe batch.length
    got shouldBe batch.toSeq
  }

  "IdfEmbedStream" should "embed a doc stream against a frozen idf vocabulary exactly like batch (p126)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val vocab = graft.text.TextStats
      .idfVocabulary(docsDf, "doc_id", "text").persist()
    val nDocs = docsDf.count()
    val got = byId(replayed(docStream())(
      graft.text.TextStats.hashedEmbeddingIdfWith(_, "doc_id", "text", vocab, nDocs)))
    val batch = graft.text.TextStats
      .hashedEmbeddingIdfWith(docsDf, "doc_id", "text", vocab, nDocs)
      .collect().map(_.toSeq)
    vocab.unpersist(false)
    got.length shouldBe batch.length
    got shouldBe batch.toSeq
  }

  "LangIdStream" should "classify a doc stream against a frozen vote table exactly like batch langScore (p112)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val model = graft.text.LangClassifier
      .langVotedModel(docsDf, "doc_id", "text", "lang").persist()
    val got = byId(replayed(docStream())(
      graft.text.LangClassifier.langScore(_, "doc_id", "text", model)))
    val batch = graft.text.LangClassifier
      .langScore(docsDf, "doc_id", "text", model)
      .collect().map(_.toSeq)
    model.unpersist(false)
    got.length shouldBe batch.length
    got shouldBe batch.toSeq
  }

  "BloomProbeStream" should "probe a doc stream against a frozen seen-position set exactly like batch bloomSeenProbe (p108)" in {
    import graft.functions.TextPrims
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val fps = docsDf.filter(col("doc_id") < 25)
      .select(TextPrims.charHash(TextPrims.normText(col("text"))).as("f"))
    val (seenPos, seenFp) = graft.text.TextCuration.bloomSeenTables(fps)
    val pos = seenPos.persist(); val sfp = seenFp.persist()
    val got = replayed(docStream())(
        graft.text.TextCuration.bloomProbeAgainst(_, "doc_id", "text", pos, sfp, 64L))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    val batch = graft.text.TextCuration
      .bloomSeenProbe(docsDf, "doc_id", "text", col("doc_id") < 25)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    pos.unpersist(false); sfp.unpersist(false)
    batch.count(t => t._2 && !t._3) should be > 0 // FPs really occur
    got.sortBy(_._1) shouldBe batch.toSeq
  }

  /** The embeddings' (vec_id, embedding) rows as an id-ordered stream of
    * `files` micro-batches. */
  private def vecStream(files: Int): DataFrame =
    chunked(graft.sources.Tables.embeddings(spark, sfDir).select("vec_id", "embedding"),
      "vec_id", files)

  "TwoLevelAssignStream" should "assign a vector stream against a frozen two-level quantizer exactly like batch (p125)" in {
    val embDf = graft.sources.Tables.embeddings(spark, sfDir)
    val cents = graft.ann.Similarity
      .lowestIdCentroids(embDf, "vec_id", "embedding", 32)
    val (supers, cells) = graft.ann.Similarity.trainTwoLevel(cents)
    val got = replayed(vecStream(4))(_.select(col("vec_id").cast("long").as("vec_id"),
        graft.ann.Similarity.cellOfTwoLevel(col("embedding"), supers, cells, 2).as("cell")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val batch = embDf.select(col("vec_id").cast("long"),
        graft.ann.Similarity.cellOfTwoLevel(
          col("embedding"), supers, cells, 2).as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    got.toSeq shouldBe batch.toSeq
  }

  "IndexIngestStream" should "accumulate a searchable cell-partitioned store equal to batch ingest (p128)" in {
    val embDf = graft.sources.Tables.embeddings(spark, sfDir)
    val cents = graft.ann.Similarity
      .lowestIdCentroids(embDf, "vec_id", "embedding", 8)
    val cb = graft.ann.ProductQuantizer.trainResidualCodebooks(
      embDf, "vec_id", "embedding", cents, m = 16)
    val indexPath = tmp("graft-ingest-idx") + "/store"
    drain(IndexIngestStream.attach(vecStream(4), "vec_id", "embedding",
      cents, cb, indexPath, tmp("graft-ingest-ckpt")))
    val queries = embDf.filter(col("vec_id") < 5)
      .select(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("qe"))
    val streamed = graft.ann.ProductQuantizer.searchPersistedIndexLut(
      spark, indexPath, queries, cents, cb).collect().map(_.toSeq)
    val batch = graft.ann.ProductQuantizer.searchResidualIndexLut(
      graft.ann.ProductQuantizer.residualCodesIndex(
        embDf, "vec_id", "embedding", cents, cb),
      queries, cents, cb).collect().map(_.toSeq)
    streamed.toSeq shouldBe batch.toSeq
  }

  "MmrSearchStream" should "score a query stream against the frozen IVFADC+R index exactly like batch p161" in {
    val embDf = graft.sources.Tables.embeddings(spark, sfDir)
    // the frozen artifacts, trained once offline — the p161 train phase
    val cents = graft.ann.Similarity
      .lowestIdCentroids(embDf, "vec_id", "embedding", 8)
    val cb = graft.ann.ProductQuantizer.trainResidualCodebooks(
      embDf, "vec_id", "embedding", cents, m = 16)
    // 20 query vectors arrive over 4 micro-batches
    val stream = chunked(embDf.filter(col("vec_id") < 20)
      .select(col("vec_id").cast("long").as("query_id"), col("embedding").as("qe")),
      "query_id", 4)
    val outDir = tmp("graft-mmr-out")
    drain(MmrSearchStream.attach(stream, embDf, "vec_id", "embedding",
      cents, cb, outDir, tmp("graft-mmr-ckpt")))
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2))
    val batch = graft.ann.Similarity.mmrOverSearch(
        graft.ann.ProductQuantizer.knnIvfPqRerank(embDf, "vec_id",
          "embedding", col("vec_id") < 20, cents, cb,
          k = graft.ann.Similarity.MmrKCand, kShort = 30),
        embDf, "vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2))
    batch.length should be > 0
    got.toSeq shouldBe batch.toSeq
  }

  /** The version dirs under a [[VersionedState]] dir, sorted by name. */
  private def stateDirs(stateDir: String): Array[String] =
    new java.io.File(stateDir).listFiles().filter(_.isDirectory).map(_.getName).sorted

  "SemDedupStream" should "accumulate exactly the batch semanticDedup keep list across id-ordered micro-batches (p103)" in {
    val embDf = graft.sources.Tables.embeddings(spark, sfDir)
    val cents = graft.ann.Similarity
      .trainIvfCentroids(embDf, "vec_id", "embedding")
    val outDir = tmp("graft-semdedup-out")
    val stateDir = tmp("graft-semdedup-state")
    val minSim = graft.ops.DocAnalytics.SemDedupMinSim
    drain(SemDedupStream.attach(vecStream(5), "vec_id", "embedding", cents,
      outDir, stateDir, tmp("graft-semdedup-ckpt"), minSim = minSim))
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val batch = graft.ann.Similarity
      .semanticDedup(embDf, "vec_id", "embedding", cents, minSim = minSim)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    batch.length.toLong should be < embDf.count() // the prune really bit
    got.sortBy(_._1) shouldBe batch.toSeq
    // state: one anchoring compact + disjoint deltas summing to the corpus
    val dirs = stateDirs(stateDir)
    dirs.head shouldBe "c0"
    val stateRows = dirs.map(d => spark.read.parquet(s"$stateDir/$d").count()).sum
    stateRows shouldBe embDf.count()
  }

  "InertiaStream" should "drain to exactly the batch inertiaReport over O(cells) integer state (p159)" in {
    val embDf = graft.sources.Tables.embeddings(spark, sfDir)
    val cents = graft.ann.Similarity
      .trainIvfCentroids(embDf, "vec_id", "embedding")
    val stateDir = tmp("graft-inertia-state")
    drain(InertiaStream.attach(vecStream(4), "vec_id", "embedding", cents,
      stateDir, tmp("graft-inertia-ckpt")))
    val got = InertiaStream.report(spark, stateDir).collect().map(_.toSeq)
    val batch = graft.ann.Similarity
      .inertiaReport(embDf, "vec_id", "embedding", cents)
      .collect().map(_.toSeq)
    batch.length should be > 1 // real multi-cell report
    got.toSeq shouldBe batch.toSeq
    // state stays <= C rows of integer partials regardless of stream length
    val lastState = stateDirs(stateDir).max
    spark.read.parquet(s"$stateDir/$lastState").count() should be <= batch.length.toLong
  }

  "PrototypicalityStream" should "re-rank to exactly the batch prototypicalityPrune verdict as vectors accumulate (p147)" in {
    val embDf = graft.sources.Tables.embeddings(spark, sfDir)
    val cents = graft.ann.Similarity
      .trainIvfCentroids(embDf, "vec_id", "embedding")
    val outDir = tmp("graft-proto-out")
    drain(PrototypicalityStream.attach(vecStream(4), "vec_id", "embedding", cents,
      outDir, tmp("graft-proto-state"), tmp("graft-proto-ckpt")))
    def verdicts(path: String) = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3),
        r.getLong(4), r.getBoolean(5))).sortBy(_._1)
    val batchDirs = new java.io.File(outDir).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("batch="))
      .map(_.getName).sortBy(_.drop(6).toLong)
    batchDirs.length should be > 1 // the stream really ran incrementally
    // final verdict == batch operator over the whole corpus
    val got = verdicts(s"$outDir/${batchDirs.last}")
    val full = graft.ann.Similarity
      .prototypicalityPrune(embDf, "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getLong(4), r.getBoolean(5)))
    got.toSeq shouldBe full.toSeq
    // every PREFIX verdict == batch operator over exactly the ids seen so
    // far (a displaced rank must be re-issued, never carried stale)
    val first = verdicts(s"$outDir/${batchDirs.head}")
    val seenIds = first.map(_._1)
    val prefix = graft.ann.Similarity
      .prototypicalityPrune(embDf.filter(col("vec_id").isin(seenIds: _*)),
        "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getLong(4), r.getBoolean(5)))
    first.toSeq shouldBe prefix.toSeq
  }

  "NoveltyScoreStream" should "score a doc stream against a frozen model exactly like batch bigramScore (p88)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val model = graft.text.TextStats
      .bigramModel(docsDf.filter(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text")
      .persist()
    val got = byId(replayed(docStream())(
      graft.text.TextStats.bigramScore(_, "doc_id", "text", model)))
    val batch = graft.text.TextStats.bigramScore(docsDf, "doc_id", "text", model)
      .collect().map(_.toSeq)
    model.unpersist(false)
    got.length shouldBe docsDf.count().toInt
    got shouldBe batch.toSeq
  }

  "LmScoreStream" should "score a doc stream against a frozen LM exactly like batch lmScore (p138)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val model = graft.text.TextStats
      .lmModel(docsDf.filter(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text")
      .persist()
    val got = byId(replayed(docStream())(
      graft.text.TextStats.lmScore(_, "doc_id", "text", model)))
    val batch = graft.text.TextStats.lmScore(docsDf, "doc_id", "text", model)
      .collect().map(_.toSeq)
    model.unpersist(false)
    got.length shouldBe docsDf.count().toInt
    got shouldBe batch.toSeq
  }

  "SpanScrubStream" should "scrub a doc stream against a frozen benchmark exactly like batch spanScrub (p90)" in {
    val all = graft.sources.Tables.documents(spark, sfDir)
    val bench = all.filter(col("doc_id") < 25).persist()
    val corpus = all.filter(col("doc_id") >= 25)
    val got = byId(replayed(chunked(corpus.select("doc_id", "text"), "doc_id"))(
      graft.text.TextDedup.spanScrub(_, bench, "doc_id", "text")))
    val batch = graft.text.TextDedup.spanScrub(corpus, bench, "doc_id", "text")
      .collect().map(_.toSeq)
    bench.unpersist(false)
    batch.exists(_(3).asInstanceOf[Long] > 0L) shouldBe true // real contamination scrubbed
    got shouldBe batch.toSeq
  }

  "LangGateStream" should "gate a doc stream against frozen thresholds exactly like the batch gate (p162)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val thr = graft.text.TextStats
      .langQualityThresholds(docsDf, "doc_id", "text", "lang").persist()
    val got = byId(replayed(docStream(withLang = true))(
      graft.text.TextStats.langQualityGateWith(_, "doc_id", "text", "lang", thr)))
    val batch = graft.text.TextStats
      .langQualityGate(docsDf, "doc_id", "text", "lang")
      .collect().map(_.toSeq)
    thr.unpersist(false)
    batch.count(!_(4).asInstanceOf[Boolean]) should be > 0 // the gate bites
    got.toSeq shouldBe batch.toSeq
  }

  "KeyMassStream" should "drain to exactly the batch mixture-weights AND UniMax reports over one shared state (p120/p155)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val stateDir = tmp("graft-mass-state")
    drain(KeyMassStream.attach(docStream(withLang = true), "lang", "text", stateDir,
      tmp("graft-mass-ckpt")))
    val gotW = KeyMassStream.weightsReport(spark, stateDir)
      .collect().map(_.toSeq)
    val batchW = graft.text.TextCuration.mixtureWeights(
        docsDf, "doc_id", "lang", "text").collect().map(_.toSeq)
    gotW.toSeq shouldBe batchW.toSeq
    val total = batchW.map(_(2).asInstanceOf[Long]).sum
    val gotU = KeyMassStream.unimaxReport(spark, stateDir,
        budgetTokens = total * 3 / 2).collect().map(_.toSeq)
    val batchU = graft.text.TextCuration.unimaxAllocation(
        docsDf, "doc_id", "lang", "text", budgetTokens = total * 3 / 2)
      .collect().map(_.toSeq)
    gotU.toSeq shouldBe batchU.toSeq
    // state stays <= C rows of integer partials
    val lastState = stateDirs(stateDir).max
    spark.read.parquet(s"$stateDir/$lastState").count() should be <= batchW.length.toLong
  }

  "WinnowingStream" should "accumulate exactly the batch winnowingPairs output across micro-batches (p158)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val outDir = tmp("graft-winnow-out")
    drain(WinnowingStream.attach(docStream(), "doc_id", "text", outDir,
      tmp("graft-winnow-state"), tmp("graft-winnow-ckpt"), graft.text.TextDedup.MaxDf(16)))
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val batch = graft.text.TextDedup.winnowingPairs(
        docsDf, "doc_id", "text", graft.text.TextDedup.MaxDf(16))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    batch.length should be > 0 // real fingerprint overlap at this scale
    got.toSeq shouldBe batch.toSeq
    // the mid-stream cap-crossing audit stayed empty — the parity above
    // is unconditional, not luck
    spark.read.parquet(s"$outDir/_cap_crossings").count() shouldBe 0L
  }

  "EvalDirtinessStream" should "drain to exactly the batch evalDirtiness report (p153)" in {
    val all = graft.sources.Tables.documents(spark, sfDir)
    val bench = all.filter(col("doc_id") < 25).persist()
    val corpus = all.filter(col("doc_id") >= 25)
    val stateDir = tmp("graft-dirty-state")
    val bg = EvalDirtinessStream.benchGrams(bench, "doc_id", "text").persist()
    drain(EvalDirtinessStream.attach(chunked(corpus.select("doc_id", "text"), "doc_id"),
      "doc_id", "text", bg, stateDir, tmp("graft-dirty-ckpt")))
    val got = EvalDirtinessStream.report(spark, stateDir, bg)
      .collect().map(_.toSeq)
    val batch = graft.text.TextCuration.evalDirtiness(
        corpus, bench, "doc_id", "text")
      .collect().map(_.toSeq)
    bench.unpersist(false); bg.unpersist(false)
    batch.exists(_(2).asInstanceOf[Long] > 0L) shouldBe true // real leakage found
    got shouldBe batch.toSeq
    // the state is bounded by the BENCHMARK vocabulary, never the stream
    val stateRows = stateDirs(stateDir).map(d => spark.read.parquet(s"$stateDir/$d").count()).sum
    val benchVocab = batch.map(_(1).asInstanceOf[Long]).sum
    stateRows should be <= benchVocab
  }

  "LineDedupStream" should "accumulate exactly the batch lineDedup output across id-ordered micro-batches (p137)" in {
    // multi-line planting: a 30-char prefix line (duplicated wherever
    // prefixes collide, incl. duplicate documents) and one constant line
    // shared by EVERY doc — only the global first occurrence survives
    val aug = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), concat(col("text"), lit("\n"),
        substring(col("text"), 1, 30),
        lit("\nshared boilerplate line")).as("text"))
    val outDir = tmp("graft-line-out")
    drain(LineDedupStream.attach(chunked(aug, "doc_id"), "doc_id", "text", outDir,
      tmp("graft-line-state"), tmp("graft-line-ckpt")))
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val batch = graft.text.TextDedup.lineDedup(aug, "doc_id", "text")
      .collect().map(_.toSeq)
    batch.map(_(2).asInstanceOf[Long]).sum should be > 0L // dups really removed
    got.length shouldBe batch.length
    got shouldBe batch.toSeq
  }

  /** The corpus's distinct span-window keys: the span-dedup state's size. */
  private def distinctSpanKeys(docsDf: DataFrame): Long = graft.text.TextDedup
    .spanOccurrences(graft.text.TextDedup.spanTokenFrame(docsDf, "doc_id", "text"), 8)
    .select("wh").distinct().count()

  "SpanDedupStream" should "accumulate exactly the batch spanDedup output across id-ordered micro-batches (p87)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val outDir = tmp("graft-span-out")
    val stateDir = tmp("graft-span-state")
    drain(SpanDedupStream.attach(docStream(), "doc_id", "text", outDir, stateDir,
      tmp("graft-span-ckpt")))
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val batch = graft.text.TextDedup.spanDedup(docsDf, "doc_id", "text")
      .collect().map(_.toSeq)
    batch.exists(_(3).asInstanceOf[Long] > 0L) shouldBe true // dups really removed
    got shouldBe batch.toSeq
    // incremental state: one anchoring compact then per-batch novelty
    // deltas; the deltas are pairwise disjoint and their union with the
    // compact is exactly the corpus's distinct key set — so per-batch
    // state writes sum to |distinct keys|, instead of the
    // sum-of-prefixes a full rewrite per batch would cost
    val dirs = stateDirs(stateDir)
    dirs.head shouldBe "c0"
    all(dirs.tail) should startWith("d")
    val stateRows = dirs.map(d =>
      spark.read.parquet(s"$stateDir/$d").count()).sum
    val distinctKeys = distinctSpanKeys(docsDf)
    stateRows shouldBe distinctKeys
    VersionedState.readSet(spark, stateDir).get.count() shouldBe distinctKeys
  }

  it should "hold batch parity when compaction and pruning fire mid-stream" in {
    // compactEvery = 1 over a 7-batch replay forces the full
    // delta→compact→prune machinery to run LIVE (the default 8 never
    // compacts over the standard 5-file replay): the chain alternates
    // c0, d1, c2, d3, c4, d5, c6 and the prune at batch 5 — the first
    // with THREE compacts below it — deletes the c0 window
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val stream = chunked(docsDf.select("doc_id", "text"), "doc_id", files = 7)
    val outDir = tmp("graft-spanc-out")
    val stateDir = tmp("graft-spanc-state")
    val ckpt = tmp("graft-spanc-ckpt")
    def start() = drain(SpanDedupStream.attach(stream, "doc_id", "text", outDir, stateDir,
      ckpt, compactEvery = 1))
    start()
    def got = spark.read.parquet(outDir).drop("batch").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val batch = graft.text.TextDedup.spanDedup(docsDf, "doc_id", "text")
      .collect().map(_.toSeq)
    got shouldBe batch.toSeq
    // compaction really fired and pruning really deleted the old window
    val dirs = stateDirs(stateDir)
    dirs.count(_.startsWith("c")) should be >= 2 // c0 + at least one fold
    dirs should not contain "c0"                 // oldest window pruned
    // the surviving chain still resolves to the full distinct key set
    val distinctKeys = distinctSpanKeys(docsDf)
    VersionedState.readSet(spark, stateDir).get.count() shouldBe distinctKeys
    // a crash after batch 6's state write but before its checkpoint
    // commit: the restart replays batch 6, which must read its
    // predecessor's state (not its own write) and rewrite the same output
    val commits = new java.io.File(ckpt, "commits")
    new java.io.File(commits, "6").delete() shouldBe true
    start()
    commits.list() should contain("6")
    got shouldBe batch.toSeq
    VersionedState.readSet(spark, stateDir).get.count() shouldBe distinctKeys
  }
}
