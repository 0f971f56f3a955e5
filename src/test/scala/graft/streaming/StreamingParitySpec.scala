package graft.streaming

import java.nio.file.{Files, Path}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

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

  // the parity gate runs under the production state store (SURVEY §4):
  // every stateful query below keeps its mapGroupsWithState / windowed
  // state in RocksDB, not executor heap, and checkpoints through the
  // engine's local checkpoint manager, as the Jobs entry points do.
  StreamingConf.useRocksDbState(spark)
  StreamingConf.useLocalCheckpoints(spark)

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val jsonDir: String = dumpEventsAsJson()

  /** Flattened parquet events → the reference's nested JSON-lines shape,
    * chunked into 10 files with strictly increasing mtimes so the file
    * stream replays them in event order across ≥5 micro-batches. */
  private def dumpEventsAsJson(): String = {
    val dir = Files.createTempDirectory("graft-events-json")
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
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) => onBatch(batch) }
      .start()
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
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
    val dir = Files.createTempDirectory("graft-garbage")
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
    val dir = Files.createTempDirectory("graft-pairs-json")
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
    val stateDir = Files.createTempDirectory("graft-ccstate").toString
    val ckpt = Files.createTempDirectory("graft-ccckpt").toString
    val q = DedupGroupStream.attach(stream, "doc_a", "doc_b", stateDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "pair stream did not terminate")
    val got = DedupGroupStream.latestState(spark, stateDir).get
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
    val stateDir2 = Files.createTempDirectory("graft-ccstate2").toString
    val ckpt2 = Files.createTempDirectory("graft-ccckpt2").toString
    val q2 = DedupGroupStream.attach(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(dir.toString),
      "doc_a", "doc_b", stateDir2, ckpt2, compactEvery = 1)
    q2.awaitTermination(180000)
    assert(!q2.isActive, "compacting pair stream did not terminate")
    new java.io.File(stateDir2).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted shouldBe Array("c0", "c2", "d1")
    DedupGroupStream.latestState(spark, stateDir2).get
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
    val dir = Files.createTempDirectory("graft-asof-json")
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
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val dir = Files.createTempDirectory("graft-docs-json")
    val lines = docsDf.orderBy("doc_id")
      .select(to_json(struct(col("doc_id"), col("text"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, lines.length / 5)).zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"chunk-$i%03d.json")
      Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val got = ArrayBuffer.empty[(Long, Long, Long)]
    runStream(ExactDedupStream.firstSeen(stream, "doc_id", "text"), "append") { b =>
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
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val dir = Files.createTempDirectory("graft-chunk-json")
    val lines = docsDf.orderBy("doc_id")
      .select(to_json(struct(col("doc_id"), col("text"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, lines.length / 5)).zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"chunk-$i%03d.json")
      Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val got = ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    runStream(ChunkStream.chunks(stream, "doc_id", "text"), "append") { b =>
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
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val dir = Files.createTempDirectory("graft-pack-json")
    // shard = doc_id % 3; chunks are GLOBALLY id-ordered, so each shard's
    // documents arrive id-ordered across micro-batches (the stated
    // contract) while every micro-batch mixes all three shards
    val lines = docsDf.orderBy("doc_id")
      .select(to_json(struct(col("doc_id"),
        pmod(col("doc_id"), lit(3)).as("shard"), col("text"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, lines.length / 5)).zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"chunk-$i%03d.json")
      Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("shard", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
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
    val dir = Files.createTempDirectory("graft-regmut-json")
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
    val dir = Files.createTempDirectory("graft-range-json")
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

  /** id-ordered JSON-lines doc files (5 of them, increasing mtimes) so a
    * maxFilesPerTrigger=1 file stream replays the documents table
    * id-ordered across ≥5 micro-batches — the cross-batch ordering
    * contract of the span-dedup twin. */
  private def dumpDocsAsJson(withLang: Boolean = false): String = {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val dir = Files.createTempDirectory("graft-docs-json")
    val cols = if (withLang) Seq(col("doc_id"), col("text"), col("lang"))
               else Seq(col("doc_id"), col("text"))
    val lines = docsDf.orderBy("doc_id")
      .select(to_json(struct(cols: _*)).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, lines.length / 5)).zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"docs-$i%03d.json")
      Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    dir.toString
  }

  private def docStream(dir: String, withLang: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val base = Seq(
      StructField("doc_id", LongType), StructField("text", StringType))
    val schema = StructType(
      if (withLang) base :+ StructField("lang", StringType) else base)
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(dir)
  }

  "MixtureSampleStream" should "match batch tokenBudgetSample per key (p96) across id-ordered micro-batches" in {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // the p96 input shape, precomputed in batch: (id, predicted_lang,
    // n_tokens) — the twin under test is the SAMPLER, not the upstream
    // lang-id/stats (those are stateless scan-side projections)
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val rows = graft.text.TextStats.langId(docsDf, "doc_id", "text")
      .select(col("id"), col("predicted_lang"))
      .join(graft.text.TextStats.stats(docsDf, "doc_id", "text")
        .select(col("id"), col("n_tokens")), "id")
      .persist()
    val dir = Files.createTempDirectory("graft-mix-json")
    val lines = rows.orderBy("id")
      .select(to_json(struct(col("id"), col("predicted_lang"), col("n_tokens"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, lines.length / 5)).zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"mix-$i%03d.json")
      Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("predicted_lang", StringType), StructField("n_tokens", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
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
    val outDir = Files.createTempDirectory("graft-contain-out").toString
    val stateDir = Files.createTempDirectory("graft-contain-state").toString
    val ckpt = Files.createTempDirectory("graft-contain-ckpt").toString
    val minC = 0.5 // lower than p94's 0.9 so sf0.001 yields real pairs
    val q = ContainmentStream.attach(
      docStream(dumpDocsAsJson()), "doc_id", "text", outDir, stateDir, ckpt,
      graft.text.TextDedup.MaxDf(0), minContainment = minC)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val batch = graft.text.TextDedup.containmentPairs(docsDf, "doc_id", "text",
        graft.text.TextDedup.MaxDf(0), minContainment = minC)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    batch.length should be > 0 // real pairs exist at this threshold
    got.sortBy(t => (t._1, t._2)) shouldBe batch.toSeq
    // postings state: one anchoring compact + disjoint per-batch deltas
    // that sum to the corpus's full posting table
    val dirs = new java.io.File(stateDir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
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

  "DsirScoreStream" should "score a doc stream against a frozen importance model exactly like batch dsirScore (p104)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val model = graft.text.ImportanceSampler
      .dsirModel(docsDf, "doc_id", "text", col("lang") === "en")
      .persist()
    val outDir = Files.createTempDirectory("graft-dsir-out").toString
    val ckpt = Files.createTempDirectory("graft-dsir-ckpt").toString
    val q = DsirScoreStream.attach(
      docStream(dumpDocsAsJson()), "doc_id", "text", model, outDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
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
    val outDir = Files.createTempDirectory("graft-qscore-out").toString
    val ckpt = Files.createTempDirectory("graft-qscore-ckpt").toString
    val q = QualityScoreStream.attach(
      docStream(dumpDocsAsJson()), "doc_id", "text", model, outDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
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
    val outDir = Files.createTempDirectory("graft-bpe-out").toString
    val ckpt = Files.createTempDirectory("graft-bpe-ckpt").toString
    val q = BpeTokenizeStream.attach(
      docStream(dumpDocsAsJson()), "doc_id", "text", merges, outDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val batch = graft.text.BpeTokenizer
      .tokenize(docsDf, "doc_id", "text", merges)
      .collect().map(_.toSeq)
    got.length shouldBe batch.length
    got shouldBe batch.toSeq
  }

  "RepetitionSignalsStream" should "score a doc stream exactly like batch repetition signals (p131)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val outDir = Files.createTempDirectory("graft-rep-out").toString
    val ckpt = Files.createTempDirectory("graft-rep-ckpt").toString
    val q = RepetitionSignalsStream.attach(
      docStream(dumpDocsAsJson()), "doc_id", "text", outDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val batch = graft.text.TextStats
      .repetitionSignals(docsDf, "doc_id", "text")
      .collect().map(_.toSeq)
    got.length shouldBe batch.length
    got shouldBe batch.toSeq
  }

  "GopherQualityStream" should "gate a doc stream exactly like the batch quality rules (p133)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val outDir = Files.createTempDirectory("graft-gq-out").toString
    val ckpt = Files.createTempDirectory("graft-gq-ckpt").toString
    val q = GopherQualityStream.attach(
      docStream(dumpDocsAsJson()), "doc_id", "text", outDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
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
    val outDir = Files.createTempDirectory("graft-idfemb-out").toString
    val ckpt = Files.createTempDirectory("graft-idfemb-ckpt").toString
    val q = IdfEmbedStream.attach(
      docStream(dumpDocsAsJson()), "doc_id", "text", vocab, nDocs, outDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
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
    val outDir = Files.createTempDirectory("graft-langid-out").toString
    val ckpt = Files.createTempDirectory("graft-langid-ckpt").toString
    val q = LangIdStream.attach(
      docStream(dumpDocsAsJson()), "doc_id", "text", model, outDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
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
    val outDir = Files.createTempDirectory("graft-bloom-out").toString
    val ckpt = Files.createTempDirectory("graft-bloom-ckpt").toString
    val q = BloomProbeStream.attach(
      docStream(dumpDocsAsJson()), "doc_id", "text", pos, sfp, 64L,
      outDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    val batch = graft.text.TextCuration
      .bloomSeenProbe(docsDf, "doc_id", "text", col("doc_id") < 25)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    pos.unpersist(false); sfp.unpersist(false)
    batch.count(t => t._2 && !t._3) should be > 0 // FPs really occur
    got.sortBy(_._1) shouldBe batch.toSeq
  }

  "TwoLevelAssignStream" should "assign a vector stream against a frozen two-level quantizer exactly like batch (p125)" in {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
    val embDf = graft.sources.Tables.embeddings(spark, sfDir)
    val cents = graft.ann.Similarity
      .lowestIdCentroids(embDf, "vec_id", "embedding", 32)
    val (supers, cells) = graft.ann.Similarity.trainTwoLevel(cents)
    val dir = Files.createTempDirectory("graft-twolevel-json")
    val lines = embDf.orderBy("vec_id")
      .select(to_json(struct(col("vec_id"), col("embedding"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, lines.length / 4)).zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"vecs-$i%03d.json")
      Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val outDir = Files.createTempDirectory("graft-twolevel-out").toString
    val ckpt = Files.createTempDirectory("graft-twolevel-ckpt").toString
    val q = TwoLevelAssignStream.attach(stream, "vec_id", "embedding",
      supers, cells, wSuper = 2, outDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val batch = embDf.select(col("vec_id").cast("long"),
        graft.ann.Similarity.cellOfTwoLevel(
          col("embedding"), supers, cells, 2).as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    got.toSeq shouldBe batch.toSeq
  }

  "IndexIngestStream" should "accumulate a searchable cell-partitioned store equal to batch ingest (p128)" in {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
    val embDf = graft.sources.Tables.embeddings(spark, sfDir)
    val cents = graft.ann.Similarity
      .lowestIdCentroids(embDf, "vec_id", "embedding", 8)
    val cb = graft.ann.ProductQuantizer.trainResidualCodebooks(
      embDf, "vec_id", "embedding", cents, m = 16)
    val dir = Files.createTempDirectory("graft-ingest-json")
    val lines = embDf.orderBy("vec_id")
      .select(to_json(struct(col("vec_id"), col("embedding"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, lines.length / 4)).zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"vecs-$i%03d.json")
      Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val indexPath = Files.createTempDirectory("graft-ingest-idx").toString + "/store"
    val ckpt = Files.createTempDirectory("graft-ingest-ckpt").toString
    val q = IndexIngestStream.attach(stream, "vec_id", "embedding",
      cents, cb, indexPath, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
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
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
    val embDf = graft.sources.Tables.embeddings(spark, sfDir)
    // the frozen artifacts, trained once offline — the p161 train phase
    val cents = graft.ann.Similarity
      .lowestIdCentroids(embDf, "vec_id", "embedding", 8)
    val cb = graft.ann.ProductQuantizer.trainResidualCodebooks(
      embDf, "vec_id", "embedding", cents, m = 16)
    // 20 query vectors arrive over 4 micro-batches
    val dir = Files.createTempDirectory("graft-mmr-json")
    val lines = embDf.filter(col("vec_id") < 20).orderBy("vec_id")
      .select(to_json(struct(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("qe"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(5).zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"q-$i%03d.json")
      Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = StructType(Seq(StructField("query_id", LongType),
      StructField("qe", ArrayType(FloatType))))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val outDir = Files.createTempDirectory("graft-mmr-out").toString
    val ckpt = Files.createTempDirectory("graft-mmr-ckpt").toString
    val q = MmrSearchStream.attach(stream, embDf, "vec_id", "embedding",
      cents, cb, outDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
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

  "SemDedupStream" should "accumulate exactly the batch semanticDedup keep list across id-ordered micro-batches (p103)" in {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
    val embDf = graft.sources.Tables.embeddings(spark, sfDir)
    val cents = graft.ann.Similarity
      .trainIvfCentroids(embDf, "vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-semdedup-json")
    val lines = embDf.orderBy("vec_id")
      .select(to_json(struct(col("vec_id"), col("embedding"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, lines.length / 5)).zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"vecs-$i%03d.json")
      Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val outDir = Files.createTempDirectory("graft-semdedup-out").toString
    val stateDir = Files.createTempDirectory("graft-semdedup-state").toString
    val ckpt = Files.createTempDirectory("graft-semdedup-ckpt").toString
    val minSim = graft.ops.DocAnalytics.SemDedupMinSim
    val q = SemDedupStream.attach(stream, "vec_id", "embedding", cents,
      outDir, stateDir, ckpt, minSim = minSim)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val batch = graft.ann.Similarity
      .semanticDedup(embDf, "vec_id", "embedding", cents, minSim = minSim)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    batch.length.toLong should be < embDf.count() // the prune really bit
    got.sortBy(_._1) shouldBe batch.toSeq
    // state: one anchoring compact + disjoint deltas summing to the corpus
    val dirs = new java.io.File(stateDir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    dirs.head shouldBe "c0"
    val stateRows = dirs.map(d => spark.read.parquet(s"$stateDir/$d").count()).sum
    stateRows shouldBe embDf.count()
  }

  "InertiaStream" should "drain to exactly the batch inertiaReport over O(cells) integer state (p159)" in {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
    val embDf = graft.sources.Tables.embeddings(spark, sfDir)
    val cents = graft.ann.Similarity
      .trainIvfCentroids(embDf, "vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-inertia-json")
    val lines = embDf.orderBy("vec_id")
      .select(to_json(struct(col("vec_id"), col("embedding"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, lines.length / 4)).zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"vecs-$i%03d.json")
      Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val stateDir = Files.createTempDirectory("graft-inertia-state").toString
    val ckpt = Files.createTempDirectory("graft-inertia-ckpt").toString
    val q = InertiaStream.attach(stream, "vec_id", "embedding", cents,
      stateDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = InertiaStream.report(spark, stateDir).collect().map(_.toSeq)
    val batch = graft.ann.Similarity
      .inertiaReport(embDf, "vec_id", "embedding", cents)
      .collect().map(_.toSeq)
    batch.length should be > 1 // real multi-cell report
    got.toSeq shouldBe batch.toSeq
    // state stays <= C rows of integer partials regardless of stream length
    val lastState = new java.io.File(stateDir).listFiles()
      .filter(_.isDirectory).map(_.getName).max
    spark.read.parquet(s"$stateDir/$lastState").count() should be <= batch.length.toLong
  }

  "PrototypicalityStream" should "re-rank to exactly the batch prototypicalityPrune verdict as vectors accumulate (p147)" in {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
    val embDf = graft.sources.Tables.embeddings(spark, sfDir)
    val cents = graft.ann.Similarity
      .trainIvfCentroids(embDf, "vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-proto-json")
    val lines = embDf.orderBy("vec_id")
      .select(to_json(struct(col("vec_id"), col("embedding"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, lines.length / 4)).zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"vecs-$i%03d.json")
      Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val outDir = Files.createTempDirectory("graft-proto-out").toString
    val stateDir = Files.createTempDirectory("graft-proto-state").toString
    val ckpt = Files.createTempDirectory("graft-proto-ckpt").toString
    val q = PrototypicalityStream.attach(stream, "vec_id", "embedding", cents,
      outDir, stateDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
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
    val outDir = Files.createTempDirectory("graft-novelty-out").toString
    val ckpt = Files.createTempDirectory("graft-novelty-ckpt").toString
    val q = NoveltyScoreStream.attach(
      docStream(dumpDocsAsJson()), "doc_id", "text", model, outDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
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
    val outDir = Files.createTempDirectory("graft-lmscore-out").toString
    val ckpt = Files.createTempDirectory("graft-lmscore-ckpt").toString
    val q = LmScoreStream.attach(
      docStream(dumpDocsAsJson()), "doc_id", "text", model, outDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
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
    val dir = Files.createTempDirectory("graft-scrub-json")
    val lines = corpus.orderBy("doc_id")
      .select(to_json(struct(col("doc_id"), col("text"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, lines.length / 5)).zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"docs-$i%03d.json")
      Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val outDir = Files.createTempDirectory("graft-scrub-out").toString
    val ckpt = Files.createTempDirectory("graft-scrub-ckpt").toString
    val q = SpanScrubStream.attach(
      docStream(dir.toString), bench, "doc_id", "text", outDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
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
    val outDir = Files.createTempDirectory("graft-gate-out").toString
    val ckpt = Files.createTempDirectory("graft-gate-ckpt").toString
    val q = LangGateStream.attach(
      docStream(dumpDocsAsJson(withLang = true), withLang = true),
      "doc_id", "text", "lang", thr, outDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val batch = graft.text.TextStats
      .langQualityGate(docsDf, "doc_id", "text", "lang")
      .collect().map(_.toSeq)
    thr.unpersist(false)
    batch.count(!_(4).asInstanceOf[Boolean]) should be > 0 // the gate bites
    got.toSeq shouldBe batch.toSeq
  }

  "KeyMassStream" should "drain to exactly the batch mixture-weights AND UniMax reports over one shared state (p120/p155)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val stateDir = Files.createTempDirectory("graft-mass-state").toString
    val ckpt = Files.createTempDirectory("graft-mass-ckpt").toString
    val q = KeyMassStream.attach(
      docStream(dumpDocsAsJson(withLang = true), withLang = true),
      "lang", "text", stateDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
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
    val lastState = new java.io.File(stateDir).listFiles()
      .filter(_.isDirectory).map(_.getName).max
    spark.read.parquet(s"$stateDir/$lastState").count() should be <= batchW.length.toLong
  }

  "WinnowingStream" should "accumulate exactly the batch winnowingPairs output across micro-batches (p158)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val outDir = Files.createTempDirectory("graft-winnow-out").toString
    val stateDir = Files.createTempDirectory("graft-winnow-state").toString
    val ckpt = Files.createTempDirectory("graft-winnow-ckpt").toString
    val q = WinnowingStream.attach(
      docStream(dumpDocsAsJson()), "doc_id", "text", outDir, stateDir, ckpt,
      graft.text.TextDedup.MaxDf(16))
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
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
    val dir = Files.createTempDirectory("graft-dirty-json")
    val lines = corpus.orderBy("doc_id")
      .select(to_json(struct(col("doc_id"), col("text"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, lines.length / 5)).zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"docs-$i%03d.json")
      Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stateDir = Files.createTempDirectory("graft-dirty-state").toString
    val ckpt = Files.createTempDirectory("graft-dirty-ckpt").toString
    val bg = EvalDirtinessStream.benchGrams(bench, "doc_id", "text").persist()
    val q = EvalDirtinessStream.attach(
      docStream(dir.toString), "doc_id", "text", bg, stateDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = EvalDirtinessStream.report(spark, stateDir, bg)
      .collect().map(_.toSeq)
    val batch = graft.text.TextCuration.evalDirtiness(
        corpus, bench, "doc_id", "text")
      .collect().map(_.toSeq)
    bench.unpersist(false); bg.unpersist(false)
    batch.exists(_(2).asInstanceOf[Long] > 0L) shouldBe true // real leakage found
    got shouldBe batch.toSeq
    // the state is bounded by the BENCHMARK vocabulary, never the stream
    val stateRows = new java.io.File(stateDir).listFiles()
      .filter(_.isDirectory).map(d => spark.read.parquet(d.getPath).count()).sum
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
    val dir = Files.createTempDirectory("graft-line-json")
    val lines = aug.orderBy("doc_id")
      .select(to_json(struct(col("doc_id"), col("text"))).as("l"))
      .collect().map(_.getString(0))
    lines.grouped(math.max(1, lines.length / 5)).zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"docs-$i%03d.json")
      Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val outDir = Files.createTempDirectory("graft-line-out").toString
    val stateDir = Files.createTempDirectory("graft-line-state").toString
    val ckpt = Files.createTempDirectory("graft-line-ckpt").toString
    val q = LineDedupStream.attach(
      docStream(dir.toString), "doc_id", "text", outDir, stateDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val batch = graft.text.TextDedup.lineDedup(aug, "doc_id", "text")
      .collect().map(_.toSeq)
    batch.map(_(2).asInstanceOf[Long]).sum should be > 0L // dups really removed
    got.length shouldBe batch.length
    got shouldBe batch.toSeq
  }

  "SpanDedupStream" should "accumulate exactly the batch spanDedup output across id-ordered micro-batches (p87)" in {
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val outDir = Files.createTempDirectory("graft-span-out").toString
    val stateDir = Files.createTempDirectory("graft-span-state").toString
    val ckpt = Files.createTempDirectory("graft-span-ckpt").toString
    val q = SpanDedupStream.attach(
      docStream(dumpDocsAsJson()), "doc_id", "text", outDir, stateDir, ckpt)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
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
    val dirs = new java.io.File(stateDir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    dirs.head shouldBe "c0"
    all(dirs.tail) should startWith("d")
    val stateRows = dirs.map(d =>
      spark.read.parquet(s"$stateDir/$d").count()).sum
    val distinctKeys = graft.text.TextDedup
      .spanOccurrences(graft.text.TextDedup.spanTokenFrame(docsDf, "doc_id", "text"), 8)
      .select("wh").distinct().count()
    stateRows shouldBe distinctKeys
    SpanDedupStream.latestState(spark, stateDir).get.count() shouldBe distinctKeys
  }

  it should "hold batch parity when compaction and pruning fire mid-stream" in {
    // compactEvery = 1 over a 7-batch replay forces the full
    // delta→compact→prune machinery to run LIVE (the default 8 never
    // compacts over the standard 5-file replay): the chain alternates
    // c0, d1, c2, d3, c4, d5, c6 and the prune at batch 5 — the first
    // with THREE compacts below it — deletes the c0 window
    val docsDf = graft.sources.Tables.documents(spark, sfDir)
    val dir7 = Files.createTempDirectory("graft-spanc-json")
    val lines7 = docsDf.orderBy("doc_id")
      .select(to_json(struct(col("doc_id"), col("text"))).as("l"))
      .collect().map(_.getString(0))
    lines7.grouped(math.max(1, math.ceil(lines7.length / 7.0).toInt))
      .zipWithIndex.foreach { case (ls, i) =>
        val f = dir7.resolve(f"docs-$i%03d.json")
        Files.write(f, String.join("\n", ls.toSeq: _*).getBytes("UTF-8"))
        f.toFile.setLastModified(1700000000000L + i * 60000L)
      }
    val outDir = Files.createTempDirectory("graft-spanc-out").toString
    val stateDir = Files.createTempDirectory("graft-spanc-state").toString
    val ckpt = Files.createTempDirectory("graft-spanc-ckpt").toString
    val q = SpanDedupStream.attach(
      docStream(dir7.toString), "doc_id", "text", outDir, stateDir, ckpt,
      compactEvery = 1)
    q.awaitTermination(180000)
    assert(!q.isActive, "stream did not terminate")
    val got = spark.read.parquet(outDir).drop("batch").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val batch = graft.text.TextDedup.spanDedup(docsDf, "doc_id", "text")
      .collect().map(_.toSeq)
    got shouldBe batch.toSeq
    // compaction really fired and pruning really deleted the old window
    val dirs = new java.io.File(stateDir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    dirs.count(_.startsWith("c")) should be >= 2 // c0 + at least one fold
    dirs should not contain "c0"                 // oldest window pruned
    // the surviving chain still resolves to the full distinct key set
    val distinctKeys = graft.text.TextDedup
      .spanOccurrences(graft.text.TextDedup.spanTokenFrame(docsDf, "doc_id", "text"), 8)
      .select("wh").distinct().count()
    SpanDedupStream.latestState(spark, stateDir).get.count() shouldBe distinctKeys
  }
}
