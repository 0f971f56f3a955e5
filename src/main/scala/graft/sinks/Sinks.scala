package graft.sinks

import java.io.{BufferedInputStream, InputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.concurrent.TrieMap

/** Result-delivery sinks (SURVEY.md §2.1 S9/S10): keyed JSON documents and
  * time-series points, exactly the two Redis write shapes the reference
  * uses (JSON.SET, MainHourly.scala:173-188; TS.CREATE/TS.ADD,
  * MainDaily.scala:264-283, MainWeekly.scala:257-265).
  *
  * Both traits are idempotent-by-key: a `foreachBatch` replay after a
  * failure re-puts the same (window-derived) key with the same value, so
  * at-least-once delivery converges — the same property the reference
  * relies on when the "@every 1m" hourly job re-JSON.SETs its hour key.
  *
  * Implementations must be driver-constructible and either serializable or
  * used via `collect`-free `foreachPartition` closures that construct the
  * connection executor-side.
  */
trait KeyValueSink extends Serializable {
  def put(key: String, json: String): Unit
}

trait TimeSeriesSink extends Serializable {
  def add(series: String, timestampMillis: Long, value: Double): Unit
}

/** Test/sandbox sink: thread-safe in-memory maps. The store lives in a
  * JVM-global registry keyed by sink id — Spark serializes closures even in
  * local mode, so the executor-side deserialized copy must reach the same
  * store the driver instance reads (same trick as Spark's memory sink). */
object InMemoryKeyValueSink {
  private[sinks] val stores = TrieMap.empty[String, TrieMap[String, String]]
}
final class InMemoryKeyValueSink extends KeyValueSink {
  private val id = java.util.UUID.randomUUID().toString
  def store: TrieMap[String, String] =
    InMemoryKeyValueSink.stores.getOrElseUpdate(id, TrieMap.empty)
  def put(key: String, json: String): Unit = store.put(key, json)
}

object InMemoryTimeSeriesSink {
  private[sinks] val stores = TrieMap.empty[String, TrieMap[String, Vector[(Long, Double)]]]
}
final class InMemoryTimeSeriesSink extends TimeSeriesSink {
  private val id = java.util.UUID.randomUUID().toString
  def store: TrieMap[String, Vector[(Long, Double)]] =
    InMemoryTimeSeriesSink.stores.getOrElseUpdate(id, TrieMap.empty)
  def add(series: String, ts: Long, value: Double): Unit =
    store.updateWith(series) {
      case Some(v) => Some((v :+ (ts -> value)).sortBy(_._1))
      case None    => Some(Vector(ts -> value))
    }
}

/** File-backed sink for environments without Redis: one file per key under
  * `dir` (key sanitized), contents = the JSON document. Idempotent by
  * construction (overwrite). The directory is ensured inside put() —
  * deserialization into an executor skips the constructor, so any
  * dir-creation there would exist only on the driver's machine. */
final class FileKeyValueSink(dir: String) extends KeyValueSink {
  private def ensureDir(): Unit = Files.createDirectories(Paths.get(dir))
  def put(key: String, json: String): Unit = {
    ensureDir()
    Files.write(Paths.get(dir, key.replaceAll("[^A-Za-z0-9:._-]", "_")),
      json.getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal RESP (REdis Serialization Protocol) encoder — the wire format of
  * every Redis command — so the Redis sinks need no client library at all
  * (the sandbox has none; the reference used jedis). RESP frames a command
  * as an array of bulk strings:
  * `*<n>\r\n` then per arg `$<len>\r\n<bytes>\r\n`.
  */
object Resp {
  def encode(args: Seq[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"*${args.length}\r\n".getBytes(StandardCharsets.UTF_8))
    args.foreach { a =>
      val b = a.getBytes(StandardCharsets.UTF_8)
      out.write(s"$$${b.length}\r\n".getBytes(StandardCharsets.UTF_8))
      out.write(b)
      out.write("\r\n".getBytes(StandardCharsets.UTF_8))
    }
    out.toByteArray
  }

  def jsonSet(key: String, json: String): Seq[String] = Seq("JSON.SET", key, ".", json)
  def tsAdd(series: String, ts: Long, value: Double): Seq[String] =
    Seq("TS.ADD", series, ts.toString, value.toString)
  def tsCreate(series: String): Seq[String] = Seq("TS.CREATE", series, "RETENTION", "0")

  /** A decoded RESP2 reply. Bulk(None) is the nil bulk string ($-1) a GET
    * of a missing key returns; Arr holds SCAN/MGET results. */
  sealed trait Reply
  final case class Simple(s: String) extends Reply
  final case class Err(msg: String) extends Reply
  final case class Num(n: Long) extends Reply
  final case class Bulk(value: Option[String]) extends Reply
  final case class Arr(items: Seq[Reply]) extends Reply

  // accumulate raw bytes and decode the completed line as UTF-8 (same as
  // the bulk-string path) — byte-wise toChar would garble multi-byte
  // UTF-8 in simple-string and error replies
  private def readLine(in: java.io.InputStream): String = {
    val buf = new java.io.ByteArrayOutputStream()
    var prev = -1
    while (true) {
      val b = in.read()
      if (b < 0) throw new RuntimeException("redis connection closed mid-reply")
      if (prev == '\r' && b == '\n') {
        val bytes = buf.toByteArray
        return new String(bytes, 0, bytes.length - 1, StandardCharsets.UTF_8)
      }
      buf.write(b)
      prev = b
    }
    throw new IllegalStateException("unreachable")
  }

  private def readExact(in: java.io.InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new RuntimeException("redis connection closed mid-bulk")
      off += r
    }
    buf
  }

  /** Read one complete RESP2 reply (recursing into arrays) — the decoder
    * side of [[encode]], covering every type SCAN/GET/MGET/SET/JSON.SET
    * can answer. */
  def readReply(in: java.io.InputStream): Reply = readLine(in) match {
    case l if l.startsWith("+") => Simple(l.drop(1))
    case l if l.startsWith("-") => Err(l.drop(1))
    case l if l.startsWith(":") => Num(l.drop(1).toLong)
    case l if l.startsWith("$") =>
      val n = l.drop(1).toInt
      if (n < 0) Bulk(None)
      else {
        val b = readExact(in, n)
        readExact(in, 2) // trailing CRLF
        Bulk(Some(new String(b, StandardCharsets.UTF_8)))
      }
    case l if l.startsWith("*") =>
      val n = l.drop(1).toInt
      if (n < 0) Arr(Seq.empty)
      else Arr(Seq.fill(n)(readReply(in)))
    case l => throw new RuntimeException(s"unparseable RESP reply line: $l")
  }
}

/** Redis JSON.SET sink over a raw socket (reference MainHourly.scala:
  * 173-188 semantics). Executor-side: one connection per partition via
  * `foreachPartition`. Each put reads its FULL reply synchronously —
  * never `available()`-drains — so replies stay aligned with commands,
  * error replies are always seen, and EOF is an error, not a silent
  * success. Covered end-to-end against a loopback RESP server
  * (RedisRegistrySpec's round trip); the key/value shaping also by the
  * file/in-memory twins. */
final class RedisKeyValueSink(host: String, port: Int = 6379) extends KeyValueSink {
  @transient private var socket: Socket = _
  @transient private var out: OutputStream = _
  // one buffer per connection: a reply costs one read call, not one per byte
  @transient private var in: InputStream = _
  private def ensure(): Unit = if (socket == null || socket.isClosed) {
    socket = new Socket(host, port)
    out = socket.getOutputStream
    in = new BufferedInputStream(socket.getInputStream)
  }

  def put(key: String, json: String): Unit = synchronized {
    ensure()
    out.write(Resp.encode(Resp.jsonSet(key, json)))
    out.flush()
    Resp.readReply(in) match {
      case Resp.Err(msg) => throw new RuntimeException(s"redis error reply for $key: -$msg")
      case _ =>
    }
  }
}
