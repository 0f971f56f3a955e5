package perfbench

import java.io.{BufferedInputStream, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

/** Loopback stand-ins for Redis and the alert webhook. The engine's real
  * sinks (`RedisKeyValueSink`, `HttpWebhookNotifier`) connect to them
  * unchanged; the endpoints count connections and requests and keep what
  * they received (the webhook with its arrival on the benchmark clock).
  * One thread per connection, so a client that holds its socket open (as
  * the RESP sink does) costs a parked thread, not a wrong count.
  */
abstract class LoopbackEndpoint(name: String) extends AutoCloseable {
  private val server = new ServerSocket(0, 512, InetAddress.getLoopbackAddress)
  private val open = new ConcurrentLinkedQueue[Socket]()
  @volatile private var closed = false
  val connections = new AtomicLong()
  val requests = new AtomicLong()
  def port: Int = server.getLocalPort

  protected def serve(in: InputStream, out: OutputStream): Unit

  private val acceptor = new Thread(() => {
    while (!closed) {
      try {
        val s = server.accept()
        connections.incrementAndGet()
        open.add(s)
        val t = new Thread(() => {
          try serve(new BufferedInputStream(s.getInputStream), s.getOutputStream)
          catch { case _: java.io.IOException => () }
          finally s.close()
        }, s"$name-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: java.io.IOException => () }
    }
  }, s"$name-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Count connections and requests from now on. */
  def resetCounts(): Unit = { connections.set(0); requests.set(0) }

  def close(): Unit = {
    closed = true
    server.close()
    open.forEach(s => s.close())
    acceptor.join(2000)
  }
}

/** RESP endpoint: answers every command with `+OK`, and keeps JSON.SET
  * documents (last write wins per key). */
final class RespEndpoint extends LoopbackEndpoint("resp") {
  val store = new ConcurrentHashMap[String, String]()

  private def line(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var b = in.read()
    while (b >= 0 && b != '\r') { sb.append(b.toChar); b = in.read() }
    if (b < 0) return null
    in.read() // '\n'
    sb.toString
  }

  private def bulk(in: InputStream): String = {
    val n = line(in).drop(1).toInt
    val buf = in.readNBytes(n)
    in.read(); in.read() // CRLF
    new String(buf, StandardCharsets.UTF_8)
  }

  protected def serve(in: InputStream, out: OutputStream): Unit = {
    var head = line(in)
    while (head != null) {
      require(head.startsWith("*"), s"RESP array expected, got: $head")
      val args = Seq.fill(head.drop(1).toInt)(bulk(in))
      requests.incrementAndGet()
      if (args.headOption.contains("JSON.SET")) store.put(args(1), args(3))
      out.write("+OK\r\n".getBytes(StandardCharsets.US_ASCII))
      out.flush()
      head = line(in)
    }
  }

  def snapshot: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    store.asScala.toMap
  }

  def reset(): Unit = store.clear()
}

/** HTTP endpoint for the webhook: reads each request (keep-alive aware),
  * answers 204, and keeps (arrival ms, body). */
final class WebhookEndpoint extends LoopbackEndpoint("webhook") {
  val received = new ConcurrentLinkedQueue[(Double, String)]()

  protected def serve(in: InputStream, out: OutputStream): Unit = {
    var more = true
    while (more) {
      var len = 0
      var keepAlive = true
      var l = readLine(in)
      if (l == null) return
      while (l != null && l.nonEmpty) {
        val lower = l.toLowerCase
        if (lower.startsWith("content-length:")) len = lower.drop(15).trim.toInt
        if (lower.startsWith("connection:") && lower.contains("close")) keepAlive = false
        l = readLine(in)
      }
      val body = new String(in.readNBytes(len), StandardCharsets.UTF_8)
      requests.incrementAndGet()
      received.add(Clock.nowMs() -> body)
      out.write("HTTP/1.1 204 No Content\r\nContent-Length: 0\r\n\r\n"
        .getBytes(StandardCharsets.US_ASCII))
      out.flush()
      more = keepAlive
    }
  }

  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') { if (b != '\r') sb.append(b.toChar); b = in.read() }
    sb.toString
  }

  def reset(): Unit = received.clear()
}

/** The benchmark clock: wall-clock milliseconds with sub-millisecond
  * resolution, comparable with the epoch-millisecond timestamps Spark
  * puts in streaming progress reports. */
object Clock {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs(): Double = wall0 + (System.nanoTime() - nano0) / 1e6
}
