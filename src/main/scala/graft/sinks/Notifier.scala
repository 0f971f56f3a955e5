package graft.sinks

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import scala.collection.concurrent.TrieMap

import graft.Json

/** Alert notification delivery (reference srvc-notifier:
  * `apps/srvc-notifier/.../DiscordNotifier.scala:15-57`): severity → embed
  * color, a webhook JSON payload with a bold `**[SEVERITY]** message`
  * content line plus an embed carrying severity/time fields, POSTed to a
  * webhook URL, log-and-continue on delivery failure (the reference's
  * `handleErrorWith` — an unreachable webhook must not kill the alert
  * stream).
  *
  * Engine shape: the payload builder is a pure function (unit-testable
  * byte-for-byte), delivery is a raw `HttpURLConnection` POST — no HTTP
  * client library, consistent with the raw-RESP Redis sinks — and the
  * in-memory twin captures payloads for tests. Executor closures construct
  * connections lazily, so the notifier ships to `foreachPartition` like
  * every other sink.
  */
trait AlertNotifier extends Serializable {
  /** Deliver one alert; implementations swallow delivery errors. */
  def notify(severity: String, message: String, eventTime: String): Unit
}

object WebhookPayload {

  /** Reference color map (DiscordNotifier.scala:15-20). */
  def severityColor(severity: String): Int = severity.toUpperCase match {
    case "HIGH"   => 0xff0000
    case "MEDIUM" => 0xffa500
    case "LOW"    => 0x00bfff
    case _        => 0x808080
  }

  /** The webhook document (DiscordNotifier.scala:25-46): content +
    * one embed with color and inline severity/time fields. */
  def render(severity: String, message: String, eventTime: String): String = {
    val m = Json.escape(message)
    val sev = Json.escape(severity)
    s"""{"content":"**[$sev]** $m","embeds":[{"title":"Alert","description":"$m",""" +
      s""""color":${severityColor(severity)},"fields":[""" +
      s"""{"name":"Severity","value":"$sev","inline":true},""" +
      s"""{"name":"Time","value":"${Json.escape(eventTime)}","inline":true}]}]}"""
  }
}

/** Raw-HTTP webhook delivery. Any failure (connect, non-2xx) is logged to
  * stderr and swallowed — at-least-once alert streams must outlive a flaky
  * webhook, exactly like the reference notifier. */
final class HttpWebhookNotifier(webhookUrl: String) extends AlertNotifier {
  def notify(severity: String, message: String, eventTime: String): Unit = {
    val payload = WebhookPayload.render(severity, message, eventTime)
    try {
      val conn = URI.create(webhookUrl).toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setConnectTimeout(5000)
      conn.setReadTimeout(5000)
      conn.setDoOutput(true)
      val body = payload.getBytes(StandardCharsets.UTF_8)
      conn.getOutputStream.write(body)
      conn.getOutputStream.close()
      val code = conn.getResponseCode
      if (code < 200 || code >= 300)
        System.err.println(s"[notifier] webhook returned $code for alert: $severity")
      conn.disconnect()
    } catch {
      case e: Exception =>
        System.err.println(s"[notifier] failed to send alert: ${e.getMessage}")
    }
  }
}

/** Test twin: captures rendered payloads in a JVM-global registry (same
  * deserialized-closure trick as [[InMemoryKeyValueSink]]). */
object InMemoryNotifier {
  private[sinks] val stores = TrieMap.empty[String, TrieMap[Int, String]]
}
final class InMemoryNotifier extends AlertNotifier {
  private val id = java.util.UUID.randomUUID().toString
  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)
  def payloads: Seq[String] =
    InMemoryNotifier.stores.getOrElseUpdate(id, TrieMap.empty)
      .toSeq.sortBy(_._1).map(_._2)
  def notify(severity: String, message: String, eventTime: String): Unit =
    InMemoryNotifier.stores.getOrElseUpdate(id, TrieMap.empty)
      .put(seq.getAndIncrement(), WebhookPayload.render(severity, message, eventTime))
}
