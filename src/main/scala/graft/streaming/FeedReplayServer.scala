package graft.streaming

import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.util.control.NonFatal

import graft.OhlcvBar

/** In-process market-data feed for [[Streaming.ingestSocketStream]] /
  * [[Streaming.ingestWebSocketStream]]: a localhost TCP server that
  * replays wire lines (CSV or FIX — see [[FeedReplayServer.fixLine]])
  * to the first client that connects, at an optional fixed cadence —
  * the in-sandbox stand-in for the reference's WebSocket/FIX feed
  * (README.md architecture diagram, ~line 36; this environment has no
  * egress, so the feed is replayed locally but the transport is a real
  * socket the consumer cannot rewind). With `webSocket = true` the
  * server speaks actual RFC 6455: HTTP upgrade handshake with the
  * Sec-WebSocket-Accept digest, then one unmasked TEXT frame per
  * line.
  *
  * Replay utilities like this are first-class market-data tooling, not
  * test scaffolding: feed-handler certification and backtests replay
  * recorded sessions over the production transport.
  *
  * Lifecycle: the server binds an ephemeral loopback port on
  * construction ([[port]]), serves one connection on a daemon thread,
  * writes every line, flushes, and leaves the connection OPEN (the
  * socket source treats disconnect as stream end — the driver decides
  * when the session is over via [[close]]). [[awaitDrained]] blocks
  * until every line has been handed to the socket.
  */
final class FeedReplayServer(lines: Seq[String], intervalMs: Long = 0L,
    webSocket: Boolean = false) {
  private val server =
    new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
  @volatile private var client: Socket = _
  private val drained = new CountDownLatch(1)

  /** The ephemeral port the feed listens on. */
  def port: Int = server.getLocalPort
  def host: String = InetAddress.getLoopbackAddress.getHostAddress

  // RFC 6455 server side: read the HTTP upgrade request, answer 101
  // with the Sec-WebSocket-Accept digest, then frame each line as one
  // unmasked TEXT frame (FIN set; 7-bit / 16-bit / 64-bit payload
  // length per spec — FIX snapshots exceed the 125-byte short form).
  private def wsHandshake(s: Socket): java.io.OutputStream = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      s.getInputStream, StandardCharsets.UTF_8))
    var key: String = null
    var line = in.readLine()
    while (line != null && line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0 && line.substring(0, i).trim
          .equalsIgnoreCase("Sec-WebSocket-Key"))
        key = line.substring(i + 1).trim
      line = in.readLine()
    }
    require(key != null, "no Sec-WebSocket-Key in upgrade request")
    val accept = java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-1").digest(
        (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11")
          .getBytes(StandardCharsets.US_ASCII)))
    val out = s.getOutputStream
    out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
      s"Sec-WebSocket-Accept: $accept\r\n\r\n")
      .getBytes(StandardCharsets.US_ASCII))
    out.flush()
    out
  }

  private def wsTextFrame(payload: Array[Byte]): Array[Byte] = {
    val n = payload.length
    val header =
      if (n <= 125) Array[Byte](0x81.toByte, n.toByte)
      else if (n <= 0xFFFF) Array[Byte](0x81.toByte, 126.toByte,
        (n >> 8).toByte, n.toByte)
      else Array[Byte](0x81.toByte, 127.toByte,
        0, 0, 0, 0, (n >> 24).toByte, (n >> 16).toByte,
        (n >> 8).toByte, n.toByte)
    header ++ payload
  }

  private val thread = new Thread(() => {
    try {
      client = server.accept()
      if (webSocket) {
        val out = wsHandshake(client)
        lines.foreach { l =>
          out.write(wsTextFrame(l.getBytes(StandardCharsets.UTF_8)))
          out.flush()
          if (intervalMs > 0) Thread.sleep(intervalMs)
        }
        out.flush()
      } else {
        val out = new java.io.PrintWriter(
          new java.io.OutputStreamWriter(
            client.getOutputStream, StandardCharsets.UTF_8), true)
        lines.foreach { l =>
          out.println(l)
          if (intervalMs > 0) Thread.sleep(intervalMs)
        }
        out.flush()
      }
    } catch { case NonFatal(_) => () } // closed mid-replay: session over
    finally drained.countDown()
  }, "feed-replay-server")
  thread.setDaemon(true)
  thread.start()

  /** True once every line has been written to the connected client. */
  def awaitDrained(timeoutMs: Long = 60000L): Boolean =
    drained.await(timeoutMs, TimeUnit.MILLISECONDS)

  def close(): Unit = {
    try if (client != null) client.close() catch { case NonFatal(_) => () }
    try server.close() catch { case NonFatal(_) => () }
  }
}

object FeedReplayServer {
  /** The wire line for a bar — see [[Streaming.parseFeedLines]]. */
  def csvLine(b: OhlcvBar): String =
    s"${b.symbol},${b.timestamp.getTime},${b.open},${b.high},${b.low}," +
      s"${b.close},${b.volume},${b.asset_class}"

  /** The bar as a FIX 4.4 MarketDataSnapshotFullRefresh (35=W) — the
    * reference's declared feed protocol (README.md architecture diagram,
    * "WebSocket / FIX"). Standard tags where FIX defines them: 55=Symbol,
    * 60=TransactTime (UTCTimestamp, millis), 268=NoMDEntries with a
    * 269/270/271 repeating group carrying OHLCV as real market-data
    * entry types (269=4 open, 7 session high, 8 session low, 5 close —
    * px in 270 — and 269=B trade volume, qty in 271); asset_class rides
    * the user-defined range as 5001 (venue custom tags are standard
    * practice; FIX reserves 5000+ for them). Header 8/9 and trailer 10
    * (3-digit mod-256 byte checksum over everything through the SOH
    * before it) are computed per the spec, so the parser can verify
    * integrity the way a real FIX engine does. Fields are SOH-delimited
    * (\\u0001); the replay transport newline-terminates each message,
    * and the newline is outside the checksum.
    */
  def fixLine(b: OhlcvBar): String = {
    val SOH = '\u0001'
    // SOH inside a value would re-frame the message while the checksum
    // still matches (both sides sum the same bytes) — the parser would
    // ACCEPT a silently truncated symbol. Real FIX engines reject the
    // delimiter in values at encode time; newlines likewise (the replay
    // transport is line-oriented).
    Seq("symbol" -> b.symbol, "asset_class" -> b.asset_class).foreach {
      case (name, v) => require(
        !v.exists(c => c == SOH || c == '\n' || c == '\r'),
        s"$name contains a FIX delimiter or newline: ${v.replace(SOH, '?')}")
    }
    val sdf = new java.text.SimpleDateFormat("yyyyMMdd-HH:mm:ss.SSS")
    sdf.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val body = Seq(
      "35=W", s"55=${b.symbol}", s"60=${sdf.format(b.timestamp)}",
      s"5001=${b.asset_class}", "268=5",
      "269=4", s"270=${b.open}",
      "269=7", s"270=${b.high}",
      "269=8", s"270=${b.low}",
      "269=5", s"270=${b.close}",
      "269=B", s"271=${b.volume}")
      .mkString("", SOH.toString, SOH.toString)
    val pre =
      s"8=FIX.4.4${SOH}9=${body.getBytes(StandardCharsets.UTF_8).length}$SOH" + body
    val sum = pre.getBytes(StandardCharsets.UTF_8).map(_ & 0xff).sum % 256
    f"$pre%s10=$sum%03d$SOH"
  }
}
