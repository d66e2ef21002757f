package perfbench

import java.io.{BufferedInputStream, EOFException}
import java.net.{HttpURLConnection, Socket, URL}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** One received WebSocket frame: receive time, event name, payload text. */
final case class Frame(at: Double, event: String, text: String)

/** A raw RFC 6455 client for `WsPush`: handshake, then one reader thread
  * that hands every text frame to `onFrame`. */
final class WsClient(port: Int, onFrame: Frame => Unit) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  private val in = new BufferedInputStream(sock.getInputStream)
  val frames = new AtomicLong(0)
  val bytes = new AtomicLong(0)

  locally {
    val out = sock.getOutputStream
    out.write(("GET / HTTP/1.1\r\nHost: localhost\r\nUpgrade: websocket\r\n" +
      "Connection: Upgrade\r\nSec-WebSocket-Key: cGVyZmJlbmNoY2xpZW50MQ==\r\n" +
      "Sec-WebSocket-Version: 13\r\n\r\n").getBytes("UTF-8"))
    out.flush()
    var prev4 = 0
    while (prev4 != 0x0d0a0d0a) {
      val c = in.read()
      if (c < 0) throw new EOFException("ws handshake")
      prev4 = ((prev4 << 8) | c) & 0xffffffff
    }
  }

  private def byte(): Int = {
    val c = in.read()
    if (c < 0) throw new EOFException
    c
  }

  private val reader = new Thread(() => {
    try {
      while (!sock.isClosed) {
        val b0 = byte()
        var len = (byte() & 0x7f).toLong
        if (len == 126) len = (byte() << 8) | byte()
        else if (len == 127) { len = 0; (0 until 8).foreach(_ => len = (len << 8) | byte()) }
        val buf = new Array[Byte](len.toInt)
        var off = 0
        while (off < len) {
          val r = in.read(buf, off, len.toInt - off)
          if (r < 0) throw new EOFException
          off += r
        }
        val at = Tracer.nowMs()
        frames.incrementAndGet(); bytes.addAndGet(len + 2)
        if ((b0 & 0x0f) == 1) {
          val text = new String(buf, "UTF-8")
          val ev = WsClient.EventName.findFirstMatchIn(text).map(_.group(1)).getOrElse("")
          onFrame(Frame(at, ev, text))
        }
      }
    } catch { case _: Exception => () }
  }, "perfbench-ws-client")
  reader.setDaemon(true)
  reader.start()

  override def close(): Unit = {
    try sock.close() catch { case _: Exception => () }
    reader.join(5000)
  }
}

object WsClient {
  val EventName = """^\{"event":"([a-z]+)"""".r
}

/** Open-loop REST client: GETs round-robin over `routes` at `ratePerSec`,
  * each request due at a fixed time and timed from that due time, so a
  * stalled server shows up as latency rather than as fewer requests. */
final class RestClient(port: Int, routes: Seq[String], ratePerSec: Double,
    tracer: Option[Tracer]) {
  val latencies = new ConcurrentLinkedQueue[java.lang.Double]()
  val sent = new AtomicLong(0)
  val errors = new AtomicLong(0)
  @volatile var lateMaxMs = 0.0
  private val stopping = new AtomicBoolean(false)
  @volatile private var inFlight = false

  private val thread = new Thread(() => {
    val t0 = Tracer.nowMs()
    var k = 0L
    while (!stopping.get) {
      val due = t0 + k * 1000.0 / ratePerSec
      val wait = due - Tracer.nowMs()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      if (!stopping.get) {
        val start = Tracer.nowMs()
        lateMaxMs = math.max(lateMaxMs, start - due)
        val route = routes((k % routes.length).toInt)
        sent.incrementAndGet()
        inFlight = true
        val ok = try {
          val c = new URL(s"http://127.0.0.1:$port$route").openConnection()
            .asInstanceOf[HttpURLConnection]
          c.setConnectTimeout(5000); c.setReadTimeout(5000)
          val code = c.getResponseCode
          val s = c.getInputStream
          s.readAllBytes(); s.close()
          code == 200
        } catch { case _: Exception => false }
        inFlight = false
        val end = Tracer.nowMs()
        if (ok) latencies.add(end - due) else errors.incrementAndGet()
        tracer.foreach(_.add(0, 0, s"http:GET $route", due, end))
        k += 1
      }
    }
  }, "perfbench-rest-client")
  thread.setDaemon(true)

  def start(): Unit = thread.start()

  /** Stops issuing; a request still outstanding after `graceMs` counts as
    * failed. */
  def stop(graceMs: Long): Unit = {
    stopping.set(true)
    thread.join(graceMs)
    if (thread.isAlive && inFlight) errors.incrementAndGet()
  }
}
