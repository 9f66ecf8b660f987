package perfbench

import java.io.{BufferedInputStream, InputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** Loopback HTTP/1.1 webhook receiver. Each POST body is kept with the
  * `System.nanoTime` at which it was fully read, and answered 204 at once.
  * Keep-alive connections are served until the client closes them; one
  * pooled thread per open connection. */
final class WebhookServer {
  final case class Post(body: String, receivedNs: Long)
  val posts = new ConcurrentLinkedQueue[Post]()
  val opened, errors = new AtomicLong()
  @volatile var handleLog: ConcurrentLinkedQueue[Array[Long]] = _

  private val server = new ServerSocket(0, 256, InetAddress.getByName("127.0.0.1"))
  val port: Int = server.getLocalPort
  def url: String = s"http://127.0.0.1:$port/webhook"
  private val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "perfbench-webhook"); t.setDaemon(true); t
  }
  @volatile private var running = true
  private val sockets = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        opened.incrementAndGet()
        sockets.add(s)
        pool.execute(() => serve(s))
      } catch { case _: java.io.IOException => () }
    }
  }, "perfbench-webhook-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def readLine(in: InputStream): String = {
    val sb = new java.io.ByteArrayOutputStream()
    var b = in.read()
    while (b >= 0 && b != '\n') { if (b != '\r') sb.write(b); b = in.read() }
    if (b < 0 && sb.size() == 0) null else sb.toString(UTF_8)
  }

  private def serve(s: Socket): Unit = {
    try {
      s.setTcpNoDelay(true)
      val in = new BufferedInputStream(s.getInputStream)
      val out = s.getOutputStream
      var open = true
      while (open) {
        val request = readLine(in)
        if (request == null || request.isEmpty) open = false
        else {
          var length = 0
          var close = false
          var h = readLine(in)
          while (h != null && h.nonEmpty) {
            val lower = h.toLowerCase
            if (lower.startsWith("content-length:")) length = lower.drop(15).trim.toInt
            if (lower.startsWith("connection:") && lower.contains("close")) close = true
            h = readLine(in)
          }
          val body = in.readNBytes(length)
          val t0 = System.nanoTime()
          if (request.startsWith("POST ") && body.length == length)
            posts.add(Post(new String(body, UTF_8), t0))
          else errors.incrementAndGet()
          out.write("HTTP/1.1 204 No Content\r\nContent-Length: 0\r\n\r\n".getBytes(UTF_8))
          out.flush()
          val log = handleLog
          if (log != null) log.add(Array(t0, System.nanoTime()))
          open = !close
        }
      }
    } catch { case _: java.io.IOException => () }
    finally { s.close(); sockets.remove(s) }
  }

  def close(): Unit = {
    running = false
    server.close()
    acceptor.join(5000)
    sockets.forEach(_.close())
    pool.shutdownNow()
    pool.awaitTermination(5, TimeUnit.SECONDS)
  }
}
