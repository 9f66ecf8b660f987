package perfbench

import java.net.InetSocketAddress
import java.nio.ByteBuffer
import java.nio.channels.{SelectionKey, Selector, ServerSocketChannel, SocketChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ConcurrentSkipListMap}
import java.util.concurrent.atomic.AtomicLong

/** Loopback RESP2 server the benchmark delivers into. It speaks the commands
  * the engine's Redis sinks send (JSON.SET, TS.ADD) plus GET,
  * from one selector thread, so it holds any number of client sockets
  * (the engine's `RedisKeyValueSink` opens one per task and never closes it)
  * without a thread each. No artificial delay: replies go out as soon as a
  * command frame is complete. Counters are read at the end of a run; the
  * stores are concurrent maps, so the checker can read them while it runs.
  */
final class RespServer {
  val store = new ConcurrentHashMap[String, String]()
  val series = new ConcurrentHashMap[String, ConcurrentSkipListMap[java.lang.Long, java.lang.Double]]()
  val commands, puts, unchangedPuts, errors, bytesIn, opened, open = new AtomicLong()
  /** (start ns, end ns) of each command's handling, kept only when tracing */
  @volatile var handleLog: ConcurrentLinkedQueue[Array[Long]] = _

  private val selector = Selector.open()
  private val server = ServerSocketChannel.open()
  server.bind(new InetSocketAddress("127.0.0.1", 0), 1024)
  server.configureBlocking(false)
  server.register(selector, SelectionKey.OP_ACCEPT)
  val port: Int = server.socket().getLocalPort
  @volatile private var running = true

  private final class Conn { var buf = new Array[Byte](4096); var len = 0 }

  private val loop = new Thread(() => {
    val read = ByteBuffer.allocate(64 * 1024)
    while (running) {
      selector.select(200)
      val it = selector.selectedKeys().iterator()
      while (it.hasNext) {
        val k = it.next(); it.remove()
        try {
          if (k.isValid && k.isAcceptable) {
            val ch = server.accept()
            if (ch != null) {
              ch.configureBlocking(false)
              ch.socket().setTcpNoDelay(true)
              ch.register(selector, SelectionKey.OP_READ, new Conn)
              opened.incrementAndGet(); open.incrementAndGet()
            }
          } else if (k.isValid && k.isReadable) {
            val ch = k.channel().asInstanceOf[SocketChannel]
            read.clear()
            val n = ch.read(read)
            if (n < 0) { k.cancel(); ch.close(); open.decrementAndGet() }
            else if (n > 0) {
              bytesIn.addAndGet(n)
              val c = k.attachment().asInstanceOf[Conn]
              if (c.len + n > c.buf.length)
                c.buf = java.util.Arrays.copyOf(c.buf, math.max(c.buf.length * 2, c.len + n))
              System.arraycopy(read.array(), 0, c.buf, c.len, n)
              c.len += n
              drain(c, ch)
            }
          }
        } catch {
          case _: java.io.IOException =>
            k.cancel(); k.channel().close(); open.decrementAndGet()
        }
      }
    }
  }, "perfbench-resp")
  loop.setDaemon(true)
  loop.start()

  /** Handle every complete frame buffered on `c`, keeping a partial tail. */
  private def drain(c: Conn, ch: SocketChannel): Unit = {
    var off = 0
    var frame = RespServer.parse(c.buf, off, c.len)
    while (frame != null) {
      val t0 = System.nanoTime()
      val reply = handle(frame._1)
      val out = ByteBuffer.wrap(reply.getBytes(UTF_8))
      while (out.hasRemaining) ch.write(out)
      val log = handleLog
      if (log != null) log.add(Array(t0, System.nanoTime()))
      off = frame._2
      frame = RespServer.parse(c.buf, off, c.len)
    }
    if (off > 0) {
      System.arraycopy(c.buf, off, c.buf, 0, c.len - off)
      c.len -= off
    }
  }

  private def bulk(v: String): String =
    if (v == null) "$-1\r\n" else s"$$${v.getBytes(UTF_8).length}\r\n$v\r\n"

  private def err(msg: String): String = { errors.incrementAndGet(); s"-ERR $msg\r\n" }

  private def handle(cmd: Array[String]): String = {
    commands.incrementAndGet()
    cmd.headOption.map(_.toUpperCase).getOrElse("") match {
      case "JSON.SET" if cmd.length == 4 && (cmd(2) == "." || cmd(2) == "$") =>
        puts.incrementAndGet()
        if (cmd(3) == store.put(cmd(1), cmd(3))) unchangedPuts.incrementAndGet()
        "+OK\r\n"
      case "TS.ADD" if cmd.length >= 4 =>
        try {
          val ts = cmd(2).toLong
          series.computeIfAbsent(cmd(1), _ => new ConcurrentSkipListMap()).put(ts, cmd(3).toDouble)
          s":$ts\r\n"
        } catch { case _: NumberFormatException => err("TS.ADD: invalid timestamp or value") }
      case "GET" if cmd.length == 2 => bulk(store.get(cmd(1)))
      case other => err(s"unsupported command '$other'")
    }
  }

  def close(): Unit = {
    running = false
    loop.join(5000)
    selector.keys().forEach(k => k.channel().close())
    selector.close()
  }
}

object RespServer {
  /** Parse one RESP array-of-bulk-strings frame starting at `off`; returns
    * (args, end offset), or null while the frame is incomplete. */
  def parse(b: Array[Byte], off: Int, len: Int): (Array[String], Int) = {
    var p = off
    def line(): Long = { // reads "<prefix><int>\r\n" at p; Long.MinValue if incomplete
      var q = p + 1
      while (q + 1 < len && !(b(q) == '\r' && b(q + 1) == '\n')) q += 1
      if (q + 1 >= len) return Long.MinValue
      val v = new String(b, p + 1, q - p - 1, UTF_8).toLong
      p = q + 2
      v
    }
    if (p >= len) return null
    if (b(p) != '*') throw new java.io.IOException(s"bad RESP frame prefix '${b(p).toChar}'")
    val n = line()
    if (n == Long.MinValue) return null
    val args = new Array[String](n.toInt)
    var i = 0
    while (i < n) {
      if (p >= len) return null
      val sz = line()
      if (sz == Long.MinValue || p + sz + 2 > len) return null
      args(i) = new String(b, p, sz.toInt, UTF_8)
      p += sz.toInt + 2
      i += 1
    }
    (args, p)
  }
}
