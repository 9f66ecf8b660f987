package graft.sinks

import java.net.{ServerSocket, Socket}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap

/** Loopback fake Redis for the RESP sinks/sources (the NotifierSpec
  * pattern: a real socket conversation, no client library, no external
  * process). Speaks enough RESP2 for the engine's surface: SET / GET /
  * MGET / DEL / JSON.SET (stored as the plain value, like a real
  * RedisJSON GETs back via JSON.GET — the fake serves it to GET/MGET so
  * one store covers both write shapes) / cursored SCAN with MATCH
  * prefix globs and COUNT paging; a JSON.SET of [[FakeRedis.RefusedKey]]
  * gets a multi-byte UTF-8 error reply. Multi-connection: one thread per
  * accepted socket, shared TrieMap store; counts connections accepted and
  * connections the client closed. */
final class FakeRedis {
  val store = TrieMap.empty[String, String]
  val opened = new AtomicInteger
  val closed = new AtomicInteger
  private val server = new ServerSocket(0, 50, java.net.InetAddress.getByName("127.0.0.1"))
  @volatile private var running = true

  def port: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        opened.incrementAndGet()
        val t = new Thread(() => serve(s))
        t.setDaemon(true)
        t.start()
      } catch { case _: Exception if !running => /* closed */ }
    }
  })
  acceptor.setDaemon(true)
  acceptor.start()

  def stop(): Unit = { running = false; server.close() }

  private def reply(out: java.io.OutputStream, s: String): Unit = {
    out.write(s.getBytes("UTF-8")); out.flush()
  }
  private def bulk(v: Option[String]): String = v match {
    case Some(s) =>
      val b = s.getBytes("UTF-8"); s"$$${b.length}\r\n$s\r\n"
    case None => "$-1\r\n"
  }

  private def serve(s: Socket): Unit = {
    try {
      val in = s.getInputStream
      val out = s.getOutputStream
      while (true) {
        val cmd = Resp.readReply(in) match {
          case Resp.Arr(items) => items.collect { case Resp.Bulk(Some(a)) => a }
          case other => throw new RuntimeException(s"bad command frame: $other")
        }
        cmd.head.toUpperCase match {
          case "JSON.SET" if cmd(1) == FakeRedis.RefusedKey =>
            reply(out, s"-${FakeRedis.RefusedMessage}\r\n")
          case "SET" | "JSON.SET" =>
            // JSON.SET key . json / SET key json — value is the last arg
            store.put(cmd(1), cmd.last)
            reply(out, "+OK\r\n")
          case "GET" =>
            reply(out, bulk(store.get(cmd(1))))
          case "MGET" =>
            val vals = cmd.tail.map(k => bulk(store.get(k)))
            reply(out, s"*${vals.length}\r\n${vals.mkString}")
          case "DEL" =>
            val n = cmd.tail.count(k => store.remove(k).isDefined)
            reply(out, s":$n\r\n")
          case "SCAN" =>
            // cursor = plain index into the sorted key snapshot; MATCH
            // supports the prefix* glob the engine uses; COUNT entries
            // are examined per page and the match applied AFTER, so
            // pages can come back partial or empty like a real SCAN
            val cursor = cmd(1).toInt
            val opts = cmd.drop(2).grouped(2)
              .collect { case Seq(k, v) => k.toUpperCase -> v }.toMap
            val count = opts.get("COUNT").map(_.toInt).getOrElse(10)
            // like real Redis, a backslash escapes the following glob
            // metacharacter to a literal — the engine sends its key
            // prefixes escaped, so unescape before the prefix compare
            def unescape(g: String): String =
              g.replaceAll("""\\(.)""", "$1")
            val matchFn: String => Boolean = opts.get("MATCH") match {
              case Some(g) if g.endsWith("*") && !g.endsWith("\\*") =>
                _.startsWith(unescape(g.dropRight(1)))
              case Some(g) => _ == unescape(g)
              case None => _ => true
            }
            val keys = store.keySet.toSeq.sorted
            val page = keys.slice(cursor, cursor + count)
            val next = if (cursor + count >= keys.length) 0 else cursor + count
            val hits = page.filter(matchFn)
            reply(out, s"*2\r\n${bulk(Some(next.toString))}" +
              s"*${hits.length}\r\n${hits.map(k => bulk(Some(k))).mkString}")
          case other =>
            reply(out, s"-ERR unknown command '$other'\r\n")
        }
      }
    } catch {
      case _: Exception => closed.incrementAndGet() // connection closed by client
    } finally s.close()
  }
}

object FakeRedis {
  val RefusedKey = "refused"
  val RefusedMessage = "ERR clé refusée"
}
