package graft.sinks

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.Json
import graft.sources.UserRegistry

/** User CRUD over HTTP — the reference's repo-account surface
  * (apps/repo-account/.../UserApi.scala:31-80: GET/POST /account,
  * POST /account/bulk, POST /account/tmp, DELETE /account/{plate})
  * re-expressed on the engine's CDC registry: every write appends to the
  * [[UserRegistry]] mutation log, every read evaluates the merged
  * latest-per-plate view — so reads always reflect all prior writes, and
  * the registry stays a queryable Spark table instead of an opaque KV
  * store. Like [[QueryServer]]: JDK HttpServer, loopback by default,
  * bounded collects only (the registry is a dimension table).
  *
  * Request bodies are JSON-lines of `{u_plate, username, email,
  * handicapped}` (one line = one user; `/account` takes exactly one
  * line), parsed by SPARK's schema'd JSON reader — the same PERMISSIVE
  * decode path the event lake uses, so malformed bodies 400 instead of
  * corrupting the log. */
object UserApi {

  private val userSchema = StructType(Seq(
    StructField("u_plate", StringType),
    StructField("username", StringType),
    StructField("email", StringType),
    StructField("handicapped", BooleanType)))

  /** One mut_seq counter per log directory per JVM, guarded by an
    * exclusive cross-process file lock: mut_seq is the registry's total
    * order, so a logDir has exactly ONE writer — two servers in one JVM
    * share the counter (a same-process restart continues it), and a
    * second PROCESS fails fast at start instead of silently minting
    * colliding sequence numbers whose merge winner would be arbitrary.
    * The lock channel is held for the JVM's lifetime (the OS releases it
    * on exit, crash included). */
  private val writers =
    scala.collection.concurrent.TrieMap.empty[String, AtomicLong]

  private def ownSequence(spark: SparkSession, logDir: String): AtomicLong = {
    val canonical = java.nio.file.Paths.get(logDir)
      .toAbsolutePath.normalize.toString
    writers.getOrElseUpdate(canonical, {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(canonical))
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(canonical, ".writer.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      // tryLock: null when another PROCESS holds it, throws when another
      // channel in THIS JVM does (a writer opened outside this registry)
      val lock = try ch.tryLock() catch {
        case _: java.nio.channels.OverlappingFileLockException => null
      }
      if (lock == null) {
        ch.close()
        throw new IllegalStateException(
          s"log dir $canonical is owned by another writer — a registry " +
            "log has a single writer (mut_seq is its total order)")
      }
      new AtomicLong(
        UserRegistry.readLog(spark, canonical)
          .agg(org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.max("mut_seq"),
            org.apache.spark.sql.functions.lit(0L)))
          .head().getLong(0) + 1)
    })
  }

  /** Start the CRUD server over `base` with mutations logged to
    * `logDir`. `clock` supplies "now" in epoch seconds (injectable for
    * tests); `mut_seq` continues from the largest already in the log, so
    * a restarted server keeps the total order. A logDir is single-writer
    * (see [[ownSequence]]): starting against a dir owned by another
    * process throws. */
  def start(spark: SparkSession, base: DataFrame, logDir: String,
            port: Int = 0, maxLimit: Int = 10000,
            bindAddress: String = "127.0.0.1",
            clock: () => Long = () => System.currentTimeMillis() / 1000): HttpServer = {
    val seq = ownSequence(spark, logDir)
    def registry: DataFrame =
      UserRegistry.view(base, UserRegistry.readLog(spark, logDir), clock())

    val server = HttpServer.create(new InetSocketAddress(bindAddress, port), 0)

    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type",
        if (body.startsWith("{")) "application/json" else "application/x-ndjson")
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
      try ex.getResponseBody.write(bytes) finally ex.close()
    }

    def parseUsers(body: String): Either[String, Seq[org.apache.spark.sql.Row]] = {
      import spark.implicits._
      val lines = body.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      if (lines.isEmpty) return Left("empty body")
      val rows = spark.read.schema(userSchema).json(lines.toDS).collect().toSeq
      if (rows.length != lines.length || rows.exists(_.isNullAt(0)))
        Left("every line must be a JSON object with a u_plate")
      else Right(rows)
    }

    def logLine(r: org.apache.spark.sql.Row, op: String, mutSeq: Long,
                expiresAt: Option[Long]): String = {
      def s(i: Int) = if (r.isNullAt(i)) "null" else Json.quote(r.getString(i))
      val h = if (r.isNullAt(3)) "null" else r.getBoolean(3).toString
      s"""{"u_plate":${s(0)},"username":${s(1)},"email":${s(2)},"handicapped":$h,""" +
        s""""op":"$op","mut_seq":$mutSeq,"expires_at":${expiresAt.map(_.toString).getOrElse("null")}}"""
    }

    def handle(ex: HttpExchange): Unit = try {
      val path = ex.getRequestURI.getPath.stripSuffix("/")
      val sub = path.stripPrefix("/account").stripPrefix("/")
      (ex.getRequestMethod, sub) match {
        case ("GET", "") =>
          respond(ex, 200,
            registry.limit(maxLimit).toJSON.collect().mkString("\n"))
        case ("GET", plate) =>
          val rows = registry.filter(col("u_plate") === plate).limit(1).toJSON.collect()
          if (rows.isEmpty) respond(ex, 404, s"""{"error":"no such user"}""")
          else respond(ex, 200, rows.head)
        case ("POST", "") | ("POST", "bulk") | ("POST", "tmp") =>
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          val ttl = Option(ex.getRequestURI.getQuery)
            .flatMap(_.split("&").collectFirst {
              case p if p.startsWith("ttl=") => p.stripPrefix("ttl=")
            }).map(_.toLongOption)
          (parseUsers(body), ttl) match {
            case (_, Some(None)) =>
              respond(ex, 400, s"""{"error":"ttl must be an integer"}""")
            case (_, Some(_)) if sub != "tmp" =>
              // honoring it silently on a PERMANENT create would be a
              // surprise either way — reject instead of dropping it
              respond(ex, 400, s"""{"error":"ttl only applies to POST /account/tmp"}""")
            case (_, Some(Some(t))) if t <= 0 =>
              // a non-positive ttl creates an already-expired user that
              // immediately 404s — a caller bug, not a valid request
              respond(ex, 400, s"""{"error":"ttl must be > 0 seconds"}""")
            case (Left(err), _) =>
              respond(ex, 400, s"""{"error":${Json.quote(err)}}""")
            case (Right(users), _) if sub == "" && users.length != 1 =>
              respond(ex, 400, s"""{"error":"POST /account takes exactly one user; use /account/bulk"}""")
            case (Right(users), t) =>
              val expires = if (sub == "tmp")
                Some(clock() + t.flatten.getOrElse(3600L)) else None
              UserRegistry.appendLog(logDir,
                users.map(u => logLine(u, "upsert", seq.getAndIncrement(), expires)))
              respond(ex, 201, s"""{"created":${users.length}}""")
          }
        case ("DELETE", plate) if plate.nonEmpty =>
          val exists = registry.filter(col("u_plate") === plate).limit(1).count() > 0
          if (!exists) respond(ex, 404, s"""{"error":"no such user"}""")
          else {
            UserRegistry.appendLog(logDir, Seq(
              s"""{"u_plate":${Json.quote(plate)},"username":null,"email":null,""" +
                s""""handicapped":null,"op":"delete","mut_seq":${seq.getAndIncrement()},"expires_at":null}"""))
            respond(ex, 204, "")
          }
        case _ => respond(ex, 405, s"""{"error":"method not allowed"}""")
      }
    } catch {
      case e: Throwable =>
        respond(ex, 500,
          s"""{"error":${Json.quote(Option(e.getMessage).getOrElse(e.getClass.getName))}}""")
    }

    server.createContext("/health", (ex: HttpExchange) =>
      respond(ex, 200, """{"status":"ok"}"""))
    server.createContext("/account", handle(_))
    server.start()
    server
  }
}
