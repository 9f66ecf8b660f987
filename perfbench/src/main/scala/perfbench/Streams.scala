package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQuery

import graft.jobs.Jobs
import graft.ops.ParkingAnalytics
import graft.sinks.{HttpWebhookNotifier, RedisKeyValueSink, WebhookPayload}
import graft.streaming.FileEventSource

/** Helpers shared by the two streaming workloads. */
object StreamCheck {
  /** file name → micro-batch id, from a file-source checkpoint's source log */
  def batchOfFile(checkpoint: Path): Map[String, Long] = {
    val log = checkpoint.resolve("sources").resolve("0")
    if (!Files.isDirectory(log)) Map.empty
    else Files.list(log).iterator().asScala
      .filter(p => !p.getFileName.toString.startsWith(".")).toSeq
      .flatMap(p => Files.readAllLines(p).asScala.drop(1)) // first line is the log version
      .filter(_.startsWith("{")).map(Delivered.parse).map { n =>
        val path = n.get("path").asText()
        path.substring(path.lastIndexOf('/') + 1) -> n.get("batchId").asLong()
      }.groupBy(_._1).map { case (f, v) => f -> v.map(_._2).min }
  }

  /** expected slot documents (p09 latestSlotState), keyed like liveSlotView */
  def slots(spark: org.apache.spark.sql.SparkSession, dir: Path): Map[String, String => Boolean] =
    ParkingAnalytics.latestSlotState(spark, dir.toString).collect().map { r =>
      val occupied = r.getBoolean(2)
      s"${r.getString(0)}-${r.getString(1)}" -> ((v: String) => Delivered.sameFields(v, Seq(
        "parkingLotId" -> r.getString(0), "parkingSpotId" -> r.getString(1),
        "occupied" -> occupied, "plate" -> (if (occupied) r.getString(3) else null))))
    }.toMap

  /** (event_id, rendered webhook payload) of every p11 violation */
  def alertPayloads(spark: org.apache.spark.sql.SparkSession, dir: Path): Seq[(Long, String)] =
    ParkingAnalytics.violations(spark, dir.toString).collect().toSeq.map { r =>
      r.getAs[Long]("event_id") -> WebhookPayload.render(r.getAs[String]("severity"),
        s"Parking violation detected: ${r.getAs[String]("violation_type")} - Vehicle " +
          s"${r.getAs[String]("vehicle_plate")} at ${r.getAs[String]("lot_id")}/" +
          s"${r.getAs[String]("spot_id")}", r.getAs[String]("event_time"))
    }

  /** Stop queries that are still running; report the ones that failed. */
  def stopAll(qs: Seq[StreamingQuery]): Seq[String] = qs.flatMap { q =>
    try q.stop() catch { case _: Exception => () }
    q.exception.map(e => s"stream ${q.name}: ${e.getMessage.linesIterator.take(1).mkString}")
  }
}

/** `stream_live`: an open-loop generator writes one JSON file per 100 ms tick
  * into a file source, consumed at the same time by liveSlotView → RESP and
  * alertNotifierStream → webhook (continuous triggers). One operation is one
  * event; its latency runs from the tick's due time to the last of its
  * deliveries: the RESP put of its slot by the micro-batch that read its file,
  * and, for a violation, the webhook receiving its alert. */
final class StreamLive(ctx: Ctx, rate: Int) extends Workload(ctx) {
  private val TickMs = 100
  private val WarmTicks = 5
  private val perTick = math.max(1, rate * TickMs / 1000)
  private var resp: RespServer = _
  private var hook: WebhookServer = _
  private var data, in, tmp, ck: Path = _
  private var queries = Seq.empty[StreamingQuery]
  private var ticks: Array[Array[(Long, String)]] = _
  private var measuredTicks = 0
  private val dueNs = mutable.ArrayBuffer.empty[Long]
  private val lateMs = mutable.ArrayBuffer.empty[Double]
  private var pendingEnd = 0
  private var streamErrors = Seq.empty[String]
  private var calls = Vector.empty[Call]

  def setup(rep: Int): Unit = {
    measuredTicks = math.max(1, (ctx.seconds * 1000 / TickMs).toInt)
    val n = (WarmTicks + measuredTicks).toLong * perTick
    data = ctx.dir(s"live-data-$rep")
    Gen.parkingTables(spark, ctx.seed, data, n)
    ticks = Gen.eventJson(spark, data).grouped(perTick).toArray
    in = ctx.dir(s"live-in-$rep"); tmp = ctx.dir(s"live-tmp-$rep"); ck = ctx.dir(s"live-ck-$rep")
    resp = new RespServer
    hook = new WebhookServer
    val kv = new TimedKv(new RedisKeyValueSink("127.0.0.1", resp.port))
    val notifier = new TimedNotifier(new HttpWebhookNotifier(hook.url))
    val source = FileEventSource(in.toString, maxFilesPerTrigger = 1000)
    queries = Seq(
      Jobs.liveSlotView(spark, source, kv, ck.resolve("slot").toString, availableNow = false),
      Jobs.alertNotifierStream(spark, source, data.toString, notifier,
        ck.resolve("alert").toString, availableNow = false))
    dueNs.clear()
    (0 until WarmTicks).foreach { i => write(i); Thread.sleep(TickMs) }
    queries.foreach(_.processAllAvailable())
  }

  private def fileName(i: Int) = f"tick-$i%06d.json"

  private def write(i: Int): Unit = {
    val f = tmp.resolve(fileName(i))
    Files.write(f, ticks(i).map(_._2).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(f, in.resolve(fileName(i)), StandardCopyOption.ATOMIC_MOVE)
  }

  def teardown(): Unit = {
    streamErrors ++= StreamCheck.stopAll(queries)
    queries = Nil
    if (resp != null) { resp.close(); resp = null }
    if (hook != null) { hook.close(); hook = null }
  }

  def measure(seconds: Double): Unit = {
    val start = System.nanoTime() + TickMs * 1000000L
    (0 until measuredTicks).foreach { j =>
      val due = start + j * TickMs * 1000000L
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      Trace.span(spark, "gen", "write")(write(WarmTicks + j))
      dueNs += due
      lateMs += (System.nanoTime() - due) / 1e6
    }
    val done = StreamCheck.batchOfFile(ck.resolve("slot")).size min
      StreamCheck.batchOfFile(ck.resolve("alert")).size
    pendingEnd = WarmTicks + measuredTicks - done
    val drain = new Thread(() => queries.foreach(q =>
      try q.processAllAvailable() catch { case _: Exception => () }))
    drain.start()
    drain.join(60000)
    if (drain.isAlive) System.err.println("perfbench: live streams did not drain in 60 s")
    calls = Rec.calls.iterator().asScala.toVector
    layer("gen.events") = (measuredTicks * perTick).toDouble
    layer("gen.late_p99_ms") = Stats.p99(lateMs)
    layer("source.pending_files_end") = pendingEnd.max(0).toDouble
  }

  /** per measured event: (slot latency, alert latency or NaN), ms; NaN slot
    * latency = never delivered */
  private lazy val latencies: Seq[(Double, Double, Boolean)] = {
    val slotQ = queries.head.id.toString
    val putEnd = calls.iterator.filter(c => c.kind == Rec.Put && c.query == slotQ && !c.failed)
      .map(c => (c.batch, c.key) -> c.t1).toMap
    val fileBatch = StreamCheck.batchOfFile(ck.resolve("slot"))
    val received = hook.posts.asScala.toSeq.groupBy(_.body)
      .map { case (b, ps) => b -> mutable.Queue(ps.map(_.receivedNs).sorted: _*) }
    val payload = alerts.toMap
    val alertAt = mutable.Map.empty[Long, Long] // event_id → webhook receipt, in event order
    alerts.sortBy(_._1).foreach { case (id, body) =>
      received.get(body).filter(_.nonEmpty).foreach(q => alertAt(id) = q.dequeue())
    }
    (0 until measuredTicks).flatMap { j =>
      val i = WarmTicks + j
      val batch = fileBatch.get(fileName(i))
      ticks(i).toSeq.map { case (id, json) =>
        val p = Delivered.parse(json).get("parking")
        val key = s"${p.get("parkingLotId").asText()}-${p.get("parkingSpotId").asText()}"
        val slot = batch.flatMap(b => putEnd.get(b -> key))
          .map(t => (t - dueNs(j)) / 1e6).getOrElse(Double.NaN)
        val alert = if (payload.contains(id))
          alertAt.get(id).map(t => (t - dueNs(j)) / 1e6).getOrElse(Double.NaN) else Double.NaN
        (slot, alert, payload.contains(id))
      }
    }
  }

  private lazy val alerts = StreamCheck.alertPayloads(spark, data)
  private lazy val slotsExpected = StreamCheck.slots(spark, data)
  private lazy val storeCopy = resp.store.asScala.toMap
  private var corrupted: Option[(String, String)] = None

  def check(): Seq[String] = {
    // the two twins run as concurrent Spark jobs
    val twins = Future(alerts)
    slotsExpected
    Await.result(twins, Duration.Inf)
    val lat = latencies
    if (opsMs.isEmpty) {
      lat.foreach { case (s, a, v) => if (!s.isNaN && (!v || !a.isNaN)) opsMs += (if (v) s max a else s) }
      layer("live.slot_latency_p50_ms") = Stats.p50(lat.map(_._1).filterNot(_.isNaN))
      layer("live.slot_latency_p99_ms") = Stats.p99(lat.map(_._1).filterNot(_.isNaN))
      layer("live.alert_latency_p50_ms") = Stats.orZero(Stats.p50(lat.map(_._2).filterNot(_.isNaN)))
      layer("live.alert_latency_p99_ms") = Stats.orZero(Stats.p99(lat.map(_._2).filterNot(_.isNaN)))
    }
    attempted = lat.size.toLong
    val undelivered = lat.count { case (s, a, v) => s.isNaN || (v && a.isNaN) }
    val store = corrupted.fold(storeCopy) { case (k, v) => storeCopy.updated(k, v) }
    val posts = hook.posts.asScala.map(_.body).toSeq
    val alertDiff = (posts.diff(alerts.map(_._2)) ++ alerts.map(_._2).diff(posts)).size
    Delivered.mismatches(store, slotsExpected, "live slot") ++
      (store.keySet -- slotsExpected.keySet).toSeq.map(k => s"live: unexpected key $k") ++
      Seq.fill(undelivered)("live: event not delivered") ++
      Seq.fill(alertDiff)("live: webhook alerts differ from p11 violations") ++ streamErrors
  }

  def corruptOne(): Unit = {
    val k = storeCopy.keys.min
    corrupted = Some(k -> "{}")
  }

  override def webhook: WebhookServer = hook
  override def respServer: RespServer = resp
  override def concurrentQueries: Int = 2
  override def notes: Map[String, Any] = Map("rate_per_s" -> rate, "events_per_tick" -> perTick,
    "measured_ticks" -> measuredTicks, "resp" -> RespStats(resp),
    "webhook_posts" -> Option(hook).map(_.posts.size).getOrElse(0))
}

object StreamLive {
  /** events per second: half the highest rate whose alert p99 stayed under
    * 2 s in the rate-step run (perfbench/NOTES.md) */
  val Rate = 1600
}
