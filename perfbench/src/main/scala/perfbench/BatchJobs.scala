package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.jobs.Jobs
import graft.ops.{HourlyDocs, ParkingAnalytics}
import graft.sinks.{FileTimeSeriesSink, RedisKeyValueSink}

/** Shared pieces of the workloads that deliver into the RESP server. */
object Delivered {
  val json = new ObjectMapper()
  def parse(s: String): JsonNode = json.readTree(s)

  /** JSON field comparison: numbers within 1e-9 relative, the rest exactly. */
  def sameFields(stored: String, expected: Seq[(String, Any)]): Boolean =
    try {
      val n = parse(stored)
      n.size() == expected.count(_._2 != null) && expected.forall {
        case (k, null) => !n.has(k) || n.get(k).isNull
        case (k, d: Double) => n.has(k) && n.get(k).isNumber && {
          val x = n.get(k).asDouble(); math.abs(x - d) <= 1e-9 * math.max(1.0, math.abs(d))
        }
        case (k, l: Long) => n.has(k) && n.get(k).isIntegralNumber && n.get(k).asLong() == l
        case (k, b: Boolean) => n.has(k) && n.get(k).isBoolean && n.get(k).asBoolean() == b
        case (k, v) => n.has(k) && n.get(k).isTextual && n.get(k).asText() == v.toString
      }
    } catch { case _: Exception => false }

  /** Count stored values that are missing or differ from `expected`. */
  def mismatches(store: collection.Map[String, String],
                 expected: Map[String, String => Boolean], what: String): Seq[String] =
    expected.toSeq.flatMap { case (k, ok) =>
      store.get(k) match {
        case None => Seq(s"$what: missing $k")
        case Some(v) if !ok(v) => Seq(s"$what: wrong value for $k: $v")
        case _ => Nil
      }
    }
}

/** `batch_jobs`: closed-loop cycles of hourlyStats → RESP, dailyRollup →
  * FileTimeSeriesSink, weeklyStats → RESP over a seeded sf0.1-size events
  * table. One operation is one cycle; a run measures at least four. */
final class BatchJobs(ctx: Ctx) extends Workload(ctx) {
  private var resp: RespServer = _
  private var data: Path = _
  private var tsDir: Path = _
  private var cycles = 0
  private var failedCycles = 0
  private val jobMs = mutable.LinkedHashMap("hourly" -> mutable.ArrayBuffer.empty[Double],
    "daily" -> mutable.ArrayBuffer.empty[Double], "weekly" -> mutable.ArrayBuffer.empty[Double])
  private var gotPuts = Map.empty[String, Int]

  private def cycle(dir: Path, kv: TimedKv, ts: TimedTs): Unit = {
    def job(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      Trace.span(spark, "jobs", s"Jobs.$name")(body)
      jobMs(name.stripSuffix("Stats").stripSuffix("Rollup")) += (System.nanoTime() - t0) / 1e6
    }
    job("hourlyStats")(Jobs.hourlyStats(spark, dir.toString, kv))
    job("dailyRollup")(Jobs.dailyRollup(spark, dir.toString, ts))
    job("weeklyStats")(Jobs.weeklyStats(spark, dir.toString, kv))
  }

  private def sinks(): (TimedKv, TimedTs) =
    (new TimedKv(new RedisKeyValueSink("127.0.0.1", resp.port)),
      new TimedTs(new FileTimeSeriesSink(tsDir.toString)))

  def setup(rep: Int): Unit = {
    data = ctx.dir(s"batch-data-$rep")
    ctx.phase("generate")(Gen.parkingTables(spark, ctx.seed, data, BatchJobs.Events))
    resp = new RespServer
    tsDir = ctx.work.resolve(s"batch-ts-$rep")
    // warm-up: scan both inputs once, as graft.Bench does; the first measured
    // cycle still pays the jobs' code generation, and op_p99_ms shows it
    ctx.phase("warm-up") {
      graft.schema.ParkingModel.parkingEvents(spark, data.toString).count()
      graft.schema.ParkingModel.users(spark, data.toString).count()
    }
  }

  def teardown(): Unit = if (resp != null) { resp.close(); resp = null }

  def measure(seconds: Double): Unit = {
    val (kv, ts) = sinks()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (cycles < BatchJobs.MinCycles || System.nanoTime() < end) {
      val t0 = System.nanoTime()
      try cycle(data, kv, ts)
      catch { case e: Exception =>
        failedCycles += 1
        System.err.println(s"perfbench: batch cycle failed: $e")
      }
      opsMs += (System.nanoTime() - t0) / 1e6
      System.err.println(f"perfbench: cycle ${opsMs.last / 1e3}%.3f s")
      cycles += 1
    }
    gotPuts = Rec.calls.iterator().asScala.filter(_.kind == Rec.Put)
      .toSeq.groupBy(_.key).map { case (k, v) => k -> v.size }
    jobMs.foreach { case (k, v) => layer(s"jobs.${k}_s") = Stats.p50(v) / 1e3 }
    layer("batch.cycle_p50_s") = Stats.p50(opsMs) / 1e3
    layer("gen.events") = BatchJobs.Events.toDouble
    storeCopy = resp.store.asScala.toMap
    tsCopy = readSeries()
  }

  private var storeCopy = Map.empty[String, String]
  private var tsCopy = Map.empty[String, Map[Long, Double]]

  private def readSeries(): Map[String, Map[Long, Double]] =
    if (!Files.exists(tsDir)) Map.empty
    else Files.list(tsDir).iterator().asScala.filter(_.toString.endsWith(".ts")).map { p =>
      p.getFileName.toString.stripSuffix(".ts") ->
        Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
          val Array(t, v) = l.split(" ", 2); t.toLong -> v.toDouble
        }.toMap
    }.toMap

  private lazy val expected: (Map[String, String => Boolean], Map[String, Map[Long, Double]]) = {
    val d = data.toString
    // the four twins run as concurrent Spark jobs
    val docs = Future(HourlyDocs.documents(spark, d).select("redis_key", "doc").collect())
    val rev = Future(ParkingAnalytics.revenueByType(spark, d).collect())
    val avgs = Future(ParkingAnalytics.avgSpentByTypeDay(spark, d).collect())
    val days = Future(ParkingAnalytics.dailyRollup(spark, d)
      .join(ParkingAnalytics.dailyRevenue(spark, d), Seq("date_str")).collect())
    def get[A](f: Future[A]): A = Await.result(f, Duration.Inf)
    val hourly = get(docs)
      .map(r => r.getString(0) -> ((v: String) => v == r.getString(1))).toMap
    val revenue = get(rev).map { r =>
      s"parking-stats:weekly:revenue-by-type:${r.getString(0)}" -> ((v: String) =>
        Delivered.sameFields(v, Seq("vehicleType" -> r.getString(0),
          "n_sessions" -> r.getLong(1), "revenue" -> r.getDouble(2))))
    }
    val avg = get(avgs).map { r =>
      s"parking-stats:weekly:avgspent:${r.getString(1)}:${r.getString(0)}" -> ((v: String) =>
        Delivered.sameFields(v, Seq("date_str" -> r.getString(0),
          "vehicleType" -> r.getString(1), "avg_spent" -> r.getDouble(3))))
    }
    val daily = get(days)
    def epoch(day: String) = java.time.LocalDate.parse(day)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    val series = Map(
      "parking-events:daily:entries" -> daily.map(r =>
        epoch(r.getAs[String]("date_str")) -> r.getAs[Long]("entries").toDouble).toMap,
      "parking-events:daily:exits" -> daily.map(r =>
        epoch(r.getAs[String]("date_str")) -> r.getAs[Long]("exits").toDouble).toMap,
      "parking-events:daily:revenue" -> daily.map(r =>
        epoch(r.getAs[String]("date_str")) -> r.getAs[Double]("daily_revenue")).toMap)
    (hourly ++ revenue ++ avg, series)
  }

  def check(): Seq[String] = {
    val (kvs, series) = expected
    attempted = cycles.toLong * (kvs.size + series.values.map(_.size).sum)
    val undelivered = kvs.keys.toSeq.flatMap { k =>
      val n = gotPuts.getOrElse(k, 0)
      if (n < cycles) Seq(s"batch: $k delivered in $n of $cycles cycles") else Nil
    }
    val unexpected = (storeCopy.keySet -- kvs.keySet).toSeq.map(k => s"batch: unexpected key $k")
    val tsWrong = series.toSeq.flatMap { case (s, pts) =>
      val got = tsCopy.getOrElse(s, Map.empty)
      pts.toSeq.filterNot { case (t, v) => got.get(t).exists(g => math.abs(g - v) <= 1e-9 * math.max(1, math.abs(v))) }
        .map { case (t, _) => s"batch: series $s point $t missing or wrong" } ++
        (got.keySet -- pts.keySet).toSeq.map(t => s"batch: series $s unexpected point $t")
    }
    Delivered.mismatches(storeCopy, kvs, "batch") ++ undelivered ++ unexpected ++ tsWrong ++
      Seq.fill(failedCycles)("batch: a cycle failed")
  }

  def corruptOne(): Unit = {
    val k = storeCopy.keys.min
    storeCopy = storeCopy.updated(k, storeCopy(k).replaceFirst("[0-9]", "x"))
  }

  override def respServer: RespServer = resp
  override def notes: Map[String, Any] = Map("cycles" -> cycles,
    "keys_per_cycle" -> expected._1.size,
    "ts_points_per_cycle" -> expected._2.values.map(_.size).sum,
    "resp" -> RespStats(resp))
}

object BatchJobs {
  /** cycles measured even when --seconds runs out first: the first one is
    * cold, so op_p99_ms is the cold cycle and op_p50_ms a warm one */
  val MinCycles = 4
  val Events: Long = Gen.EventsSf01
}

object RespStats {
  def apply(r: RespServer): Map[String, Any] = if (r == null) Map.empty else Map(
    "commands" -> r.commands.get, "puts" -> r.puts.get, "unchanged_puts" -> r.unchangedPuts.get,
    "errors" -> r.errors.get, "bytes_in" -> r.bytesIn.get,
    "connections_opened" -> r.opened.get, "connections_open_end" -> r.open.get)
}
