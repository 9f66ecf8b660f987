package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload shares: the session (re-created on each set-up
  * repetition), the run's work directory and its seed. */
final class Ctx(val work: Path, val seed: Long, val cpus: Int, val seconds: Double) {
  var spark: SparkSession = _

  def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Run `body`, logging its wall time to stderr (the run's log). */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"perfbench: $name took ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** A fresh, empty directory under the work directory. */
  def dir(name: String): Path = {
    val d = work.resolve(name)
    Files.deleteIfExists(d) // only removes an empty one; callers use fresh names
    Files.createDirectories(d)
  }
}

/** One benchmark workload. `setup` runs several times (the last one is kept),
  * `measure` drives load for the given seconds and records one latency per
  * operation, `check` compares what was delivered with the batch twins. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  /** latency of each measured operation, ms */
  val opsMs = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  /** workload-specific per-layer metrics, filled by measure/check */
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def setup(rep: Int): Unit
  def teardown(): Unit
  def measure(seconds: Double): Unit
  /** mismatches between delivered outputs and the batch twins */
  def check(): Seq[String]
  /** corrupt one delivered value; the next `check` must report it */
  def corruptOne(): Unit
  /** traced-run details written beside the spans (free-form JSON values) */
  def notes: Map[String, Any] = Map.empty
  def respServer: RespServer = null
  def webhook: WebhookServer = null
  /** streaming queries running side by side in one operation */
  def concurrentQueries: Int = 0
}

object Main {
  /** set-ups per run; `setup_s` is their median */
  val SetupReps = 3

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, work: String = ".bench_build/work",
                        out: String = ".bench_build/traces", record: Boolean = false,
                        cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors()),
                        liveRate: Int = 0,
                        expected: String = "perfbench/expected/query_mix.json")

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--record" :: t => parse(t, o.copy(record = true))
    case "--cpus" :: v :: t => parse(t, o.copy(cpus = v.toInt))
    case "--live-rate" :: v :: t => parse(t, o.copy(liveRate = v.toInt))
    case "--expected" :: v :: t => parse(t, o.copy(expected = v))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  def workload(name: String, ctx: Ctx, o: Opts): Workload = name match {
    case "batch_jobs" => new BatchJobs(ctx)
    case "stream_live" => new StreamLive(ctx, if (o.liveRate > 0) o.liveRate else StreamLive.Rate)
    case "query_mix" => new QueryMix(ctx, o.record, Paths.get(o.expected))
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val work = Paths.get(o.work).toAbsolutePath.resolve(s"${o.workload}-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val ctx = new Ctx(work, o.seed, o.cpus, o.seconds)
    val w = workload(o.workload, ctx, o)
    try {
      // set-up, several times; every repetition but the last is torn down
      val setups = (1 to SetupReps).map { rep =>
        val t0 = System.nanoTime()
        ctx.phase(s"session start $rep")(ctx.startSession())
        ctx.phase(s"setup $rep")(w.setup(rep))
        val s = (System.nanoTime() - t0) / 1e9
        if (rep < SetupReps) { w.teardown(); ctx.stopSession() }
        s
      }
      val detach = if (o.trace) {
        Trace.clear(); Trace.on = true
        Option(w.respServer).foreach(_.handleLog = new ConcurrentLinkedQueue())
        Option(w.webhook).foreach(_.handleLog = new ConcurrentLinkedQueue())
        Trace.attach(ctx.spark)
      } else () => ()
      Rec.calls.clear()
      Trace.start()
      val wallStart = Trace.now
      w.measure(o.seconds)
      val wallEnd = Trace.now
      if (o.trace) Trace.settle()
      detach()
      Trace.on = false
      val mismatches = ctx.phase("check")(w.check())
      mismatches.take(5).foreach(m => System.err.println(s"perfbench: mismatch: $m"))
      w.failed += mismatches.size
      // self-test: a corrupted delivery must be caught by the same check
      w.corruptOne()
      val caught = w.check().size > 0
      if (!caught) System.err.println("perfbench: self-test failed: corruption not detected")
      val e2e = Metrics.endToEnd(w, setups, Metrics.peakRssMb())
      val metrics =
        if (!o.trace) e2e
        else {
          val m = Layers.metrics(w, o.workload, wallStart, wallEnd, e2e)
          Layers.write(Paths.get(o.out), o.workload, o.seed, w, m, wallStart, wallEnd, setups)
          m
        }
      val correct = caught && w.failed == 0 && w.attempted > 0
      println(Json.obj(Seq(
        "correct" -> correct,
        "attempted" -> math.max(1L, w.attempted),
        "failed" -> w.failed,
        "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
          k -> Map("value" -> v, "unit" -> u) }.toMap)))
    } finally {
      try w.teardown() finally ctx.stopSession()
      Fs.deleteTree(work)
    }
  }
}
