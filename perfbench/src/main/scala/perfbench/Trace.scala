package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sinks.{AlertNotifier, KeyValueSink, TimeSeriesSink}

/** One sink call as the benchmark's delegating wrappers saw it. `query` and
  * `batch` are the streaming query id and micro-batch id of the task that
  * made the call (null / -1 outside a stream). */
final case class Call(kind: Int, key: String, query: String, batch: Long,
                      t0: Long, t1: Long, failed: Boolean)

/** Delivery records. Always on: the latency metrics need the time each put
  * returned. Executor copies of the wrappers reach this JVM-global queue
  * because the benchmark runs Spark in local mode. */
object Rec {
  val Put = 0; val Add = 1; val Notify = 2
  val calls = new ConcurrentLinkedQueue[Call]()

  def time(kind: Int, key: String)(body: => Unit): Unit = {
    val tc = TaskContext.get()
    val q = if (tc == null) null else tc.getLocalProperty("sql.streaming.queryId")
    val b = Option(tc).flatMap(t => Option(t.getLocalProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    val t0 = System.nanoTime()
    var failed = true
    try { body; failed = false }
    finally calls.add(Call(kind, key, q, b, t0, System.nanoTime(), failed))
  }

  def take(): Vector[Call] = {
    val out = Vector.newBuilder[Call]
    var c = calls.poll()
    while (c != null) { out += c; c = calls.poll() }
    out.result()
  }
}

final class TimedKv(inner: KeyValueSink) extends KeyValueSink {
  def put(key: String, json: String): Unit = Rec.time(Rec.Put, key)(inner.put(key, json))
}
final class TimedTs(inner: TimeSeriesSink) extends TimeSeriesSink {
  def add(series: String, ts: Long, value: Double): Unit =
    Rec.time(Rec.Add, series)(inner.add(series, ts, value))
}
final class TimedNotifier(inner: AlertNotifier) extends AlertNotifier {
  def notify(severity: String, message: String, eventTime: String): Unit =
    Rec.time(Rec.Notify, null)(inner.notify(severity, message, eventTime))
}

/** A closed interval on the run clock (ms since [[Trace.start]]). */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      start: Double, end: Double)

final case class JobRec(id: Int, start: Double, end: Double, span: Long,
                        query: String, batch: Long, failed: Boolean)
final case class TaskRec(stage: Int, durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long, failed: Boolean)
final case class BatchRec(query: String, batch: Long, start: Double,
                          duration: Map[String, Long], rows: Long,
                          stateRows: Long, stateMem: Long, stateCommitMs: Long)

/** Span recorder for the traced run. Spans are kept in memory and written out
  * at the end. A span sets the `perfbench.span` local property, so Spark jobs
  * started inside it are attributed to it by [[Trace.Listener]]. */
object Trace {
  @volatile var on = false
  private val t0Ns = new AtomicLong(System.nanoTime())
  private val t0Ms = new AtomicLong(System.currentTimeMillis())
  private val ids = new AtomicLong()
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  /** DAGScheduler "non-existent accumulator" lines per query name */
  val accLines = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
  @volatile var currentQuery = ""
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def start(): Unit = { t0Ns.set(System.nanoTime()); t0Ms.set(System.currentTimeMillis()) }
  def ms(ns: Long): Double = (ns - t0Ns.get()) / 1e6
  def epochMs(ms: Long): Double = (ms - t0Ms.get()).toDouble
  def now: Double = ms(System.nanoTime())

  def clear(): Unit = {
    spans.clear(); jobs.clear(); tasks.clear(); batches.clear(); accLines.clear()
  }

  def span[T](spark: SparkSession, layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      val prevProp = sc.getLocalProperty("perfbench.span")
      stack.set(id :: stack.get())
      sc.setLocalProperty("perfbench.span", id.toString)
      val s = now
      try body
      finally {
        spans.add(Span(id, parent, layer, name, s, now))
        stack.set(stack.get().tail)
        sc.setLocalProperty("perfbench.span", prevProp)
      }
    }

  /** Spark jobs and tasks, with the span / micro-batch that started them. */
  final class Listener extends SparkListener {
    private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).getOrElse(new java.util.Properties())
      open.put(e.jobId, JobRec(e.jobId, epochMs(e.time), Double.NaN,
        Option(p.getProperty("perfbench.span")).map(_.toLong).getOrElse(0L),
        p.getProperty("sql.streaming.queryId"),
        Option(p.getProperty("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L), false))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(open.remove(e.jobId)).foreach { j =>
        jobs.add(j.copy(end = epochMs(e.time), failed = e.jobResult != JobSucceeded))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks.add(TaskRec(e.stageId, i.duration, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled, !i.successful))
      else tasks.add(TaskRec(e.stageId, i.duration, 0, 0, 0, 0, 0, 0, !i.successful))
    }
  }

  /** Micro-batch progress: the `durationMs` parts become child spans. */
  final class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = epochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val ops = p.stateOperators
      batches.add(BatchRec(p.id.toString, p.batchId, start,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum))
    }
  }

  /** Counts DAGScheduler "non-existent accumulator" errors per query. */
  final class AccAppender extends AbstractAppender("perfbench-acc", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      val thrown = Option(e.getThrown).map(t => String.valueOf(t.getMessage)).getOrElse("")
      if (msg.contains("non-existent accumulator") || thrown.contains("non-existent accumulator"))
        accLines.computeIfAbsent(currentQuery, _ => new AtomicInteger()).incrementAndGet()
    }
  }

  /** Register the Spark, streaming and log listeners on `spark`. */
  def attach(spark: SparkSession): () => Unit = {
    val l = new Listener
    val sl = new StreamListener
    spark.sparkContext.addSparkListener(l)
    spark.streams.addListener(sl)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AccAppender
    app.start()
    val logger = ctx.getConfiguration.getLoggerConfig("org.apache.spark.scheduler.DAGScheduler")
    val own = logger.getName == "org.apache.spark.scheduler.DAGScheduler"
    val cfg = if (own) logger else {
      val c = new org.apache.logging.log4j.core.config.LoggerConfig(
        "org.apache.spark.scheduler.DAGScheduler", null, true)
      ctx.getConfiguration.addLogger(c.getName, c)
      c
    }
    cfg.addAppender(app, org.apache.logging.log4j.Level.ERROR, null)
    ctx.updateLoggers()
    () => {
      spark.sparkContext.removeSparkListener(l)
      spark.streams.removeListener(sl)
      cfg.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
  }

  /** Wait until the asynchronous listener bus has delivered every job end
    * (no job left open and no new task record for 200 ms, at most 5 s). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1
    while (System.nanoTime() < deadline && tasks.size != last) {
      last = tasks.size
      Thread.sleep(200)
    }
  }
}
