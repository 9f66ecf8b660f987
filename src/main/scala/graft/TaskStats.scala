package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-scope task telemetry for the [[Rehearse]] rungs (`funnel`,
  * `skew`, `cc`, `deploy_ann`): task-duration distribution
  * (the straggler question — is one hot bucket serializing a stage?)
  * plus the shuffle/spill byte totals the scale notes quote. A fresh
  * listener is attached per timed scope and detached after, so each
  * figure covers exactly one operator's jobs.
  *
  * The listener bus is asynchronous; [[TaskStats.scoped]] drains it
  * (`LiveListenerBus.waitUntilEmpty`, reflectively — it is
  * `private[spark]`) after the action returns and before snapshotting,
  * and counts only SUCCESSFUL task attempts, so failed/speculative
  * retries don't skew the percentiles or double-count bytes. Tasks from
  * concurrently running jobs in other threads would still be attributed
  * to the scope — the rungs run their measured actions serially.
  */
final class TaskStats extends SparkListener {
  private val durs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val lock = new Object
  private var shufWrite = 0L
  private var shufRead = 0L
  private var spillDisk = 0L
  private var spillMem = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    // successful attempts only (round-16 advice): failed and killed
    // speculative attempts would otherwise skew the duration percentiles
    // and double-count shuffle/spill bytes the retry re-pays
    if (m != null && e.taskInfo != null && e.taskInfo.successful) {
      durs.add(e.taskInfo.duration)
      lock.synchronized {
        shufWrite += m.shuffleWriteMetrics.bytesWritten
        shufRead += m.shuffleReadMetrics.totalBytesRead
        spillDisk += m.diskBytesSpilled
        spillMem += m.memoryBytesSpilled
      }
    }
  }

  /** (nTasks, median ms, p99 ms, max ms, shuffle-write B, shuffle-read B,
    * disk-spill B, mem-spill B) over every task this listener saw. */
  def snapshot(): TaskStats.Snap = {
    val ds = {
      val it = durs.iterator(); val b = Seq.newBuilder[Long]
      while (it.hasNext) b += it.next().longValue()
      b.result().sorted
    }
    def pct(p: Double): Long =
      if (ds.isEmpty) 0L
      else ds(math.min(ds.length - 1, (p * ds.length).toInt))
    lock.synchronized {
      TaskStats.Snap(ds.length, pct(0.50), pct(0.99),
        ds.lastOption.getOrElse(0L), shufWrite, shufRead, spillDisk, spillMem)
    }
  }
}

object TaskStats {
  final case class Snap(nTasks: Int, medianMs: Long, p99Ms: Long,
                        maxMs: Long, shuffleWriteB: Long, shuffleReadB: Long,
                        diskSpillB: Long, memSpillB: Long) {
    /** The straggler ratio the skew rehearsal quotes: a flat stage keeps
      * p99 within a small factor of the median. */
    def p99OverMedian: Double =
      if (medianMs <= 0) 0.0 else p99Ms.toDouble / medianMs

    /** The record fields every rung that scopes a stage appends. */
    def fields: Seq[(String, Long)] = Seq(
      "tasks" -> nTasks.toLong, "task_med_ms" -> medianMs,
      "task_p99_ms" -> p99Ms, "task_max_ms" -> maxMs,
      "shuf_write_mb" -> shuffleWriteB / 1048576,
      "shuf_read_mb" -> shuffleReadB / 1048576,
      "spill_disk_mb" -> diskSpillB / 1048576,
      "spill_mem_mb" -> memSpillB / 1048576)
  }

  /** Run `f` with a fresh listener attached; returns (wall seconds,
    * f's result, the task snapshot). */
  def scoped[A](spark: SparkSession)(f: => A): (Double, A, Snap) = {
    val l = new TaskStats
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    val a = f
    val wall = (System.nanoTime() - t0) / 1e9
    drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(l)
    (wall, a, l.snapshot())
  }

  /** Drain the async listener bus before snapshotting: LiveListenerBus
    * exposes `waitUntilEmpty` only as `private[spark]`, which is public
    * at the JVM level — invoked reflectively (a fixed 1 s sleep, the
    * previous form, can undercount on a loaded bus; round-16 advice).
    * Falls back to the sleep if the internal API moves. */
  private def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(30000L))
    } catch {
      case scala.util.control.NonFatal(_) => Thread.sleep(1000)
    }
}
