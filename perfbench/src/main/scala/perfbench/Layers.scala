package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, and the self-time split of its wall
  * time. Every metric is reported on every workload; a layer a workload does
  * not use reports 0. */
object Layers {
  /** Innermost first: at each instant of the measured window the wall time
    * is charged to the first layer in this list that has an open interval. */
  val Order: Seq[String] =
    Seq("resp", "webhook", "sinks", "spark", "sources", "streaming", "ops", "jobs", "gen")

  final case class Interval(layer: String, start: Double, end: Double)

  /** Stream-phase intervals of one micro-batch, laid out in execution order
    * from the trigger start (the progress event gives durations only). */
  def batchIntervals(b: BatchRec): Seq[Interval] = {
    val d = (k: String) => b.duration.getOrElse(k, 0L).toDouble
    val lo = b.start + d("latestOffset")
    val wal = lo + d("walCommit")
    Seq(Interval("streaming", b.start, b.start + d("triggerExecution")),
      Interval("sources", b.start, lo),
      Interval("sources", wal, wal + d("getBatch")))
  }

  def intervals(w: Workload): Seq[Interval] = {
    val spans = Trace.spans.asScala.map(s => Interval(s.layer, s.start, s.end))
    val jobs = Trace.jobs.asScala.map(j => Interval("spark", j.start, j.end))
    val batches = Trace.batches.asScala.flatMap(batchIntervals)
    val calls = Rec.calls.asScala.map(c => Interval("sinks", Trace.ms(c.t0), Trace.ms(c.t1)))
    def served(layer: String, log: java.util.Queue[Array[Long]]) =
      Option(log).map(_.asScala.map(a => Interval(layer, Trace.ms(a(0)), Trace.ms(a(1))))).getOrElse(Nil)
    (spans ++ jobs ++ batches ++ calls).toSeq ++
      served("resp", Option(w.respServer).map(_.handleLog).orNull) ++
      served("webhook", Option(w.webhook).map(_.handleLog).orNull)
  }

  /** Self time per layer and the unattributed rest of [w0, w1], seconds. */
  def selfTimes(iv: Seq[Interval], w0: Double, w1: Double): (Map[String, Double], Double) = {
    val rank = Order.zipWithIndex.toMap
    val edges = iv.filter(i => i.end > w0 && i.start < w1 && rank.contains(i.layer)).flatMap { i =>
      Seq((math.max(i.start, w0), 1, rank(i.layer)), (math.min(i.end, w1), -1, rank(i.layer)))
    }.sortBy(e => (e._1, -e._2))
    val open = new Array[Int](Order.size)
    val self = new Array[Double](Order.size)
    var none = 0.0
    var t = w0
    edges.foreach { case (at, delta, r) =>
      val top = open.indexWhere(_ > 0)
      if (top >= 0) self(top) += at - t else none += at - t
      open(r) += delta
      t = at
    }
    none += w1 - t
    (Order.zip(self.map(_ / 1e3)).toMap, none / 1e3)
  }

  private def mb(bytes: Double) = bytes / (1024.0 * 1024.0)

  def metrics(w: Workload, workload: String, w0: Double, w1: Double,
              e2e: Map[String, (Double, String)]): Map[String, (Double, String)] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, unit: String): Unit = m(k) = (Stats.orZero(v), unit)
    def layer(k: String, unit: String): Unit = put(k, w.layer.getOrElse(k, 0.0), unit)

    layer("gen.events", "count"); layer("gen.late_p99_ms", "ms")

    val batches = Trace.batches.asScala.toSeq
    def dur(k: String) = batches.map(_.duration.getOrElse(k, 0L).toDouble)
    layer("source.pending_files_end", "count")
    put("source.offset_ms_p50", Stats.p50(batches.map(b =>
      (b.duration.getOrElse("latestOffset", 0L) + b.duration.getOrElse("getBatch", 0L)).toDouble)), "ms")
    put("streaming.batches", batches.size, "count")
    put("streaming.trigger_ms_p50", Stats.p50(dur("triggerExecution")), "ms")
    put("streaming.trigger_ms_p99", Stats.p99(dur("triggerExecution")), "ms")
    put("streaming.planning_ms_p50", Stats.p50(dur("queryPlanning")), "ms")
    put("streaming.add_batch_ms_p50", Stats.p50(dur("addBatch")), "ms")
    put("streaming.commit_ms_p50", Stats.p50(batches.map(b =>
      (b.duration.getOrElse("walCommit", 0L) + b.duration.getOrElse("commitOffsets", 0L)).toDouble)), "ms")
    put("streaming.rows_per_batch_p50", Stats.p50(batches.map(_.rows.toDouble)), "count")
    // state at the end: the last batch of each query still running
    val lastPerQuery = batches.groupBy(_.query).values.map(_.maxBy(_.batch)).toSeq
      .sortBy(_.start).takeRight(w.concurrentQueries)
    put("streaming.state_rows", lastPerQuery.map(_.stateRows).sum.toDouble, "count")
    put("streaming.state_mem_mb", mb(lastPerQuery.map(_.stateMem).sum.toDouble), "MB")
    put("streaming.state_commit_ms_p50",
      Stats.p50(batches.filter(_.stateMem > 0).map(_.stateCommitMs.toDouble)), "ms")

    val spans = Trace.spans.asScala.map(s => s.id -> s).toMap
    def under(id: Long, p: Span => Boolean): Boolean =
      Iterator.iterate(spans.get(id))(_.flatMap(s => spans.get(s.parent)))
        .takeWhile(_.isDefined).flatten.exists(p)
    val jobs = Trace.jobs.asScala.toSeq
    val ops = math.max(1, w.opsMs.size)
    layer("jobs.hourly_s", "s"); layer("jobs.daily_s", "s"); layer("jobs.weekly_s", "s")
    put("jobs.spark_jobs", jobs.count(j => under(j.span, _.layer == "jobs")).toDouble / ops, "count")
    layer("ops.construction_s", "s"); layer("ops.planning_s", "s"); layer("ops.execution_s", "s")
    put("ops.jobs_before_action", jobs.count(j => under(j.span, s =>
      s.name.startsWith("construct:") || s.name.startsWith("plan:"))).toDouble / ops, "count")

    val tasks = Trace.tasks.asScala.toSeq
    put("spark.jobs", jobs.size, "count")
    put("spark.stages", tasks.map(_.stage).distinct.size, "count")
    put("spark.tasks", tasks.size, "count")
    put("spark.task_p50_ms", Stats.p50(tasks.map(_.durMs.toDouble)), "ms")
    put("spark.task_p99_ms", Stats.p99(tasks.map(_.durMs.toDouble)), "ms")
    put("spark.shuffle_write_mb", mb(tasks.map(_.shuffleWrite).sum.toDouble), "MB")
    put("spark.shuffle_read_mb", mb(tasks.map(_.shuffleRead).sum.toDouble), "MB")
    put("spark.spill_mb", mb(tasks.map(_.spill).sum.toDouble), "MB")
    put("spark.gc_ms", tasks.map(_.gcMs).sum.toDouble, "ms")
    put("spark.cpu_over_run", tasks.map(_.cpuNs).sum / 1e6 / math.max(1L, tasks.map(_.runMs).sum), "ratio")
    put("spark.failed_tasks", tasks.count(_.failed).toDouble, "count")

    val calls = Rec.calls.asScala.toSeq
    val puts = calls.filter(_.kind == Rec.Put)
    val notifies = calls.filter(_.kind == Rec.Notify)
    put("sinks.puts", puts.size, "count")
    put("sinks.put_busy_s", puts.map(c => c.t1 - c.t0).sum / 1e9, "s")
    put("sinks.put_p99_us", Stats.p99(puts.map(c => (c.t1 - c.t0) / 1e3)), "us")
    put("sinks.errors", calls.count(_.failed).toDouble, "count")
    put("sinks.ts_adds", calls.count(_.kind == Rec.Add).toDouble, "count")
    put("sinks.notifies", notifies.size, "count")
    put("sinks.notify_busy_s", notifies.map(c => c.t1 - c.t0).sum / 1e9, "s")

    val r = Option(w.respServer)
    put("resp.commands", r.map(_.commands.get.toDouble).getOrElse(0), "count")
    put("resp.connections_opened", r.map(_.opened.get.toDouble).getOrElse(0), "count")
    put("resp.connections_open_end", r.map(_.open.get.toDouble).getOrElse(0), "count")
    put("resp.unchanged_put_frac", r.map(s => s.unchangedPuts.get.toDouble / math.max(1L, s.puts.get))
      .getOrElse(0), "ratio")
    put("resp.bytes_in_mb", mb(r.map(_.bytesIn.get.toDouble).getOrElse(0)), "MB")
    val h = Option(w.webhook)
    put("webhook.posts", h.map(_.posts.size.toDouble).getOrElse(0), "count")
    put("webhook.connections_opened", h.map(_.opened.get.toDouble).getOrElse(0), "count")

    Seq("live.slot_latency_p50_ms", "live.slot_latency_p99_ms", "live.alert_latency_p50_ms",
      "live.alert_latency_p99_ms").foreach(layer(_, "ms"))
    layer("batch.cycle_p50_s", "s")
    layer("query_mix.total_s", "s")
    put("dag.nonexistent_acc_lines", Trace.accLines.values.asScala.map(_.get).sum.toDouble, "count")

    val (self, rest) = selfTimes(intervals(w), w0, w1)
    Order.foreach(l => put(s"self.${l}_s", self(l), "s"))
    put("self.unattributed_s", rest, "s")
    put("traced.wall_s", (w1 - w0) / 1e3, "s")
    Seq("setup_s", "op_p50_ms", "op_p99_ms", "peak_rss_mb").foreach { k =>
      put(s"traced.$k", e2e(k)._1, e2e(k)._2)
    }
    m.toMap
  }

  /** Write the spans, records and metrics of a traced run as one JSON file. */
  def write(dir: Path, workload: String, seed: Long, w: Workload,
            metrics: Map[String, (Double, String)], w0: Double, w1: Double,
            setups: Seq[Double]): Unit = {
    Files.createDirectories(dir)
    val spans = Trace.spans.asScala.toSeq.sortBy(_.start).map(s => Map("id" -> s.id,
      "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.start,
      "end_ms" -> s.end))
    val jobs = Trace.jobs.asScala.toSeq.sortBy(_.start).map(j => Map("job" -> j.id,
      "span" -> j.span, "query" -> j.query, "batch" -> j.batch, "start_ms" -> j.start,
      "end_ms" -> j.end, "failed" -> j.failed))
    val batches = Trace.batches.asScala.toSeq.sortBy(_.start).map(b => Map("query" -> b.query,
      "batch" -> b.batch, "start_ms" -> b.start, "duration_ms" -> b.duration, "rows" -> b.rows,
      "state_rows" -> b.stateRows, "state_mem" -> b.stateMem, "state_commit_ms" -> b.stateCommitMs))
    val calls = Rec.calls.asScala.toSeq.map(c => Seq(c.kind, c.batch, Trace.ms(c.t0), Trace.ms(c.t1)))
    val doc = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "window_ms" -> Seq(w0, w1), "setup_s" -> setups,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "nonexistent_accumulator_lines" -> Trace.accLines.asScala.map { case (k, v) => k -> v.get },
      "notes" -> w.notes,
      "spans" -> spans, "spark_jobs" -> jobs, "micro_batches" -> batches,
      "sink_calls" -> Json.Raw("[" + calls.map(Json.value).mkString(",") + "]"),
      "sink_call_fields" -> Seq("kind(0 put,1 add,2 notify)", "batch", "start_ms", "end_ms")))
    Files.write(dir.resolve(s"$workload-seed$seed.json"), doc.getBytes("UTF-8"))
  }
}
