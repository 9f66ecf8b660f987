package graft.jobs

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{HourlyDocs, ParkingAnalytics}
import graft.schema.ParkingModel
import graft.sinks.{AlertNotifier, KeyValueSink, TimeSeriesSink}
import graft.sources.Tables
import graft.streaming.{EventDecode, EventSource, LiveSlotView, StreamingConf, ViolationStream}

/** The reference's job entry points (SURVEY.md §3) as library functions:
  * each wires source → single-pass distributed plan → idempotent sink.
  * Where the reference scheduled three Spark apps and three consumer
  * services, a user of this engine calls one function per pipeline (or
  * schedules them; the plans are identical either way).
  */
object Jobs {

  /** §3.1 hourly stats (reference srvc_stats.MainHourly.main): full-shape
    * JSON documents keyed `parking-stats:hourly:$date:$hour` (same keys →
    * reruns overwrite idempotently, like the reference's "@every 1m"
    * schedule). Fails fast on an empty input window (P7). */
  def hourlyStats(spark: SparkSession, dir: String, sink: KeyValueSink): Long = {
    val events = Tables.requireNonEmpty(
      ParkingModel.parkingEvents(spark, dir), s"hourly stats over $dir")
    // persisted so the publish and the returned count share one execution
    // of the aggregation plan instead of recomputing it from the scan.
    val docs = HourlyDocs.docsFrom(events).persist()
    try {
      HourlyDocs.publish(docs, sink)
      docs.count()
    } finally docs.unpersist(false)
  }

  /** §3.1 daily job (reference MainDaily): daily entry/exit/revenue points
    * into the time-series sink under the reference's series names
    * (`parking-events:daily:…`, MainDaily.scala:264-288). */
  def dailyRollup(spark: SparkSession, dir: String, sink: TimeSeriesSink): Long = {
    val daily = ParkingAnalytics.dailyRollup(spark, dir)
      .join(ParkingAnalytics.dailyRevenue(spark, dir), Seq("date_str"))
      .collect() // ≤ one row per day — driver-side is the correct scale here
    daily.foreach { r =>
      val epoch = java.time.LocalDate.parse(r.getAs[String]("date_str"))
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
      sink.add("parking-events:daily:entries", epoch, r.getAs[Long]("entries").toDouble)
      sink.add("parking-events:daily:exits", epoch, r.getAs[Long]("exits").toDouble)
      sink.add("parking-events:daily:revenue", epoch, r.getAs[Double]("daily_revenue"))
    }
    daily.length.toLong
  }

  /** §3.1 weekly job (reference MainWeekly): revenue by type and average
    * spend per (day, type) as keyed documents
    * (`parking-stats:weekly:…`, MainWeekly.scala:271-319). */
  def weeklyStats(spark: SparkSession, dir: String, sink: KeyValueSink): Long = {
    val revenue = ParkingAnalytics.revenueByType(spark, dir)
      .select(
        concat(lit("parking-stats:weekly:revenue-by-type:"), col("vehicleType")).as("k"),
        to_json(struct(col("vehicleType"), col("n_sessions"), col("revenue"))).as("v"))
    val avgSpent = ParkingAnalytics.avgSpentByTypeDay(spark, dir)
      .select(
        concat(lit("parking-stats:weekly:avgspent:"), col("vehicleType"),
          lit(":"), col("date_str")).as("k"),
        to_json(struct(col("date_str"), col("vehicleType"), col("avg_spent"))).as("v"))
    val all = revenue.unionByName(avgSpent).persist()
    try {
      all.foreachPartition { (it: Iterator[Row]) =>
        it.foreach(r => sink.put(r.getString(0), r.getString(1)))
      }
      all.count()
    } finally all.unpersist(false)
  }

  /** Every streaming entry point below configures the RocksDB state-store
    * provider via [[StreamingConf.useRocksDbState]] and registers
    * [[graft.streaming.LocalCheckpointFileManager]] for checkpoint I/O via
    * [[StreamingConf.useLocalCheckpointFileManager]] (unless the session
    * already names a manager). NOTE the scope: Spark exposes both only as
    * session confs, so each switches every stream started on this session
    * afterwards, not just this job (existing checkpoints keep their
    * original provider).
    *
    * Starts `out` with `write` applied to every row of every micro-batch,
    * per partition. */
  private def deliver(spark: SparkSession, out: DataFrame, outputMode: String,
                      checkpoint: String, availableNow: Boolean)
                     (write: Row => Unit): StreamingQuery = {
    StreamingConf.useRocksDbState(spark)
    StreamingConf.useLocalCheckpointFileManager(spark)
    val writer = out.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.foreachPartition { (it: Iterator[Row]) => it.foreach(write) }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** §3.3 live view (reference repo-events): the slot materialized view as
    * a continuously-updating stream into a keyed sink — key
    * `"$lot-$spot"` exactly like RepoEventsApi.scala:39. Returns the
    * running query; callers own its lifecycle. */
  def liveSlotView(spark: SparkSession, source: EventSource, sink: KeyValueSink,
                   checkpoint: String, availableNow: Boolean = true): StreamingQuery = {
    val updates = LiveSlotView.updates(EventDecode.decode(source.stream(spark))).toDF()
      .select(
        concat_ws("-", col("parkingLotId"), col("parkingSpotId")).as("k"),
        to_json(struct(col("parkingLotId"), col("parkingSpotId"),
          col("occupied"), col("plate"))).as("v"))
    deliver(spark, updates, "update", checkpoint, availableNow) { r =>
      sink.put(r.getString(0), r.getString(1))
    }
  }

  /** ST2/ST3 → S9: the watermarked hourly window stream delivered to a
    * keyed sink. Update mode emits only the (date, hour, lot) rows whose
    * counts changed in a micro-batch; the sink upserts by window key, so
    * replays and late (within-watermark) corrections converge — the
    * streaming successor to the reference's re-run-the-hour-every-minute
    * schedule. Keys are per-lot (`parking-stats:hourly:$date:$hour:$lot`);
    * the cross-lot document of the batch job needs the whole hour and
    * remains [[hourlyStats]]'s output. */
  def hourlyStatsStream(spark: SparkSession, source: EventSource, sink: KeyValueSink,
                        checkpoint: String, availableNow: Boolean = true): StreamingQuery = {
    val agg = graft.streaming.HourlyStatsStream.aggregates(
      EventDecode.decode(source.stream(spark)))
      .select(
        concat_ws(":", lit("parking-stats"), lit("hourly"),
          col("date_str"), col("hour_str"), col("parkingLotId")).as("k"),
        to_json(struct(col("entries"), col("exits"), col("occupancy"))).as("v"))
    deliver(spark, agg, "update", checkpoint, availableNow) { r =>
      sink.put(r.getString(0), r.getString(1))
    }
  }

  /** §3.2 alerting (reference srvc-alert): violation stream into a keyed
    * sink (`alert:<event_id>` — the Kafka publisher's role, keyed and
    * idempotent). */
  def alertStream(spark: SparkSession, source: EventSource, usersDir: String,
                  sink: KeyValueSink, checkpoint: String,
                  availableNow: Boolean = true): StreamingQuery = {
    val alerts = ViolationStream.alerts(
      EventDecode.decode(source.stream(spark)), ParkingModel.users(spark, usersDir))
      .select(
        concat(lit("alert:"), col("event_id")).as("k"),
        to_json(struct(col("vehicle_plate"), col("spot_id"), col("lot_id"),
          col("violation_type"), col("severity"), col("event_time"))).as("v"))
    deliver(spark, alerts, "append", checkpoint, availableNow) { r =>
      sink.put(r.getString(0), r.getString(1))
    }
  }

  /** §3.2 delivery leg (reference srvc-notifier AlertEventSubscriber.scala:
    * 73-84 + DiscordNotifier.scala:22-57): the violation stream rendered to
    * the reference's human-readable alert message and handed to a webhook
    * notifier. The message is formatted in the plan (one narrow projection);
    * only delivery happens in the sink closure, per partition, and the
    * notifier swallows delivery errors so a dead webhook never kills the
    * stream. */
  def alertNotifierStream(spark: SparkSession, source: EventSource, usersDir: String,
                          notifier: AlertNotifier, checkpoint: String,
                          availableNow: Boolean = true): StreamingQuery = {
    val alerts = ViolationStream.alerts(
      EventDecode.decode(source.stream(spark)), ParkingModel.users(spark, usersDir))
      .select(
        col("severity"),
        concat(lit("Parking violation detected: "), col("violation_type"),
          lit(" - Vehicle "), col("vehicle_plate"),
          lit(" at "), col("lot_id"), lit("/"), col("spot_id")).as("message"),
        col("event_time"))
    deliver(spark, alerts, "append", checkpoint, availableNow) { r =>
      notifier.notify(r.getString(0), r.getString(1), r.getString(2))
    }
  }
}
