package graft.jobs

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.SparkSpec
import graft.ops.ParkingAnalytics
import graft.schema.ParkingModel
import graft.sinks.{InMemoryKeyValueSink, InMemoryTimeSeriesSink}
import graft.streaming.FileEventSource
import org.apache.spark.sql.functions._

class JobsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The sf0.001 events as the reference's JSON lines, in event order. */
  private lazy val eventLines: Array[String] =
    ParkingModel.parkingEvents(spark, sfDir).orderBy("event_id")
      .select(to_json(struct(
        col("event_id"), col("eventType"), col("ts").as("timestamp"),
        struct(col("licensePlate"), col("vehicleType"), lit("gray").as("color")).as("vehicle"),
        struct(col("parkingLotId"), col("parkingSpotId"), col("isSlotHandicapped")).as("parking"),
        col("duration_ms").as("duration"))).as("l")).collect().map(_.getString(0))

  "hourlyStats job" should "publish one document per clock hour" in {
    val sink = new InMemoryKeyValueSink
    val n = Jobs.hourlyStats(spark, sfDir, sink)
    sink.store.size.toLong shouldBe n
    sink.store.keys.foreach(_ should startWith("parking-stats:hourly:"))
    sink.store.values.foreach(_ should include("\"VehicleTypes\":"))
  }

  "dailyRollup job" should "write entries/exits/revenue series points per day" in {
    val sink = new InMemoryTimeSeriesSink
    val days = Jobs.dailyRollup(spark, sfDir, sink)
    sink.store.keySet shouldBe Set(
      "parking-events:daily:entries", "parking-events:daily:exits",
      "parking-events:daily:revenue")
    sink.store("parking-events:daily:entries").size.toLong shouldBe days
    val totalEntries = sink.store("parking-events:daily:entries").map(_._2).sum
    totalEntries shouldBe ParkingAnalytics.dailyRollup(spark, sfDir)
      .agg(sum("entries")).collect().head.getLong(0).toDouble
  }

  "weeklyStats job" should "publish revenue-by-type and avgspent documents" in {
    val sink = new InMemoryKeyValueSink
    Jobs.weeklyStats(spark, sfDir, sink)
    sink.store.keys.count(_.startsWith("parking-stats:weekly:revenue-by-type:")) shouldBe 5
    sink.store.keys.count(_.startsWith("parking-stats:weekly:avgspent:")) should be > 0
    sink.store.values.foreach(_ should startWith("{"))
  }

  "liveSlotView job" should "stream the materialized view into the sink" in {
    // replay events as JSON through the file source (one file is enough —
    // cross-batch state is covered by StreamingParitySpec)
    val dir = Files.createTempDirectory("job-events")
    Files.write(dir.resolve("events.json"), String.join("\n", eventLines: _*).getBytes)
    val sink = new InMemoryKeyValueSink
    val q = Jobs.liveSlotView(spark, FileEventSource(dir.toString, maxFilesPerTrigger = 10),
      sink, Files.createTempDirectory("job-ckpt").toString)
    q.awaitTermination(120000)
    val batch = ParkingAnalytics.latestSlotState(spark, sfDir).collect()
    sink.store.size shouldBe batch.length
    batch.foreach { r =>
      val key = s"${r.getString(0)}-${r.getString(1)}"
      sink.store(key) should include(s""""occupied":${r.getBoolean(2)}""")
    }
  }

  "hourlyStatsStream job" should "converge the sink to the batch occupancyByLot rows" in {
    val dir = Files.createTempDirectory("job-hourly")
    eventLines.grouped(250).zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"c$i%02d.json")
      Files.write(f, ls.mkString("\n").getBytes)
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val sink = new InMemoryKeyValueSink
    val q = Jobs.hourlyStatsStream(spark, FileEventSource(dir.toString, maxFilesPerTrigger = 1),
      sink, Files.createTempDirectory("hourly-ckpt").toString)
    q.awaitTermination(180000)
    val batch = ParkingAnalytics.occupancyByLot(spark, sfDir).collect()
    sink.store.size shouldBe batch.length
    batch.foreach { r =>
      val key = s"parking-stats:hourly:${r.getString(0)}:${r.getString(1)}:${r.getString(2)}"
      sink.store(key) shouldBe
        s"""{"entries":${r.getLong(3)},"exits":${r.getLong(4)},"occupancy":${r.getLong(5)}}"""
    }
  }

  "alertStream job" should "publish exactly the batch violations as alert documents" in {
    val dir = Files.createTempDirectory("job-alerts")
    Files.write(dir.resolve("events.json"), String.join("\n", eventLines: _*).getBytes)
    val sink = new InMemoryKeyValueSink
    val q = Jobs.alertStream(spark, FileEventSource(dir.toString, maxFilesPerTrigger = 10),
      sfDir, sink, Files.createTempDirectory("alert-ckpt").toString)
    q.awaitTermination(120000)
    sink.store.size.toLong shouldBe ParkingAnalytics.violations(spark, sfDir).count()
    sink.store.values.foreach(_ should include("\"violation_type\":"))
  }

  "liveSlotView job" should "resume from its checkpoint to the batch slot state" in {
    // the later half of the events first, the earlier half on the rerun:
    // every slot's latest event came in the first run and must survive the
    // older ones the rerun brings, so the rerun only converges if offsets,
    // commits and state are read back
    val dir = Files.createTempDirectory("job-resume")
    val chunks = eventLines.grouped(math.max(1, eventLines.length / 8)).toSeq.zipWithIndex
    def add(part: Seq[(Array[String], Int)]): Unit = part.foreach { case (ls, i) =>
      val f = dir.resolve(f"c$i%02d.json")
      Files.write(f, ls.mkString("\n").getBytes)
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val ckpt = Files.createTempDirectory("resume-ckpt")
    val sink = new InMemoryKeyValueSink
    def run(): Long = {
      val q = Jobs.liveSlotView(spark, FileEventSource(dir.toString, maxFilesPerTrigger = 2),
        sink, ckpt.toString)
      q.awaitTermination(120000)
      q.exception shouldBe None
      assert(!q.isActive, "stream did not terminate")
      q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).min
    }
    val (earlier, later) = chunks.splitAt(chunks.length / 2)
    add(later)
    run() shouldBe 0L
    add(earlier)
    run() should be > 0L
    val expected = ParkingAnalytics.latestSlotState(spark, sfDir)
      .select(concat_ws("-", col("parkingLotId"), col("parkingSpotId")),
        to_json(struct(col("parkingLotId"), col("parkingSpotId"), col("occupied"), col("plate"))))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    sink.store.toMap shouldBe expected
    eventually(timeout(30.seconds)) {
      Files.walk(ckpt).iterator().asScala.map(_.getFileName.toString)
        .filter(_.contains(".tmp")).toSeq shouldBe empty
    }
  }
}
