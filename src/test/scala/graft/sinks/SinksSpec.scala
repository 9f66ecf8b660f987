package graft.sinks

import java.net.SocketTimeoutException
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.SparkSpec
import graft.ops.{HourlyDocs, ParkingAnalytics}

class SinksSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  "Resp" should "encode commands with byte-exact RESP framing" in {
    val bytes = Resp.encode(Seq("JSON.SET", "k1", ".", """{"a":1}"""))
    new String(bytes, StandardCharsets.UTF_8) shouldBe
      "*4\r\n$8\r\nJSON.SET\r\n$2\r\nk1\r\n$1\r\n.\r\n$7\r\n{\"a\":1}\r\n"
  }

  it should "frame multi-byte UTF-8 payloads by byte length, not char count" in {
    val bytes = Resp.encode(Seq("SET", "k", "é")) // é = 2 bytes in UTF-8
    new String(bytes, StandardCharsets.UTF_8) should include("$2\r\né\r\n")
  }

  "HourlyDocs.publish" should "deliver idempotent window-keyed documents to a sink" in {
    val sink = new InMemoryKeyValueSink
    val docs = HourlyDocs.documents(spark, sfDir)
    HourlyDocs.publish(docs, sink)
    val sizeAfterFirst = sink.store.size
    HourlyDocs.publish(docs, sink) // replay — at-least-once must converge
    sink.store.size shouldBe sizeAfterFirst
    sizeAfterFirst should be > 0
    val (key, doc) = sink.store.head
    key should fullyMatch regex "parking-stats:hourly:\\d{4}-\\d{2}-\\d{2}:\\d{2}"
    doc should include("\"NbrEntries\":")
  }

  it should "write documents through the file-backed sink" in {
    val dir = Files.createTempDirectory("graft-kv").toString
    val sink = new FileKeyValueSink(dir)
    HourlyDocs.publish(HourlyDocs.documents(spark, sfDir).limit(3), sink)
    val files = Files.list(Paths.get(dir)).toArray
    files.length shouldBe 3
    new String(Files.readAllBytes(files.head.asInstanceOf[java.nio.file.Path])) should
      include("\"Occupancy\":")
  }

  "InMemoryTimeSeriesSink" should "accumulate daily rollups as ordered series points" in {
    val sink = new InMemoryTimeSeriesSink
    val daily = ParkingAnalytics.dailyRollup(spark, sfDir).collect()
    daily.foreach { r =>
      val epoch = java.time.LocalDate.parse(r.getString(0))
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
      sink.add("parking-events:daily:entries", epoch, r.getLong(1).toDouble)
      sink.add("parking-events:daily:exits", epoch, r.getLong(2).toDouble)
    }
    sink.store("parking-events:daily:entries").size shouldBe daily.length
    sink.store("parking-events:daily:entries").map(_._1) shouldBe sorted
  }

  "HourlyDocs.documents" should "render the exact reference statsToJson field contract" in {
    val doc = HourlyDocs.documents(spark, sfDir)
      .filter("date_str = '2024-01-01'").orderBy("hour_str")
      .collect().head.getAs[String]("doc")
    // field order and capitalized names are the Grafana compatibility
    // contract (reference MainHourly.scala:158-171).
    doc should fullyMatch regex
      ("""\{"NbrEntries":\d+,"NbrExit":\d+,"Occupancy":\{[^}]*\},""" +
        """"RevenueSimulation":[0-9.]+,"VehicleTypes":\{[^}]*\}\}""")
    doc should include regex """"Occupancy":\{("lot-0\d":\d+,?)+\}"""
  }

  "RedisKeyValueSink" should "fail a put within its timeout when the server never replies" in {
    FakeRedis.withStalledServer { port =>
      val sink = new RedisKeyValueSink("127.0.0.1", port)
      val t0 = System.nanoTime()
      a[SocketTimeoutException] should be thrownBy sink.put("k", "{}")
      val waitedMs = (System.nanoTime() - t0) / 1e6
      waitedMs should be >= (RedisKeyValueSink.TimeoutMs * 0.9)
      waitedMs should be < (RedisKeyValueSink.TimeoutMs * 3.0)
    }
  }

  it should "report an error reply with its key and UTF-8 message intact" in {
    val redis = new FakeRedis
    val sink = new RedisKeyValueSink("127.0.0.1", redis.port)
    try {
      val e = the[RuntimeException] thrownBy sink.put(FakeRedis.RefusedKey, "{}")
      e.getMessage should include(FakeRedis.RefusedKey)
      e.getMessage should include(FakeRedis.RefusedMessage)
      // the error reply was consumed whole: the next put stays aligned
      sink.put("k", "{}")
      redis.store.get("k") shouldBe Some("{}")
    } finally { sink.close(); redis.stop() }
  }

  it should "close its connection when the writing task completes" in {
    import spark.implicits._
    val redis = new FakeRedis
    try {
      val sink = new RedisKeyValueSink("127.0.0.1", redis.port)
      (1 to 40).map(i => (s"k$i", s"""{"v":$i}""")).toDF("k", "v").repartition(4)
        .foreachPartition { (it: Iterator[Row]) =>
          it.foreach(r => sink.put(r.getString(0), r.getString(1)))
        }
      redis.store.size shouldBe 40
      redis.opened.get should be > 0
      eventually(timeout(10.seconds)) { redis.closed.get shouldBe redis.opened.get }
    } finally redis.stop()
  }
}
