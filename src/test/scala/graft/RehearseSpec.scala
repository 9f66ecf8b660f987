package graft

import java.io.ByteArrayOutputStream

/** The rehearsal runner at toy sizes on the shared session: every line a
  * rung prints is one JSON record carrying the rung's op names, an
  * unknown rung is refused with the valid names, and a rung never stops
  * the session it was handed. */
class RehearseSpec extends SparkSpec {

  /** Run one rung, returning its stdout lines. */
  private def rehearse(args: String*): Seq[String] = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(Rehearse.run(spark, args))
    buf.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq
  }

  private def ops(lines: Seq[String]): Set[String] = {
    import spark.implicits._
    val records = spark.read.json(lines.toDS())
    records.columns should not contain "_corrupt_record"
    records.select("op").as[String].collect().toSet
  }

  "Rehearse" should "print only JSON records from the cc, stream_state and composed_stream rungs" in {
    val cc = rehearse("cc", "20000", "1", "iterative")
    ops(cc) shouldBe Set("cc_iterative")

    val state = rehearse("stream_state", "2", "200")
    ops(state) shouldBe Set("span_dedup_stream_compute", "span_dedup_stream_state",
      "span_dedup_stream", "dedup_group_stream_compute", "dedup_group_stream_state",
      "dedup_group_stream")

    val composed = rehearse("composed_stream", "2", "200", "8")
    ops(composed) shouldBe Set("composed_stream_dedup", "composed_stream_gate_mix",
      "composed_stream")
    composed.last should include("\"src0\":[")
  }

  it should "refuse an unknown rung, naming the valid ones" in {
    val e = the[IllegalArgumentException] thrownBy Rehearse.run(spark, Seq("nope"))
    e.getMessage should include("unknown rung 'nope'")
    Rehearse.rungs.keys.foreach(name => e.getMessage should include(name))
  }

  it should "leave the session it was handed usable" in {
    rehearse("cc", "2000", "1", "iterative")
    spark.sparkContext.isStopped shouldBe false
    spark.range(3).count() shouldBe 3L
  }
}
