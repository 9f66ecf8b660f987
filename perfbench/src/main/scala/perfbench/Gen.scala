package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.ParkingModel

/** Seeded input generator. Every table is a pure function of (seed, row id)
  * through `xxhash64`, so the same seed gives byte-identical inputs whatever
  * the partitioning. Tables have the shape of the engine's parquet inputs
  * (`events`, `customer`, `documents`, `embeddings`), and streamed events
  * are serialised to the reference JSON through the same projection the
  * engine's job specs use.
  */
object Gen {
  val Customers = 15000L        // sf0.1 customer key range 0..14999
  val EventsSf01 = 100000L      // sf0.1 events table size
  val SecondsPerEvent = 25.92   // 100k events over 30 days, as at sf0.1
  val LateShare = 0.05          // share of events that arrive out of order
  val MaxLateSec = 50 * 60      // always inside the streams' 1-hour watermark
  val BaseEpoch = 1704067200L   // 2024-01-01T00:00:00Z

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  /** uniform double in [0, 1) from (seed, id, salt) */
  private def u(seed: Long, id: Column, salt: Int): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(1L << 40)).cast("double") / (1L << 40).toDouble

  private def pick(seed: Long, id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(n))

  /** Events in the testdata shape: event_id is arrival order; `ts` advances
    * 25.92 s per event, and a [[LateShare]] of events carries a timestamp up
    * to 50 minutes old. user_id spans the customer key range plus 5% past its
    * end, so enrichment hits, misses (absent keys, every 7th key) and
    * handicapped users (every 13th key) all occur. */
  def events(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val late = u(seed, id, 3) < LateShare
    val nominal = lit(BaseEpoch.toDouble) + id.cast("double") * SecondsPerEvent
    val tsSec = nominal + u(seed, id, 4) * 10.0 -
      when(late, u(seed, id, 5) * MaxLateSec).otherwise(lit(0.0))
    spark.range(0, n, 1, 4).select(
      id.as("event_id"),
      timestamp_micros((tsSec * 1e6).cast("long")).as("ts"),
      pick(seed, id, 1, (Customers * 105) / 100).as("user_id"),
      element_at(array(Seq("view", "click", "signup", "error", "purchase").map(lit): _*),
        (pick(seed, id, 2, 5) + 1).cast("int")).as("event_type"),
      round(-log(lit(1.0) - u(seed, id, 6)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), pick(seed, id, 7, 100).cast("string"), lit("}")).as("props"))
  }

  /** customer with the sf0.1 key range; only c_custkey feeds the jobs. */
  def customer(spark: SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    spark.range(0, Customers, 1, 1).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick(seed, id, 11, 25).cast("int").as("c_nationkey"),
      round(u(seed, id, 12) * 11000.0 - 1000.0, 2).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        .map(lit): _*), (pick(seed, id, 13, 5) + 1).cast("int")).as("c_mktsegment"))
  }

  /** documents: 5000 docs of 8-100 words over a 30-word vocabulary, with
    * every 50th doc a one-word ("dup") variant of its predecessor and every
    * 625th an exact copy, like the sf0.1 table. */
  def documents(spark: SparkSession, seed: Long, n: Long = 5000L): DataFrame = {
    val vocab = array(Vocab.map(lit): _*)
    def words(doc: Column): Column = transform(
      sequence(lit(1), (pick(seed, doc, 21, 93) + 8).cast("int")),
      i => element_at(vocab, (pmod(xxhash64(lit(seed), doc, i), lit(Vocab.size.toLong)) + 1)
        .cast("int")))
    val id = col("id")
    val src = when(id % 625 === 0 && id > 0, id - 1).when(id % 50 === 49, id - 1).otherwise(id)
    val base = words(src)
    val text = when(id % 50 === 49, array_join(
      concat(slice(base, 1, 3), array(lit("dup")), slice(base, 5, 200)), " "))
      .otherwise(array_join(base, " "))
    spark.range(0, n, 1, 4).select(id.as("doc_id"), text.as("text"),
      element_at(array(Seq("en", "en", "en", "fr", "es", "zh", "de").map(lit): _*),
        (pick(seed, id, 22, 7) + 1).cast("int")).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** embeddings: 2000 unit vectors of dimension 64 around 10 label centres. */
  def embeddings(spark: SparkSession, seed: Long, n: Long = 2000L, dim: Int = 64): DataFrame = {
    val id = col("id")
    val label = pick(seed, id, 31, 10)
    val raw = transform(sequence(lit(0), lit(dim - 1)), j =>
      (pmod(xxhash64(lit(seed), label, j, lit(32)), lit(1L << 20)).cast("double") /
        (1L << 20).toDouble - 0.5) +
      (pmod(xxhash64(lit(seed), id, j, lit(33)), lit(1L << 20)).cast("double") /
        (1L << 20).toDouble - 0.5) * 0.6)
    spark.range(0, n, 1, 4)
      .select(id.as("vec_id"), raw.as("raw"), label.cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y)))).cast("array<float>").as("embedding"),
        col("label"))
  }

  def writeParquet(df: DataFrame, dir: Path, table: String): Unit =
    df.write.mode("overwrite").parquet(dir.resolve(s"$table.parquet").toString)

  /** The parking tables the jobs and streams read: events + customer. */
  def parkingTables(spark: SparkSession, seed: Long, dir: Path, nEvents: Long): Unit = {
    writeParquet(events(spark, seed, nEvents), dir, "events")
    writeParquet(customer(spark, seed), dir, "customer")
  }

  /** The reference JSON of every event in `dir`'s events table, in event_id
    * order — the projection the engine's job specs replay through the file
    * source. */
  def eventJson(spark: SparkSession, dir: Path): Array[(Long, String)] =
    ParkingModel.parkingEvents(spark, dir.toString).orderBy("event_id")
      .select(col("event_id"), to_json(struct(
        col("event_id"), col("eventType"), col("ts").as("timestamp"),
        struct(col("licensePlate"), col("vehicleType"), lit("gray").as("color")).as("vehicle"),
        struct(col("parkingLotId"), col("parkingSpotId"), col("isSlotHandicapped")).as("parking"),
        col("duration_ms").as("duration"))).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
}
