package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `query_mix`: a fixed list of `SparkEntry.queries` over the seeded
  * document/embedding tables, each built, planned and written to `noop` the
  * way `graft.Bench` runs it. One operation is one pass over the list. The
  * input is fixed (seed 0) whatever `--seed` says, so each query's row count
  * and content hash can be compared with the recorded ones. */
final class QueryMix(ctx: Ctx, record: Boolean, expectedFile: Path) extends Workload(ctx) {
  import QueryMix._
  private var data: Path = _
  private val passes = mutable.ArrayBuffer.empty[Map[String, (Double, Double, Double)]]
  private val lastFrames = mutable.LinkedHashMap.empty[String, DataFrame]

  def setup(rep: Int): Unit = {
    data = ctx.dir(s"mix-data-$rep")
    Gen.writeParquet(Gen.documents(spark, InputSeed), data, "documents")
    Gen.writeParquet(Gen.embeddings(spark, InputSeed), data, "embeddings")
    // warm-up as in graft.Bench: scan both tables and run one small instance
    // of the codegen shapes, so JVM and codegen start-up are not billed to
    // the first query
    val d = data.toString
    graft.sources.Tables.documents(spark, d).count()
    val docs = graft.sources.Tables.documents(spark, d).limit(64)
    val emb = graft.sources.Tables.embeddings(spark, d).limit(64)
    docs.select(graft.functions.TextPrims.charHash(col("text")).as("h"),
        aggregate(split(col("text"), " "), lit(0L), (a, t) => a + length(t)).as("f"))
      .groupBy(col("h") % 7).agg(sum("f")).count()
    emb.as("a").join(emb.as("b"), col("a.vec_id") === col("b.vec_id"))
      .select(graft.functions.AnnPrims.cosine(col("a.embedding"), col("b.embedding")))
      .count()
  }

  def teardown(): Unit = ()

  def measure(seconds: Double): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val queries = SparkEntry.queries
    while (passes.isEmpty || System.nanoTime() < end) {
      val times = mutable.LinkedHashMap.empty[String, (Double, Double, Double)]
      val t0 = System.nanoTime()
      Names.foreach { name =>
        Trace.currentQuery = name
        attempted += 1
        try {
          val a = System.nanoTime()
          val df = Trace.span(spark, "ops", s"construct:$name")(queries(name)(spark, data.toString))
          val b = System.nanoTime()
          Trace.span(spark, "ops", s"plan:$name")(df.queryExecution.executedPlan)
          val c = System.nanoTime()
          Trace.span(spark, "ops", s"execute:$name")(
            df.write.format("noop").mode("overwrite").save())
          times(name) = ((b - a) / 1e9, (c - b) / 1e9, (System.nanoTime() - c) / 1e9)
          lastFrames(name) = df
        } catch { case e: Exception =>
          failed += 1
          System.err.println(s"perfbench: $name failed: " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString)
        }
      }
      Trace.currentQuery = ""
      opsMs += (System.nanoTime() - t0) / 1e6
      passes += times.toMap
    }
    val med = (f: ((Double, Double, Double)) => Double) =>
      Stats.p50(passes.map(_.values.map(f).sum))
    layer("ops.construction_s") = med(_._1)
    layer("ops.planning_s") = med(_._2)
    layer("ops.execution_s") = med(_._3)
    layer("query_mix.total_s") = Stats.p50(opsMs) / 1e3
  }

  /** per query: (rows, content hash) of the last pass's frames */
  private lazy val results: Map[String, (Long, String)] =
    lastFrames.map { case (n, df) => n -> countAndHash(df) }.toMap
  private var expected: Map[String, (Long, String)] = _

  def check(): Seq[String] = {
    if (record) {
      Files.createDirectories(expectedFile.getParent)
      Files.write(expectedFile, Json.obj(results.toSeq.sortBy(_._1).map { case (n, (r, h)) =>
        n -> Map("rows" -> r, "hash" -> h) }).getBytes("UTF-8"))
    }
    if (expected == null) expected = readExpected(expectedFile)
    Names.flatMap { n =>
      (results.get(n), expected.get(n)) match {
        case (Some(got), Some(want)) if got == want => Nil
        case (Some(got), Some(want)) => Seq(s"query_mix: $n gave $got, recorded $want")
        case (None, _) => Nil // failed while measured, already counted
        case (_, None) => Seq(s"query_mix: no recorded result for $n")
      }
    }
  }

  def corruptOne(): Unit = {
    val n = expected.keys.min
    expected = expected.updated(n, (expected(n)._1 + 1, expected(n)._2))
  }

  override def notes: Map[String, Any] = Map(
    "queries" -> passes.lastOption.getOrElse(Map.empty).map { case (n, (c, p, e)) =>
      n -> Map("construction_s" -> c, "planning_s" -> p, "execution_s" -> e) },
    "passes" -> passes.size)
}

object QueryMix {
  val InputSeed = 0L
  /** One query whose time goes to driver-side construction (a ROADMAP
    * baseline query: quantizer training loops), one whose time goes to
    * execution (and which logs DAGScheduler "non-existent accumulator"
    * errors). */
  val Names: Seq[String] = Seq("p151_quantizer_churn", "p14_minhash_neardup")

  /** Floating values rounded to 6 decimals before hashing, so a different
    * summation order cannot change the hash. */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(e, _) => transform(c, x => norm(x, e))
    case StructType(fs) => struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case _: MapType => to_json(map_entries(c))
    case _ => c
  }

  /** row count and the order-independent sum of per-row xxhash64 values */
  def countAndHash(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType)).toIndexedSeq: _*)
    val r = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  def readExpected(p: Path): Map[String, (Long, String)] = {
    if (!Files.exists(p)) return Map.empty
    val n = Delivered.parse(new String(Files.readAllBytes(p), "UTF-8"))
    import scala.jdk.CollectionConverters._
    n.fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("hash").asText())
    }.toMap
  }
}
