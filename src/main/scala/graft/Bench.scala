package graft
import org.apache.spark.sql.SparkSession

/** Benchmark harness: executes every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. Each query is fully materialized through a
  * `noop` write (not `.count()`, which lets Catalyst prune final projections
  * and under-measures vs what Verify executes). A failing query is reported
  * in an "errors" object — never as a (fast) timing — but the process still
  * exits 0 so the healthy queries' timings survive into the round record
  * (round-10 postmortem: rc=1 made the driver drop ALL 55 healthy timings).
  * Non-zero exit is reserved for harness-level failure (bad session, JSON
  * emission itself failing), which the JVM signals by an uncaught throw.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: scan each input table and run one tiny representative of
    // the codegen shapes (HOF fold + custom expressions + agg + join), so
    // JVM/session/whole-stage-codegen startup is not billed to whichever
    // query happens to run first (it was ~5s of p01 in round 1, still
    // ~1.7s in round 2's scan-only warm-up).
    try {
      import org.apache.spark.sql.functions._
      graft.sources.Tables.events(spark, sfDir).count()
      val docs = graft.sources.Tables.documents(spark, sfDir).limit(64)
      val emb = graft.sources.Tables.embeddings(spark, sfDir).limit(64)
      docs.select(graft.functions.TextPrims.charHash(col("text")).as("h"),
          aggregate(split(col("text"), " "), lit(0L), (a, t) => a + length(t)).as("f"))
        .groupBy(col("h") % 7).agg(sum("f")).count()
      emb.as("a").join(emb.as("b"), col("a.vec_id") === col("b.vec_id"))
        .select(graft.functions.AnnPrims.cosine(col("a.embedding"), col("b.embedding")))
        .count()
      // iterative shape: a 3-pair duplicateGroups warms the localCheckpoint
      // + window/agg round machinery so the real p37 isn't billed its
      // one-time codegen/classloading (same rationale as the scan warm-up)
      import spark.implicits._
      graft.text.TextDedup.duplicateGroups(
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b"), "doc_a", "doc_b")
        .count()
    } catch { case e: Throwable =>
      // a dead warm-up silently lands its cost on the first query's timing
      // (round-11 verdict item 2) — one line so the skew is attributable
      System.err.println(s"bench: warm-up failed (${e.getClass.getSimpleName}: " +
        s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}) — " +
        "first query's timing will absorb startup cost")
    }
    // SPARK_GRAFT_ONLY=p37,p60 limits the run to matching query-name
    // prefixes — an iteration aid; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    def selected(name: String) = only.forall(_.exists(name.startsWith))
    var failed = Map.empty[String, String]
    // data-contract preflight: surface testdata drift as ONE clear line per
    // column (and an "_contract" errors entry) before any query can die on it
    graft.sources.Contract.probe(spark, sfDir) match {
      case Nil => ()
      case drift =>
        drift.foreach(l => System.err.println(s"[bench][contract] $l"))
        failed += "_contract" -> drift.mkString("; ")
    }
    // Multi-phase pipelines (e.g. p50: 3 Lloyd training passes, then a
    // search) report per-phase sub-entries beside the combined total
    // (round-5 verdict item 8) — timed through DocAnalytics.phasedQueries,
    // the exact code path the registered query runs, so the benchmarked
    // and verified pipelines cannot drift (round-6 advice).
    var phases = Seq.empty[(String, Double)]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(q => selected(q._1)).map { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        graft.ops.DocAnalytics.phasedQueries.get(name) match {
          case Some((finalPhase, pf)) =>
            // phases buffer locally and publish only on success — a query
            // that fails mid-pipeline must not leave orphan phase entries
            // beside its error record
            var tPrev = t0
            val local = Seq.newBuilder[(String, Double)]
            pf(spark, sfDir, phase => {
              val now = System.nanoTime()
              local += s"$name:$phase" -> ((now - tPrev) / 1e9)
              tPrev = now
            }).write.format("noop").mode("overwrite").save()
            local += s"$name:$finalPhase" -> ((System.nanoTime() - tPrev) / 1e9)
            phases ++= local.result()
          case None => fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
      } catch {
        case e: Throwable =>
          failed += name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val ok = results.filter { case (n, _) => !failed.contains(n) }
    val qs = (ok ++ phases).map { case (k, v) => Json.quote(k) + ":" + v }.mkString("{", ",", "}")
    val errs = failed.map { case (k, v) => Json.quote(k) + ":" + Json.quote(v) }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    println(line)
    // Also persist the record to a file: the driver captures stdout with a
    // bounded tail, which truncated round 7's record mid-map and lost the
    // p01–p30 timings. The file keeps the full per-query map regardless of
    // how much console scrollback survives. Best-effort — an unwritable
    // path must not fail an otherwise-green bench.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_records/last_bench.json"))
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"bench: could not persist record: ${e.getMessage}")
    }
    spark.stop()
  }
}
