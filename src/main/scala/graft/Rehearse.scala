package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ann.{ProductQuantizer, Similarity}
import graft.ops.Adaptive
import graft.text.{TextCuration, TextDedup}

/** One runner for the dev rehearsals — scale ladders, skew probes, plan
  * dumps and streaming soaks. The first argument names a rung; the rest
  * are that rung's positional arguments:
  *
  *   sbt "runMain graft.Rehearse <rung> [args...]"
  *
  * A rung owns no session: [[main]] builds the measurement session every
  * curve in bench_records/ was recorded under, runs the rung and stops the
  * session. Heap comes from the forked JVM only — set SPARK_DRIVER_MEM
  * before sbt (build.sbt reads it); `spark.driver.memory` here would be a
  * no-op. Every rung prints one JSON line per measurement through [[emit]];
  * the `op` and field names are the ones the committed records use.
  *
  * Synthetic inputs on purpose ([[Synth]]): the real sf dirs stop at
  * 5 000 docs/vectors, and each rung's cost drivers are controlled there
  * explicitly. Every input is persisted + counted before timing so each
  * figure is pure operator compute. */
object Rehearse {

  type Rung = (SparkSession, Seq[String]) => Unit

  val rungs: Map[String, Rung] = Map(
    "scale" -> scale _,
    "corpus" -> corpus _,
    "ann" -> ann _,
    "neardup" -> nearDup _,
    "cells" -> cells _,
    "deploy_ann" -> deployAnn _,
    "funnel" -> funnel _,
    "pack_funnel" -> packFunnel _,
    "bpe_ladder" -> bpeLadder _,
    "skew" -> skew _,
    "bucket" -> bucket _,
    "cc" -> cc _,
    "plan" -> plan _,
    "stream_state" -> RehearseStreams.streamState _,
    "composed_stream" -> RehearseStreams.composedStream _,
    "soak" -> RehearseStreams.soak _)

  def main(args: Array[String]): Unit = {
    // resolve the rung first: a typo must not pay for a session
    val r = rung(args.headOption.getOrElse(""))
    val spark = session()
    try r(spark, args.toSeq.drop(1)) finally spark.stop()
  }

  /** Run the rung `args.head` names on `spark`, leaving the session open. */
  def run(spark: SparkSession, args: Seq[String]): Unit =
    rung(args.headOption.getOrElse(""))(spark, args.drop(1))

  private def rung(name: String): Rung = rungs.getOrElse(name,
    throw new IllegalArgumentException(s"unknown rung '$name'; valid rungs: " +
      rungs.keys.toSeq.sorted.mkString(", ")))

  /** local[SPARK_GRAFT_CPUS] session with shuffle partitions = cpus, UTC,
    * no UI, ERROR log level — one place for the config, so a knob change
    * (AQE, memory, shuffle sizing) cannot leave rungs measuring under
    * silently different configs. */
  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** (wall-clock seconds, result) of `f`. */
  def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Wall-clock seconds of `f`. */
  private def time[A](f: => A): Double = timed(f)._1

  /** Materialize a frame through the noop sink (full execution, no
    * collect, no disk). */
  private def mat(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Build, persist and count `f`: (seconds for all three, the frame). */
  private def persisted(f: => DataFrame): (Double, DataFrame) =
    timed { val d = f.persist(); d.count(); d }

  /** `d` rounded half-up to `places` decimals, as the records print it. */
  def dec(d: Double, places: Int = 2): BigDecimal =
    BigDecimal(d).setScale(places, BigDecimal.RoundingMode.HALF_UP)

  /** Print one record line `{"op":op, fields...}`. Strings are quoted,
    * `None` is null, `Some` its value, a `Seq` an array, and anything
    * else (numbers, [[dec]] values) its `toString`. */
  def emit(op: String, fields: (String, Any)*): Unit = {
    def render(v: Any): String = v match {
      case None => "null"
      case Some(x) => render(x)
      case s: String => Json.quote(s)
      case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
      case x => x.toString
    }
    println((("op" -> op) +: fields)
      .map { case (k, v) => Json.quote(k) + ":" + render(v) }
      .mkString("{", ",", "}"))
  }

  /** The positional sizes, or the rung's default ladder. */
  private def sizes(args: Seq[String], default: Long*): Seq[Long] =
    if (args.nonEmpty) args.map(_.toLong) else default

  /** The corpus SPARK_GRAFT_CORPUS names: `zipf50k` is the Zipfian twin,
    * anything else the uniform one. */
  private def namedCorpus(spark: SparkSession, cname: String, n: Long): DataFrame =
    cname match {
      case "zipf50k" => Synth.synthCorpusZipf(spark, n)
      case _         => Synth.synthCorpus(spark, n)
    }

  /** Fraction of the exact (query, neighbor) pairs `approx` also returns. */
  private def recall(exact: DataFrame, approx: DataFrame): Double = {
    val e = exact.select("query_id", "neighbor_id")
    val hits = e.join(approx.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id")).count()
    hits.toDouble / e.count()
  }

  /** `scale [rows...]` (default 1M 10M 100M): the LOW-KEY-CARDINALITY
    * window remedies (p52's bucketed percentiles, p76's ranged trailing
    * frame) against the naive definitional plans (one full sort per key),
    * 3 keys throughout — the exact shape where a per-key window's
    * parallelism collapses to 3 tasks. Curves: bench_records/r8_scaling.md. */
  private def scale(spark: SparkSession, args: Seq[String]): Unit = {
    val qs = Seq(0.5, 0.9, 0.99)
    // the naive plans are O(n × frame) in 3 tasks — past this cap they run
    // for tens of minutes and the curve's point is already made
    val naiveMax = sys.env.getOrElse("SCALE_NAIVE_MAX", "20000000").toLong
    for (n <- sizes(args, 1000000L, 10000000L, 100000000L)) {
      // 3 keys; per-key times tick ~1/s (trailing hour ≈ 1200 rows in
      // frame); values are a deterministic hash mix with heavy low-end
      // ties (the duration distribution's shape)
      val df = spark.range(n).select(
        concat(lit("lot"), (col("id") % 3).cast("string")).as("key"),
        (col("id") / 3).as("t"),
        pmod(hash(col("id")), lit(10000)).cast("long").as("v")).persist()
      df.count() // materialize once so every plan times pure compute

      val ranged = time {
        graft.ops.RangedWindow.trailingCount(df, Seq("key"), "t", 3599L,
          numRanges = 32, out = "c").agg(sum("c")).head()
      }
      val naiveW = Option.when(n <= naiveMax)(time {
        val w = Window.partitionBy("key").orderBy(col("t").cast("long"))
          .rangeBetween(-3599, Window.currentRow)
        df.withColumn("c", count(lit(1)).over(w)).agg(sum("c")).head()
      })
      val bucketed = time {
        graft.ops.Percentiles.exactRankSelect(df, "key", "v", qs).collect()
      }
      val naiveP = Option.when(n <= naiveMax)(time {
        val byKey = Window.partitionBy("key")
        df.withColumn("rn", row_number().over(byKey.orderBy("v")))
          .withColumn("nn", count(lit(1)).over(byKey))
          .filter(qs.map(q =>
            col("rn") === greatest(lit(1), ceil(lit(q) * col("nn"))).cast("int"))
            .reduce(_ || _))
          .collect()
      })
      df.unpersist(false)
      emit("trailing_window", "rows" -> n, "ranged_sec" -> dec(ranged),
        "naive_sec" -> naiveW.map(dec(_)))
      emit("percentiles", "rows" -> n, "bucketed_sec" -> dec(bucketed),
        "naive_sec" -> naiveP.map(dec(_)))
    }
  }

  /** `corpus [docs...]` (default 5k 50k 500k): the ITERATIVE /
    * corpus-shaped operators the round-7 verdict flagged as "argued,
    * never measured past sf0.1" — exact dedup (p13), MinHash-LSH near-dup
    * (p14), df-capped n-gram Jaccard (p15b), sequence packing (p82), span
    * dedup/scrub, novelty, LM scoring, winnowing, scoped dedup,
    * representatives, CC dedup groups (p37 family) and the ranged as-of
    * join (p44) — at ~1×/10×/100× of sf0.1's volume (5 000 docs × ~300
    * chars). The CURVE — how cost bends with n — is what is measured.
    * SPARK_GRAFT_OPS=ngram,cc limits the run to op-name prefixes and
    * SPARK_GRAFT_CORPUS=zipf50k to one ladder corpus — targeted-rung aids
    * so one comparison doesn't pay the whole ladder. Heap: the 100×/30M
    * rungs want SPARK_DRIVER_MEM ≥ 32g. */
  private def corpus(spark: SparkSession, args: Seq[String]): Unit = {
    val docSizes = sizes(args, 5000L, 50000L, 500000L)
    val opsFilter = sys.env.get("SPARK_GRAFT_OPS").map(_.split(",").toSeq)
    def opOn(op: String) = opsFilter.forall(_.exists(op.startsWith))
    val corpusFilter = sys.env.get("SPARK_GRAFT_CORPUS")

    // every op the doc-corpus block can report: when SPARK_GRAFT_OPS selects
    // none of them (e.g. a targeted dedup_groups_cc/asof_ranged rung), skip
    // synthesizing and persisting the corpora entirely (round-11 advice —
    // targeted rungs were paying the full corpus-build cost for zero reports)
    val corpusOps = Seq("exact_dedup", "minhash_neardup", "ngram_jaccard_df64",
      "ngram_jaccard_df64_prefix", "sequence_packing", "span_dedup",
      "span_scrub", "bigram_novelty", "group_representative",
      "lm_surprisal", "scoped_dedup", "winnowing_pairs")
    for (n <- docSizes if corpusOps.exists(opOn)) {
      for ((cname, gen) <- Seq(
          "uniform5k" -> Synth.synthCorpus(spark, n),
          "zipf50k" -> Synth.synthCorpusZipf(spark, n))
          if corpusFilter.forall(_ == cname)) {
        val corpus = gen.persist()
        corpus.count()
        def report(op: String, sec: => Double): Unit = if (opOn(op))
          emit(op, "corpus" -> cname, "docs" -> n, "sec" -> dec(sec))
        report("exact_dedup",
          time(mat(TextDedup.exactDedup(corpus, "doc_id", "text"))))
        report("minhash_neardup",
          time(mat(TextDedup.minhashNearDup(corpus, "doc_id", "text"))))
        report("ngram_jaccard_df64", time(mat(TextDedup.ngramJaccardPairs(
          corpus, "doc_id", "text", TextDedup.MaxDf(64)))))
        // the prefix-filtered twin at the same cap — identical output
        // (spec-pinned), different candidate generation; the ladder is
        // where the counting-vs-prefix winner is decided
        report("ngram_jaccard_df64_prefix", time(mat(TextDedup.ngramJaccardPrefix(
          corpus, "doc_id", "text", TextDedup.MaxDf(64)))))
        report("sequence_packing",
          time(mat(TextCuration.sequencePacking(corpus, "doc_id", "text"))))
        report("span_dedup",
          time(mat(TextDedup.spanDedup(corpus, "doc_id", "text"))))
        // the p88/p89/p90 family. span scrub: benchmark = every 20th doc
        // (~5%), the held-out-set shape; novelty: the fused p88 query
        // (train split inside)
        report("span_scrub", time(mat(TextDedup.spanScrub(
          corpus, corpus.filter(pmod(col("doc_id"), lit(20)) === 0),
          "doc_id", "text"))))
        report("bigram_novelty",
          time(mat(graft.text.TextStats.bigramNovelty(corpus, "doc_id", "text"))))
        // the p138 LM scorer (train split inside, one frozen model
        // exchange) and the p141 scope report (one hash-only occurrence
        // exchange; scope = 20-way synthetic source split)
        report("lm_surprisal",
          time(mat(graft.text.TextStats.lmSurprisal(corpus, "doc_id", "text"))))
        // the p158 winnowing miner at the shipped cap-16 — the
        // fingerprint index is ~1/w of the gram index, so its curve
        // should sit well under ngram_jaccard's at every rung
        report("winnowing_pairs", time(mat(TextDedup.winnowingPairs(
          corpus, "doc_id", "text", TextDedup.MaxDf(16)))))
        report("scoped_dedup", time(mat(TextDedup.scopedDedupReport(
          corpus.withColumn("source",
            concat(lit("s"), pmod(col("doc_id"), lit(20)).cast("string"))),
          "doc_id", "text", "source"))))
        // representative (p89): time the NEW stage — the argmax riding
        // the group shuffle — over precomputed groups/quality, so the
        // figure isn't dominated by the already-laddered simhash+CC
        if (opOn("group_representative")) {
          val groups = TextDedup.duplicateGroups(
            TextDedup.simhashNearDup(corpus, "doc_id", "text"),
            "doc_a", "doc_b").persist()
          val quality = graft.text.TextStats.stats(corpus, "doc_id", "text")
            .select(col("id").as("doc_id"), col("quality_score")).persist()
          groups.count(); quality.count()
          report("group_representative", time(mat(
            groups.join(quality, Seq("doc_id"))
              .groupBy("group_id")
              .agg(count(lit(1)).as("group_size"),
                max(struct(col("quality_score"), (-col("doc_id")).as("neg"),
                  col("doc_id"))).as("best"))
              .select(col("group_id"), col("best.doc_id").as("rep_id"),
                col("group_size")))))
          groups.unpersist(false); quality.unpersist(false)
        }
        corpus.unpersist(false)
      }
    }

    // CC: 1M / 10M edges take the single-task union-find path (≤ the 10M
    // threshold); 30M takes the iterative min-label loop — both sides of
    // the adaptive switch appear in the curve
    for (n <- Seq(1000000L, 10000000L, 30000000L) if opOn("dedup_groups_cc")) {
      val edges = Synth.synthEdges(spark, n).persist()
      edges.count()
      val sec = time(mat(TextDedup.duplicateGroups(edges, "doc_a", "doc_b")))
      edges.unpersist(false)
      emit("dedup_groups_cc", "edges" -> n, "sec" -> dec(sec))
    }

    // ranged as-of (p44 shape): 3 keys, snapshots every 100th tick,
    // adaptive range count (the operator's default)
    for (n <- Seq(1000000L, 10000000L, 100000000L) if opOn("asof_ranged")) {
      val left = spark.range(n).select(
        concat(lit("lot"), pmod(col("id"), lit(3)).cast("string")).as("key"),
        (col("id") / 3).as("t"), col("id").as("left_id")).persist()
      val right = spark.range(0L, n, 100L).select(
        concat(lit("lot"), pmod(col("id"), lit(3)).cast("string")).as("key"),
        (col("id") / 3).as("rt"), (col("id") * 7).as("payload")).persist()
      left.count(); right.count()
      val sec = time(mat(graft.ops.AsOfJoin.asOfRanged(
        left, right, Seq("key"), "t", "rt", Seq("payload"))))
      left.unpersist(false); right.unpersist(false)
      emit("asof_ranged", "rows" -> n, "sec" -> dec(sec))
    }
  }

  /** `ann [vectors...]` (default 5k 50k 500k): the ANN family —
    * brute-force vs sign-LSH vs IVF vs multi-table LSH vs the PQ tiers —
    * on [[Synth.synthEmbeddings]] at 10×/100× of sf0.1's embedding
    * volume, with recall@k against the exact answer at every rung so
    * speed is never quoted without its quality price. 20 fixed queries
    * (vec_id < 20), k = 5. */
  private def ann(spark: SparkSession, args: Seq[String]): Unit = {
    val pred = col("vec_id") < 20
    for (n <- sizes(args, 5000L, 50000L, 500000L)) {
      val emb = Synth.synthEmbeddings(spark, n).persist()
      emb.count()
      val (tBf, exact) = persisted(
        Similarity.knnBruteForce(emb, "vec_id", "embedding", pred))
      val (tLsh, lsh) = persisted(Similarity.knnLsh(emb, "vec_id", "embedding",
        pred, nPlanes = Adaptive.Auto))
      val (tIvf, ivf) = persisted(Similarity.knnIvf(emb, "vec_id", "embedding",
        pred, nCells = Adaptive.Auto))
      // multi-table OR-construction, adaptive tables × planes: the scale
      // path for single-table LSH's recall collapse (0.02 at 500k)
      val (tMulti, multi) = persisted(Similarity.knnLshMulti(emb, "vec_id",
        "embedding", pred, tables = Adaptive.Auto, planesPerTable = Adaptive.Auto))
      // PQ tier: train-once cost, one-pass encode throughput (the
      // index-build step a deployment pays once and stores), then
      // exhaustive-ADC and IVF-PQ search at the p105/p106 config (m=8,
      // k=16). Coarse cells follow the sqrt rule the IVF rung uses.
      val (tPqTrain, cb) = timed(
        ProductQuantizer.trainCodebooks(emb, "vec_id", "embedding"))
      val tPqEncode = time(
        mat(ProductQuantizer.encode(emb, "vec_id", "embedding", cb)))
      val (tPq, pq) = persisted(
        ProductQuantizer.knnPq(emb, "vec_id", "embedding", pred, cb))
      val nCellsPq = Adaptive.ivfCells(n)
      val centsPq = Similarity.lowestIdCentroids(emb, "vec_id", "embedding", nCellsPq)
      val (tIvfPq, ivfpq) = persisted(ProductQuantizer.knnIvfPq(emb, "vec_id",
        "embedding", pred, centsPq, cb, nProbe = 2))
      // the deployment split: index built (and stored) once at ingest,
      // then each query batch pays only probe + ADC over its cells
      val (tPqIndex, pqIdx) = persisted(
        ProductQuantizer.pqIndex(emb, "vec_id", "embedding", centsPq, cb))
      val qset = emb.filter(pred).select(
        col("vec_id").as("query_id"), col("embedding").as("qe")).persist()
      qset.count()
      val (tIdxSearch, idxSearch) = persisted(
        ProductQuantizer.searchIndex(pqIdx, qset, centsPq, nProbe = 2))
      // LUT-ADC deployment split: codes-only residual index + per-probe
      // m·k distance tables, candidates cost m lookups — at the SAME
      // (m, k) budget as the decode-ADC rung above, and at the
      // production m=16/k=256 residual config
      val resCb = ProductQuantizer.trainResidualCodebooks(emb, "vec_id",
        "embedding", centsPq, m = ProductQuantizer.DefaultM,
        k = ProductQuantizer.DefaultK)
      val (tResIdx, resIdx) = persisted(ProductQuantizer.residualCodesIndex(
        emb, "vec_id", "embedding", centsPq, resCb))
      val (tLutSearch, lutSearch) = persisted(ProductQuantizer
        .searchResidualIndexLut(resIdx, qset, centsPq, resCb, nProbe = 2))
      // decode-ADC over the SAME residual config — the apples-to-apples
      // LUT-vs-decode comparison (the raw-codes pq_index_search rung
      // above quantizes different vectors, so its recall differs)
      val (tDecIdx, decIdx) = persisted(ProductQuantizer.residualIndex(
        emb, "vec_id", "embedding", centsPq, resCb))
      val (tDecSearch, decSearch) = persisted(ProductQuantizer
        .searchResidualIndex(decIdx, qset, centsPq, nProbe = 2))
      val resCb256 = ProductQuantizer.trainResidualCodebooks(emb, "vec_id",
        "embedding", centsPq, m = 16, k = 256)
      val (tResIdx256, resIdx256) = persisted(ProductQuantizer
        .residualCodesIndex(emb, "vec_id", "embedding", centsPq, resCb256))
      val (tLutSearch256, lutSearch256) = persisted(ProductQuantizer
        .searchResidualIndexLut(resIdx256, qset, centsPq, resCb256, nProbe = 2))
      // adaptive-plane bucket occupancy: with lshPlanes(n) the expected
      // members per bucket must stay ~flat across rungs (a fixed plane
      // count would grow it linearly — the round-8 parameter bound)
      val planes = Adaptive.lshPlanes(n)
      val occ = emb.select(graft.functions.AnnPrims
          .signBucket(col("embedding"), 0, planes).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("c"))
        .agg(max("c").as("mx"), avg("c").as("av"), count(lit(1)).as("nb"))
        .head()
      def r(approx: DataFrame) = dec(recall(exact, approx), 3)
      val pqCells = Seq("cells" -> nCellsPq, "nprobe" -> 2)
      emit("knn_bruteforce", "vecs" -> n, "sec" -> dec(tBf), "recall" -> 1.0)
      emit("knn_lsh", "vecs" -> n, "sec" -> dec(tLsh), "recall" -> r(lsh))
      emit("lsh_occupancy", "vecs" -> n, "planes" -> planes,
        "buckets_hit" -> occ.getLong(2), "max_bucket" -> occ.getLong(0),
        "avg_bucket" -> dec(occ.getDouble(1), 1))
      emit("knn_ivf_auto", "vecs" -> n, "sec" -> dec(tIvf), "recall" -> r(ivf))
      emit("knn_lsh_multi_auto", "vecs" -> n, "sec" -> dec(tMulti),
        "recall" -> r(multi), "tables" -> Adaptive.lshMultiTables(planes),
        "planes_per_table" -> planes)
      emit("pq_train", "vecs" -> n, "sec" -> dec(tPqTrain))
      emit("pq_encode", "vecs" -> n, "sec" -> dec(tPqEncode))
      emit("knn_pq_adc", "vecs" -> n, "sec" -> dec(tPq), "recall" -> r(pq))
      emit("knn_ivfpq", Seq("vecs" -> n, "sec" -> dec(tIvfPq),
        "recall" -> r(ivfpq)) ++ pqCells: _*)
      emit("pq_index_build", "vecs" -> n, "sec" -> dec(tPqIndex))
      emit("pq_index_search", Seq("vecs" -> n, "sec" -> dec(tIdxSearch),
        "recall" -> r(idxSearch)) ++ pqCells: _*)
      emit("pqr_codes_index_build", "vecs" -> n, "sec" -> dec(tResIdx),
        "m" -> 8, "k" -> 16)
      emit("pqr_lut_search", Seq("vecs" -> n, "sec" -> dec(tLutSearch),
        "recall" -> r(lutSearch), "m" -> 8, "k" -> 16) ++ pqCells: _*)
      emit("pqr_decode_index_build", "vecs" -> n, "sec" -> dec(tDecIdx),
        "m" -> 8, "k" -> 16)
      emit("pqr_decode_search", Seq("vecs" -> n, "sec" -> dec(tDecSearch),
        "recall" -> r(decSearch), "m" -> 8, "k" -> 16) ++ pqCells: _*)
      emit("pqr_codes_index_build_256", "vecs" -> n, "sec" -> dec(tResIdx256),
        "m" -> 16, "k" -> 256)
      emit("pqr_lut_search_256", Seq("vecs" -> n, "sec" -> dec(tLutSearch256),
        "recall" -> r(lutSearch256), "m" -> 16, "k" -> 256) ++ pqCells: _*)
      // IVFADC+R: exact re-rank of the LUT shortlist against the source
      // vectors — same probes, so the delta over the LUT rung is pure
      // quantization recovery; cost is the widened shortlist's LUT pass +
      // kShort exact distances per query (broadcast joins, corpus
      // streamed). kShort sweep shows the recall/latency knee.
      for (kShort <- Seq(10, 30, 100)) {
        val (tRr, rr) = persisted(ProductQuantizer.rerankExact(
          ProductQuantizer.searchResidualIndexLut(resIdx256, qset,
            centsPq, resCb256, k = kShort, nProbe = 2),
          emb, "vec_id", "embedding", qset))
        emit("pqr_rerank_256", Seq("vecs" -> n, "sec" -> dec(tRr),
          "recall" -> r(rr), "kshort" -> kShort, "m" -> 16, "k" -> 256) ++
          pqCells: _*)
        rr.unpersist(false)
      }
      Seq(exact, lsh, ivf, multi, pq, ivfpq, pqIdx, qset, idxSearch, resIdx,
        lutSearch, decIdx, decSearch, resIdx256, lutSearch256, emb)
        .foreach(_.unpersist(false))
    }
  }

  /** `neardup [vectors...]` (default 100k 1M): the ≥1M-vector rung for
    * the embedding near-dup miner ([[Similarity.nearDupPairs]]) on
    * [[Synth.synthWithPlanted]] — proves the DERIVED plane count
    * ([[Adaptive.lshPlanes]], passed as `Adaptive.Auto`) keeps
    * sign-bucket occupancy under the hot-bucket cap where the shipped
    * fixed-4-plane config saturates. Per mode: `neardup_occupancy`
    * (buckets over the cap and the rows they strand — a stranded row
    * joins NO candidate pair from that table), then the miner's speed and
    * planted-pair recall. At 1M vectors every fixed-4 bucket exceeds the
    * cap, so `neardup_fixed4` returns ~0 pairs — the honest demonstration
    * of the saturation flag. */
  private def nearDup(spark: SparkSession, args: Seq[String]): Unit = {
    val cap = TextDedup.DefaultMaxBucket
    for (n <- sizes(args, 100000L, 1000000L)) {
      val emb = Synth.synthWithPlanted(spark, n).persist()
      emb.count()
      val planted = spark.range(9L, n, 10L)
        .select((col("id") - 9).as("vec_a"), col("id").as("vec_b"))
      val nPlanted = planted.count()

      val autoPpt = Adaptive.lshPlanes(n, floor = 4, cap = 20,
        bucketRows = Adaptive.MinerBucketRows)
      // auto8: the recall-recovery lever for the hot-bucket stranding the
      // auto rung shows (r15_neardup_1m.md) — the lshMultiTables pairing
      // (8 tables at 16 planes) doubles the OR-construction so a pair
      // stranded in one table's hot bucket gets 7 more chances; banding
      // cost doubles, candidate volume stays ~n·16·tables
      for ((mode, ppt, tables) <- Seq(("fixed4", 4, 4), ("auto", autoPpt, 4),
                                      ("auto8", autoPpt, 8))) {
        // per-(table, bucket) occupancy — exactly the frame nearDupPairs
        // feeds its hot-bucket gate
        val occ = emb.select(explode(array((0 until tables).map(t =>
            struct(lit(t).as("tbl"), graft.functions.AnnPrims
              .signBucket(col("embedding"), t * ppt, ppt).as("bucket"))): _*))
            .as("bb"))
          .groupBy(col("bb.tbl"), col("bb.bucket")).agg(count(lit(1)).as("m"))
          .agg(count(lit(1)), max("m"),
            sum(when(col("m") > cap, lit(1)).otherwise(lit(0))),
            sum(when(col("m") > cap, col("m")).otherwise(lit(0))))
          .head()
        emit("neardup_occupancy", "vecs" -> n, "mode" -> mode, "planes" -> ppt,
          "tables" -> tables, "buckets_hit" -> occ.getLong(0),
          "max_bucket" -> occ.getLong(1), "over_cap" -> occ.getLong(2),
          "rows_stranded" -> occ.getLong(3), "cap" -> cap)
        val (t, pairs) = persisted(Similarity.nearDupPairs(emb, "vec_id",
          "embedding", tables = tables,
          planesPerTable = if (mode == "fixed4") 4 else Adaptive.Auto))
        val hit = planted.join(pairs, Seq("vec_a", "vec_b")).count()
        emit(s"neardup_$mode", "vecs" -> n, "sec" -> dec(t), "planes" -> ppt,
          "tables" -> tables, "pairs" -> pairs.count(), "planted" -> nPlanted,
          "planted_recall" -> dec(hit.toDouble / nPlanted, 3))
        pairs.unpersist(false)
      }
      emb.unpersist(false)
    }
  }

  /** `cells [nCells...]` (default 707 2000 5000 10000 20000): IVF cell
    * assignment must scale in CELL count, not just row count (the √n rule
    * puts a 100 TB corpus at ~10⁵ cells). Per-vector argmax over a fixed
    * 200k-vector corpus as nCells grows, on both paths: `literal` (one
    * expression node per centroid, so analysis/codegen cost grows with
    * the cell count — attempted only up to 5 000 cells, beyond which it is
    * the known failure mode) and `fused` ([[graft.functions.CellArgmax]]:
    * the centroid matrix rides codegen as ONE reference object). Also the
    * full fused search and the two-level nested assignment with its
    * agreement against the flat argmax. */
  private def cells(spark: SparkSession, args: Seq[String]): Unit = {
    val corpusRows = 200000L
    val literalCap = 5000
    val emb = Synth.synthEmbeddings(spark, corpusRows).persist()
    emb.count()
    for (nCells <- sizes(args, 707, 2000, 5000, 10000, 20000).map(_.toInt)) {
      val cents = Similarity.lowestIdCentroids(emb, "vec_id", "embedding", nCells)
      val tFused = time {
        mat(emb.select(col("vec_id"),
          graft.functions.CellArgmax(col("embedding"), cents).as("cell")))
      }
      emit("assign_fused", "vecs" -> corpusRows, "cells" -> nCells, "sec" -> dec(tFused))
      if (nCells <= literalCap) {
        val tLit = time {
          mat(emb.select(col("vec_id"),
            Similarity.cellOfSpec(col("embedding"), cents).as("cell")))
        }
        emit("assign_literal", "vecs" -> corpusRows, "cells" -> nCells, "sec" -> dec(tLit))
      } else {
        emit("assign_literal", "vecs" -> corpusRows, "cells" -> nCells, "sec" -> None,
          "skipped" -> s"literal plan beyond $literalCap cells")
      }
      // the full search at this cell count on the fused path: probes +
      // broadcast join + top-k, the end-to-end cost a deployment sees
      val nProbe = math.max(2, nCells / 100)
      val tSearch = time {
        mat(Similarity.knnIvfWith(emb, "vec_id", "embedding",
          col("vec_id") < 20, cents, nProbe = nProbe))
      }
      emit("ivf_search_fused", "vecs" -> corpusRows, "cells" -> nCells,
        "nprobe" -> nProbe, "sec" -> dec(tSearch))
      // two-level nested assignment: √-sized supercluster layer trained
      // driver-side over the CELL TABLE; per-row cost
      // ~O((√nCells·(1+w))·dim) instead of O(nCells·dim), agreement vs
      // the flat argmax quoted beside every speed number — on the
      // uniform corpus (agreement's worst case: no cluster structure,
      // near-flat cosine margins) AND a planted-cluster corpus with
      // real-data-shaped structure
      for ((corpusName, corpus) <- Seq(
          "uniform" -> emb,
          "clustered" -> Synth.synthClustered(spark, corpusRows, nCells / 4).persist())) {
        corpus.count()
        val ccents = if (corpusName == "uniform") cents
          else Similarity.lowestIdCentroids(corpus, "vec_id", "embedding", nCells)
        val (tTrain2, (supers, cellsW)) = timed(Similarity.trainTwoLevel(ccents))
        val flatDf = corpus.select(col("vec_id"),
          graft.functions.CellArgmax(col("embedding"), ccents).as("flat"))
          .persist()
        flatDf.count()
        for (w <- Seq(2, 4)) {
          val (tNested, nested) = persisted(corpus.select(col("vec_id"),
            Similarity.cellOfTwoLevel(col("embedding"), supers, cellsW, w).as("cell")))
          val agreeRow = nested.join(flatDf, "vec_id")
            .agg(sum((col("cell") === col("flat")).cast("long")), count(lit(1)))
            .head()
          nested.unpersist(false)
          emit("assign_two_level", "corpus" -> corpusName, "vecs" -> corpusRows,
            "cells" -> nCells, "supers" -> supers.length, "w" -> w,
            "train_sec" -> dec(tTrain2), "sec" -> dec(tNested),
            "agree" -> dec(agreeRow.getLong(0).toDouble / agreeRow.getLong(1), 4))
        }
        flatDf.unpersist(false)
        if (corpusName == "clustered") corpus.unpersist(false)
      }
    }
    emb.unpersist(false)
  }

  /** `deploy_ann [vectors...]` (default 1M 10M; SPARK_DRIVER_MEM=48g):
    * the p128/p129 persisted-index flow at miner-rung scale — train a
    * derived-size coarse quantizer + residual PQ codebooks (production
    * m=16/k=256), encode, WRITE the cell-partitioned codes store, then
    * search it with static partition pruning and exact re-rank, with the
    * cell count following the sqrt rule ([[Adaptive.ivfCells]]). The claim
    * under test is the one PartitionedAnnIndexSpec pins at 16 cells:
    * partitions read = probed cells, HELD where directory-per-cell is at
    * its documented limit. Corpus: [[Synth.synthClustered]] with
    * nClusters = nCells (uniform vectors would spread every probe across
    * all cells). */
  private def deployAnn(spark: SparkSession, args: Seq[String]): Unit = {
    for (n <- sizes(args, 1000000L, 10000000L)) {
      val nCells = Adaptive.ivfCells(n)
      val emb = Synth.synthClustered(spark, n, nCells).persist()
      emb.count()
      val dir = Files.createTempDirectory("graft-deploy-ann").toString + "/codes_index"

      // 1. train: coarse centroids + residual codebooks. Training
      // re-derives the residual frame per pass over the PERSISTED source
      // vectors — the deployment boundary.
      val (tTrain, (cents, cb)) = timed {
        val cents = Similarity.lowestIdCentroids(emb, "vec_id", "embedding", nCells)
        (cents, ProductQuantizer.trainResidualCodebooks(
          emb, "vec_id", "embedding", cents, m = 16, k = 256))
      }
      emit("deploy_ann_train", "vecs" -> n, "cells" -> nCells,
        "sec" -> dec(tTrain), "m" -> 16, "k" -> 256)

      // 2. encode + partitioned write (one keyed exchange of the
      // 16 B/vector codes rows → one file per cell directory): the
      // repartition(cell) is the compaction layout, because a 32-task
      // unkeyed write × thousands of cell directories is the
      // many-small-files anti-pattern the compactor exists to cure.
      val (tWrite, _, wSnap) = TaskStats.scoped(spark) {
        ProductQuantizer.writeCellPartitionedIndex(
          ProductQuantizer.residualCodesIndex(
              emb, "vec_id", "embedding", cents, cb)
            .repartition(col("cell")),
          dir)
      }
      def parquetFiles(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(parquetFiles).sum
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      emit("deploy_ann_index_write", Seq("vecs" -> n, "cells" -> nCells,
        "sec" -> dec(tWrite), "files" -> parquetFiles(new java.io.File(dir))) ++
        wSnap.fields: _*)

      // 3. pruned search over the persisted store: 20 queries, nProbe 2,
      // kShort=100 shortlist for the re-rank stage below (the planted
      // clusters hold ~n/nCells near-identical members, so a narrow
      // shortlist would make recall an ADC-noise lottery). UNPERSISTED:
      // the scan metrics (partitions read) live on the executed plan,
      // and a persist would interpose an InMemoryRelation over them.
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").cast("long").as("query_id"),
          col("embedding").as("qe")).persist()
      queries.count()
      val shortlist = ProductQuantizer.searchPersistedIndexLut(
        spark, dir, queries, cents, cb, k = 100, nProbe = 2)
      // collect(), not count(): count() spawns its own query execution,
      // leaving the scan metrics on THIS dataset's plan unpopulated
      val tSearch = time { shortlist.collect() }
      val partsRead = scanPartitions(shortlist, "codes_index")
      emit("deploy_ann_search", "vecs" -> n, "cells" -> nCells,
        "sec" -> dec(tSearch), "nprobe" -> 2, "partitions_read" -> partsRead,
        "scan_fraction" -> dec(partsRead.toDouble / nCells, 4))

      // 4. IVFADC+R: exact re-rank of the shortlist against the source
      // vectors (broadcast candidates, one corpus scan — p129's shape).
      val (tRerank, reranked) = persisted(ProductQuantizer.rerankExact(
        shortlist, emb, "vec_id", "embedding", queries, k = 5))
      // 5. recall@5 against the exact answer, alongside its nProbe
      // CEILING — the fraction of exact top-5 neighbors whose cell is
      // probed at all (what recall the coarse quantizer permits; the
      // gap between ceiling and rerank recall is ADC shortlist loss).
      val exact = Similarity.knnBruteForce(
        emb, "vec_id", "embedding", col("vec_id") < 20).persist()
      val eN = exact.count()
      val probed = queries.select(col("query_id"),
        explode(Similarity.probeCellsOf(col("qe"), cents, 2)).as("cell"))
      val neighborCells = emb
        .join(broadcast(exact.select(col("query_id"),
          col("neighbor_id").as("vec_id"))), Seq("vec_id"))
        .select(col("query_id"), col("vec_id"),
          graft.functions.CellArgmax(col("embedding"), cents).as("cell"))
      val ceiling = neighborCells
        .join(broadcast(probed), Seq("query_id", "cell"), "left_semi")
        .count().toDouble / eN
      emit("deploy_ann_rerank", "vecs" -> n, "sec" -> dec(tRerank),
        "recall_shortlist" -> dec(recall(exact, shortlist), 3),
        "recall_rerank" -> dec(recall(exact, reranked), 3),
        "recall_ceiling_nprobe2" -> dec(ceiling, 3))

      Seq(queries, reranked, exact, emb).foreach(_.unpersist(false))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir).getParentFile)
    }
  }

  /** Partitions the file scans under `pathTag` read in `df`'s executed
    * plan, descending through AQE stages. */
  private def scanPartitions(df: DataFrame, pathTag: String): Long = {
    def findScans(p: SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case f: FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          findScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          findScans(q.plan)
      }.flatten
    findScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(pathTag)))
      .map(_.metrics("numPartitions").value).sum
  }

  /** `funnel [docs...]` (default 1M 10M; 48g for the 10M rehearsal): the
    * FULL production curation chain — exact dedup → near-dup CC
    * canonicalization → benchmark decontamination → PII scrub → Gopher
    * quality gate → mixture sampling → hash splits. Unlike the p78 QUERY
    * (one lazy composition, correct for the oracle's integer counts),
    * each stage materializes behind a persist boundary, so the per-stage
    * walls, task-skew ratios and shuffle/spill bytes are attributable to
    * exactly one stage. Corpus: [[Synth.synthCorpus]], the per-operator
    * ladders' generator, so a stage's figure is comparable to its solo
    * rung; SPARK_GRAFT_CORPUS=zipf50k switches to the Zipfian twin. */
  private def funnel(spark: SparkSession, args: Seq[String]): Unit = {
    val cname = sys.env.getOrElse("SPARK_GRAFT_CORPUS", "uniform5k")
    for (n <- sizes(args, 1000000L, 10000000L)) {
      val ds = namedCorpus(spark, cname, n).persist()
      ds.count()

      def stage(name: String)(f: => DataFrame): DataFrame = {
        val (wall, df, snap) = TaskStats.scoped(spark) {
          val d = f.persist(); d.count(); d
        }
        emit(s"funnel_$name", Seq("corpus" -> cname, "docs" -> n,
          "sec" -> dec(wall), "rows" -> df.count()) ++ snap.fields: _*)
        df
      }

      // Stage 1: exact dedup — keep-lowest-id per full-text hash.
      val exactKeep = stage("exact_dedup") {
        TextDedup.exactDedup(ds, "doc_id", "text")
          .select(col("keep_id").as("doc_id"))
      }
      // Stage 2: the keeper frame, repartitioned by doc_id — the
      // exchange-reuse boundary every later stage reads (p78's shape).
      val kdd = stage("keeper_join") {
        ds.join(exactKeep, "doc_id").repartition(col("doc_id"))
      }
      // Stage 3: the banded simhash miner over the keepers — the
      // funnel's dominant cost at every rung of the solo ladder.
      val pairs = stage("simhash_pairs") {
        TextDedup.simhashNearDup(kdd, "doc_id", "text")
      }
      // Stage 4: connected components over the pair graph → non-canonical
      // members (everyone but the group minimum).
      val dupMembers = stage("cc_members") {
        TextDedup.duplicateGroups(pairs, "doc_a", "doc_b")
          .filter(col("doc_id") =!= col("group_id")).select("doc_id")
      }
      // Stage 5: canonical corpus = keepers minus non-canonical members.
      val canon = stage("canonical_antijoin") {
        kdd.join(dupMembers, Seq("doc_id"), "left_anti")
          .repartition(col("doc_id"))
      }
      // Stage 5b: benchmark decontamination. The held-out set is the
      // corpus's first 1000 docs — tiny like a real eval suite, and
      // guaranteed overlapping (each is the seed of a dup family), so the
      // span removal BITES. The benchmark vocabulary broadcasts; the
      // corpus never shuffles for the probe (the p90 contract).
      val bench = ds.filter(col("doc_id") < 1000)
        .select("doc_id", "text").persist()
      bench.count()
      val decon = stage("decontam_scrub") {
        TextDedup.spanScrub(
            canon.select("doc_id", "text"), bench, "doc_id", "text")
          .select(col("doc_id"), col("cleaned_text").as("text"))
      }
      // Stage 5c: PII scrub — pattern counts + sequential replacement on
      // the decontaminated text (row-local regex; the stage exists here
      // to catch an interpreted-eval straggler like the r15 quality gate).
      val pii = stage("pii_scrub") {
        TextCuration.piiScrub(decon, "doc_id", "text")
          .select(col("id").as("doc_id"), col("clean_text").as("text"))
      }
      // Stage 6: the Gopher repetition/quality gate, on the cleaned text.
      val keepq = stage("quality_gate") {
        TextCuration.repetitionStats(pii, "doc_id", "text")
          .filter(col("keep")).select(col("id").as("doc_id"))
      }
      // Stage 6b: mixture sampling — per-source token budgets filled in
      // id order via the keyed distributed prefix sum (p96's shape; a
      // per-source Window over raw rows would funnel a dominant source
      // through one task). Source key = doc_id mod 5; the budget is
      // sized to BITE on the post-gate mass (~8% of n docs survive the
      // dup stages on this corpus, ~100 tokens each → ~1.6·n tokens per
      // source; budget n takes ~60%).
      val mix = stage("mixture_sample") {
        val keyed = pii.join(keepq, "doc_id")
          .select(col("doc_id"),
            concat(lit("src"), pmod(col("doc_id"), lit(5))).as("source"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
        TextCuration.tokenBudgetSample(keyed, "doc_id", "source",
            "n_tokens", budget = n)
          .select(col("id").as("doc_id"))
      }
      // Stage 7: hash split counts — the funnel's terminal aggregate,
      // over the mixture-selected cleaned docs.
      val (wall7, splitRows, snap7) = TaskStats.scoped(spark) {
        TextCuration.hashSplit(pii.join(mix, "doc_id"), "doc_id", "text")
          .groupBy("split").agg(count(lit(1)).as("c"))
          .orderBy("split").collect()
      }
      emit("funnel_split", Seq("corpus" -> cname, "docs" -> n, "sec" -> dec(wall7)) ++
        splitRows.map(r => r.getString(0) -> r.getLong(1)) ++ snap7.fields: _*)

      Seq(exactKeep, kdd, pairs, dupMembers, canon, bench, decon, pii,
          keepq, mix, ds)
        .foreach(_.unpersist(false))
    }
  }

  /** `pack_funnel [rows...]` (default 1M 4M 16M): the p152
    * semantic-packing funnel fix. A DEGENERATE quantizer that collapses
    * the corpus into ONE cell used to push the whole corpus through a
    * single window partition; the two-level (cell, id-range-bucket)
    * prefix sum bounds any partition at corpus/numRanges rows.
    * `numRanges=1` reproduces the old funnel exactly, `Auto` is the
    * shipped decomposition — on an all-one-cell corpus with near-free
    * tokenization (constant three-token docs), so the measured delta is
    * pure prefix-sum topology, not text work. */
  private def packFunnel(spark: SparkSession, args: Seq[String]): Unit = {
    for (n <- sizes(args, 1000000L, 4000000L, 16000000L)) {
      val docs = spark.range(n)
        .select(col("id").as("doc_id"), lit("w w w").as("text"))
        .persist()
      val cells = spark.range(n)
        .select(col("id").as("vec_id"), lit(0L).as("cell"))
        .persist()
      docs.count(); cells.count()
      for ((shape, nr) <- Seq("funnel" -> 1, "two_level" -> Adaptive.Auto)) {
        val s = time(mat(TextCuration.semanticPacking(
          docs, "doc_id", "text", cells, budgetTokens = 512L, numRanges = nr)))
        emit(s"semantic_packing_$shape", "rows" -> n, "sec" -> s)
      }
      docs.unpersist(false); cells.unpersist(false)
    }
  }

  /** `bpe_ladder [docs]` (default 5000): BPE train wall vs MERGE COUNT
    * (the distributed loop pays one Spark job per merge, so its wall is
    * ~nMerges × scheduler floor regardless of data size), and apply wall
    * for the fused expression vs the nMerges-deep replace-fold chain. The
    * corpus is [[Synth.synthCorpusZipf]] so the merge ladder has enough
    * pair diversity to sustain ≥1000 merges. Curves:
    * bench_records/r14_bpe_ladder.md. */
  private def bpeLadder(spark: SparkSession, args: Seq[String]): Unit = {
    import graft.text.BpeTokenizer
    val nDocs = args.headOption.map(_.toLong).getOrElse(5000L)
    val docs = Synth.synthCorpusZipf(spark, nDocs).persist()
    docs.count()

    val vocab = BpeTokenizer.vocabulary(docs, "text").persist()
    val nVocab = vocab.count()
    val (tCollect, vocabRows) = timed {
      vocab.select("word", "freq").collect().map(r => (r.getString(0), r.getLong(1)))
    }
    emit("bpe_vocab", "n_docs" -> nDocs, "n_vocab" -> nVocab,
      "collect_sec" -> dec(tCollect, 3))

    // driver-side trainer ladder: wall must be sublinear in merges
    // relative to the distributed loop's per-merge job floor
    for (m <- Seq(40, 200, 1000, 4000)) {
      val (t, merges) = timed(BpeTokenizer.trainMergesLocal(vocabRows, m))
      emit("bpe_train_local", "n_merges" -> m, "trained" -> merges.length,
        "sec" -> dec(t, 3))
      // fused apply over the corpus with this table: plan is ONE node
      // whatever the merge count
      val tApply = time(mat(BpeTokenizer.tokenize(docs, "doc_id", "text", merges)))
      emit("bpe_apply_fused", "n_merges" -> merges.length, "sec" -> dec(tApply, 3))
      // the replace-fold chain for comparison — only at depths where the
      // plan still analyzes/compiles in reasonable time
      if (m <= 200) {
        val tChain = time(mat(BpeTokenizer.tokenizeSpec(docs, "doc_id", "text", merges)))
        emit("bpe_apply_chain", "n_merges" -> merges.length, "sec" -> dec(tChain, 3))
      }
    }

    // distributed trainer floor: per-merge job cost at a depth where the
    // loop is tolerable; multiply out for the 32k production quote
    val tDist = time(BpeTokenizer.trainMergesDistributed(vocab, 40))
    emit("bpe_train_distributed", "n_merges" -> 40, "sec" -> dec(tDist, 3),
      "sec_per_merge" -> dec(tDist / 40, 4))
  }

  /** `skew [docs...]` (default 500k): a Zipf-1.2 corpus
    * ([[Synth.synthCorpusZipfS]] — hotter than the ladder's Zipf-1.0
    * twin, so the hottest grams/fingerprints push AGAINST the miners'
    * hot-bucket / df caps) through span dedup (p87), the scoped dedup
    * report (p141), the winnowing miner (p158) and n-gram Jaccard, with
    * the per-task duration distribution recorded per op. The claim under
    * test: the caps + AQE keep task time flat (p99/median small) even
    * when the key distribution is adversarially skewed; a straggler
    * would show up as max ≫ p99 ≫ median. */
  private def skew(spark: SparkSession, args: Seq[String]): Unit = {
    for (n <- sizes(args, 500000L)) {
      val corpus = Synth.synthCorpusZipfS(spark, n, s = 1.2).persist()
      corpus.count()
      // the headline skew fact: share of all token occurrences carried
      // by the single hottest token
      val hot = corpus.select(explode(split(col("text"), " ")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
        .agg(max("c").as("mx"), sum("c").as("tot")).head()
      emit("skew_corpus", "docs" -> n, "s" -> 1.2,
        "hottest_token_share" -> dec(hot.getLong(0).toDouble / hot.getLong(1), 4))

      def run(op: String)(f: => DataFrame): Unit = {
        val (wall, _, snap) = TaskStats.scoped(spark)(mat(f))
        emit(op, Seq("docs" -> n, "s" -> 1.2, "sec" -> dec(wall),
          "p99_over_median" -> dec(snap.p99OverMedian)) ++ snap.fields: _*)
      }
      run("skew_span_dedup")(TextDedup.spanDedup(corpus, "doc_id", "text"))
      run("skew_scoped_dedup")(TextDedup.scopedDedupReport(
        corpus.withColumn("source",
          concat(lit("s"), pmod(col("doc_id"), lit(20)).cast("string"))),
        "doc_id", "text", "source"))
      run("skew_winnowing")(TextDedup.winnowingPairs(
        corpus, "doc_id", "text", TextDedup.MaxDf(16)))
      run("skew_ngram_jaccard")(TextDedup.ngramJaccardPairs(
        corpus, "doc_id", "text", TextDedup.MaxDf(64)))
      corpus.unpersist(false)
    }
  }

  /** `bucket [docs...]` (default 10M; SPARK_GRAFT_CORPUS defaults to
    * zipf50k, the funnel corpus): the banded SimHash miner's
    * bucket-occupancy distribution. The miner self-joins on (band,
    * bucket), so a task's probe work is Σ m² over the buckets its hash
    * partition holds; this answers whether that sum is dominated by a
    * few hot buckets (→ salt just those) or is broadly spread (→ the skew
    * is partition placement, not key heat). Prints the occupancy
    * histogram by log2(m) class, the top-10 occupancies, and the
    * per-partition Σm² distribution under the session shuffle-partition
    * count (the actual join layout). */
  private def bucket(spark: SparkSession, args: Seq[String]): Unit = {
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val cname = sys.env.getOrElse("SPARK_GRAFT_CORPUS", "zipf50k")
    for (n <- sizes(args, 10000000L)) {
      val ds = namedCorpus(spark, cname, n).persist(); ds.count()
      // the miner's banded frame: two 15-bit halves of the 30-bit sig
      val sigs = TextDedup.simhash(ds, "doc_id", "text")
      val banded = sigs.select(col("id"),
        explode(array((0 until 2).map(bi =>
          struct(lit(bi).as("band"),
            (shiftright(col("simhash"), bi * 15) % 32768L).as("bucket"))): _*)).as("bb"))
        .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      val occ = banded.groupBy("band", "bucket").agg(count(lit(1)).as("m"))
        .persist()
      val hist = occ
        .withColumn("cls", floor(log2(col("m"))))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_buckets"), sum("m").as("rows"),
          sum(col("m") * col("m")).as("probe"))
        .orderBy("cls").collect()
      val tot = hist.map(_.getLong(3)).sum
      hist.foreach { r =>
        emit("bucket_hist", "docs" -> n, "corpus" -> cname, "log2_m" -> r.getLong(0),
          "n_buckets" -> r.getLong(1), "rows" -> r.getLong(2), "probe" -> r.getLong(3),
          "probe_share" -> dec(r.getLong(3).toDouble / tot, 4))
      }
      val top = occ.orderBy(col("m").desc).limit(10).collect().map(_.getLong(2)).toSeq
      emit("bucket_top10", "docs" -> n, "top_m" -> top, "probe_total" -> tot)
      // the join's actual layout: Σm² per hash partition at the session count
      val parts = occ
        .withColumn("p", pmod(hash(col("band"), col("bucket")), lit(nPart)))
        .groupBy("p").agg(sum(col("m") * col("m")).as("probe"))
        .select("probe").collect().map(_.getLong(0)).sorted
      def pct(q: Double) = parts(math.min(parts.length - 1, (q * parts.length).toInt))
      emit("bucket_parts", "docs" -> n, "n_parts" -> parts.length,
        "probe_min" -> parts.head, "probe_med" -> pct(0.5), "probe_max" -> parts.last,
        "max_over_med" -> dec(parts.last.toDouble / math.max(1L, pct(0.5))))
      occ.unpersist(false); ds.unpersist(false)
    }
  }

  /** `cc [edges] [reps] [iterative]` (default 30M edges, 3 reps;
    * SPARK_DRIVER_MEM=32g, run idle): the connected-components loop on
    * [[Synth.synthEdges]], `reps` times in one JVM — the one ladder entry
    * with a wide documented band (87–162 s in round 8, attributed to GC),
    * so the band (and any memory-shape fix) is quantified without paying
    * the whole ladder per sample. Default: the adaptive operator as
    * shipped, one `dedup_groups_cc` line per rep with wall, GC, rounds and
    * exchange/spill totals. `iterative` forces the distributed loop
    * (`localEdgeThreshold = 0`) whatever the size, so the loop is
    * measured without the union-find path absorbing the rung (how the
    * round-8 delta-iteration experiment was priced), one `cc_iterative`
    * line per rep. Both records carry the operator's round log
    * ([[TextDedup.lastRounds]]) as `round_sec` (each round's wall) and
    * `round_changed` (labels it changed; 0 closes the loop). */
  private def cc(spark: SparkSession, args: Seq[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(30000000L)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val iterative = args.lift(2) match {
      case None => false
      case Some("iterative") => true
      case Some(other) => throw new IllegalArgumentException(
        s"cc: third argument must be 'iterative', got '$other'")
    }
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    for (rep <- 1 to reps) {
      val edges = Synth.synthEdges(spark, n).persist()
      edges.count()
      val gc0 = gcMillis()
      val (sec, _, snap) = TaskStats.scoped(spark) {
        mat(if (iterative)
              TextDedup.duplicateGroups(edges, "doc_a", "doc_b", localEdgeThreshold = 0L)
            else TextDedup.duplicateGroups(edges, "doc_a", "doc_b"))
      }
      val gcSec = (gcMillis() - gc0) / 1000.0
      edges.unpersist(true)
      val log = TextDedup.lastRounds
      val roundFields = Seq("rounds" -> log.length,
        "round_sec" -> log.map(r => dec(r._1)), "round_changed" -> log.map(_._2))
      if (iterative)
        emit("cc_iterative", Seq("edges" -> n, "sec" -> dec(sec)) ++ roundFields: _*)
      else
        emit("dedup_groups_cc", Seq("edges" -> n, "rep" -> rep, "sec" -> dec(sec),
          "gc_sec" -> dec(gcSec)) ++ roundFields ++ snap.fields: _*)
    }
  }

  /** `plan <explain|final> <sfDir> <outDir> <suffix> <q1> [q2 ...]`
    * (`all` = every registered query): write each query's plan to
    * `<outDir>/<query>_<suffix>.txt` so plan claims in OPTIMIZATION_rNN.md
    * are checkable without running Spark. `explain`: the formatted
    * explain of the FINAL frame — building it executes any eager prelude
    * the query runs (training collects, localCheckpoints), so the plan is
    * exactly the one the bench materializes. `final`: the post-AQE
    * executed plan after running the query in full, where runtime
    * effects static explain can't show (ReusedExchange, AQEShuffleRead
    * coalescing, join-strategy rewrites) are visible — how to check
    * whether a statically duplicated subtree actually re-executes before
    * paying a materialization to remove it. */
  private def plan(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.length >= 5 && Set("explain", "final")(args.head),
      "usage: plan <explain|final> <sfDir> <outDir> <suffix> <q1> [q2 ...]")
    val Seq(mode, sfDir, outDir, suffix) = args.take(4)
    val names = if (args.drop(4) == Seq("all")) SparkEntry.queries.keys.toSeq.sorted
                else args.drop(4)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query $name"))(spark, sfDir)
      val text =
        if (mode == "final") {
          // run the frame's OWN execution in full (a noop write plans and
          // runs a separate QueryExecution, leaving this one's adaptive
          // plan unfinalized); rows are consumed, never collected
          val qe = df.queryExecution
          SQLExecution.withNewExecutionId(qe)(qe.toRdd.foreach(_ => ()))
          qe.executedPlan.toString
        } else df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val out = Paths.get(outDir, s"${name}_$suffix.txt")
      Files.write(out, text.getBytes("UTF-8"))
      emit("plan", "query" -> name, "mode" -> mode, "file" -> out.toString)
    }
  }
}
