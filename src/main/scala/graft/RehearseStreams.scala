package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Rehearse.{dec, emit}
import graft.streaming.{DedupGroupStream, MixtureSampleStream, SpanDedupStream, VersionedState}

/** The streaming rungs of [[Rehearse]] (`stream_state`, `composed_stream`,
  * `soak`) and the helpers they share: id-ordered JSON files, one per
  * future micro-batch, replayed through a one-file-per-trigger stream
  * into the versioned-state twins, with the per-batch `triggerExecution`
  * curve read from the query's progress (the progress API of the
  * Structured Streaming paper). */
private[graft] object RehearseStreams {

  private val DocSchema = "doc_id BIGINT, text STRING"
  private val EdgeSchema = "doc_a BIGINT, doc_b BIGINT"

  private def tempDir(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString

  /** Keep every batch's progress, not just the last 100 triggers, so the
    * per-batch curve covers long soaks. */
  private def keepProgress(spark: SparkSession, batches: Int): Unit =
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      (batches + 16).toString)

  /** Write `df`'s rows, ordered by all its columns, as JSON lines: one
    * file of `perBatch` rows per future micro-batch, each stamped a
    * minute after the last so the file source replays them in order (the
    * PackingStream/AsOfStream ordering contract). Returns the directory. */
  private def batchFiles(df: DataFrame, perBatch: Int, name: String): Path = {
    val dir = Paths.get(tempDir(name))
    val cols = df.columns.toSeq.map(col)
    val lines = df.orderBy(cols: _*).select(to_json(struct(cols: _*)))
      .collect().map(_.getString(0))
    lines.grouped(perBatch).zipWithIndex.foreach { case (ls, i) =>
      val f = dir.resolve(f"$name-$i%05d.json")
      Files.write(f, ls.mkString("\n").getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    dir
  }

  /** A JSON file stream over `dir` that reads one file per trigger. */
  private def fileStream(spark: SparkSession, schema: String, dir: Path): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(dir.toString)

  /** Fail loudly on timeout — a rung that proceeds past a still-running
    * stream would read a partially-written state dir and report
    * misleading per-batch rows. */
  private def awaitOrAbort(q: StreamingQuery, what: String,
                           timeoutMs: Long = 1800000L): Unit = {
    val finished = q.awaitTermination(timeoutMs)
    if (!finished || q.isActive) {
      q.stop()
      sys.error(s"$what did not terminate within ${timeoutMs / 1000}s — " +
        "aborting instead of reading a partially-written state dir")
    }
  }

  /** Emit one `op` line per batch the query ran with its
    * triggerExecution ms — the per-batch COMPUTE curve — and return the
    * (batchId, ms) pairs. Needs [[keepProgress]] ≥ the batch count. */
  private def triggerCurve(q: StreamingQuery, op: String): Seq[(Long, Long)] = {
    val durs = q.recentProgress.toSeq
      .map(p => p.batchId ->
        p.durationMs.getOrDefault("triggerExecution", -1L).longValue())
      .filter(_._1 >= 0).sortBy(_._1)
    durs.foreach { case (id, ms) => emit(op, "batch" -> id, "trigger_ms" -> ms) }
    durs
  }

  /** `stream_state [batches] [docsPerBatch] [compactEvery]` (default 12,
    * 2000, suppressed): per-batch state-write volume of the incremental
    * streaming state. Streams a corpus with a CONTROLLED novelty rate
    * ([[Synth.synthCorpus]]'s 10% exact + 10% near dups, so every batch
    * contributes a near-identical number of novel span keys) through
    * [[SpanDedupStream]] and reports per batch the rows the state layer
    * wrote (the delta / compact) next to what a full rewrite would have
    * written (the cumulative seen-key table). The claim under test:
    * state-write volume tracks BATCH NOVELTY, not corpus history. Then
    * the same for [[DedupGroupStream]] over an edge stream. */
  def streamState(spark: SparkSession, args: Seq[String]): Unit = {
    val batches = args.headOption.map(_.toInt).getOrElse(12)
    val docsPerBatch = args.lift(1).map(_.toInt).getOrElse(2000)
    // span-section compaction cadence. Default keeps the r9 measurement
    // shape (suppressed — every version is a pure novelty delta); the
    // 10M-key soak passes the production 8 so the record shows real
    // compaction cadence + pruning, not just deltas.
    val compactEvery = args.lift(2).map(_.toInt).getOrElse(-1)
    keepProgress(spark, batches)

    val srcDir = batchFiles(
      Synth.synthCorpus(spark, batches.toLong * docsPerBatch), docsPerBatch, "ssb-docs")
    val outDir = tempDir("ssb-out")
    val stateDir = tempDir("ssb-state")
    val (wall, q) = Rehearse.timed {
      // compactEvery above the batch count: every post-anchor batch
      // writes a pure novelty delta, so the state dir IS the measurement
      val q = SpanDedupStream.attach(fileStream(spark, DocSchema, srcDir),
        "doc_id", "text", outDir, stateDir, tempDir("ssb-ckpt"),
        compactEvery = if (compactEvery > 0) compactEvery else batches + 1)
      awaitOrAbort(q, "SpanDedupStream rehearsal query")
      q
    }
    // per-batch COMPUTE: at soak scale the question is whether batch
    // latency stays flat while the cumulative key count grows to 10M+
    triggerCurve(q, "span_dedup_stream_compute")
    // read the surviving versions: per batch, rows written (the delta)
    // vs the cumulative table a full rewrite would have written. Under
    // production compaction older versions are PRUNED, so cumulative is
    // only exact in the suppressed-compaction (r9 measurement) mode —
    // the line carries the mode ("compact_every") and omits the
    // full-rewrite baseline when compaction is active, so a downstream
    // record can't quote an undercounted baseline.
    var cumulative = 0L
    VersionedState.versions(spark, stateDir).sortBy(_.id).foreach { v =>
      val rows = spark.read.parquet(v.path.toString).count()
      cumulative += rows
      val fs = v.path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      emit("span_dedup_stream_state", "batch" -> v.id,
        "kind" -> (if (v.compact) "compact" else "delta"), "rows_written" -> rows,
        "state_bytes" -> fs.listStatus(v.path).filter(_.isFile).map(_.getLen).sum,
        if (compactEvery > 0) "compact_every" -> compactEvery
        else "full_rewrite_rows" -> cumulative)
    }
    // cumulative distinct seen-key count — the soak's x-axis
    val seenKeys = SpanDedupStream.latestState(spark, stateDir)
      .map(_.count()).getOrElse(0L)
    emit("span_dedup_stream", "batches" -> batches, "docs_per_batch" -> docsPerBatch,
      "seen_keys" -> seenKeys, "wall_sec" -> dec(wall))

    // the second twin: DedupGroupStream over an edge stream with flat
    // novelty ([[Synth.synthEdges]] sliced into id-ordered chunks — each
    // batch's edges mostly attach NEW nodes, the steady state of a
    // near-dup pair stream). Delta rows = labels the batch added or
    // changed; a full rewrite would write the whole cumulative
    // assignment every batch.
    val edgesPerBatch = docsPerBatch * 10
    val eDir = batchFiles(
      Synth.synthEdges(spark, batches.toLong * edgesPerBatch), edgesPerBatch, "ssb-edges")
    val eState = tempDir("ssb-estate")
    // PRODUCTION compaction cadence here (unlike the span section above):
    // the compute curve is only meaningful under the bounded read fan-in
    // the default gives — with compaction suppressed, every batch's two
    // state scans union an ever-growing delta chain and the growth
    // measures the chain length, not the algorithm
    val (eWall, eq) = Rehearse.timed {
      val eq = DedupGroupStream.attach(fileStream(spark, EdgeSchema, eDir),
        "doc_a", "doc_b", eState, tempDir("ssb-eckpt"))
      awaitOrAbort(eq, "DedupGroupStream rehearsal query")
      eq
    }
    // per-batch COMPUTE: with contract-then-relabel this tracks batch
    // size while the assignment grows
    triggerCurve(eq, "dedup_group_stream_compute")
    VersionedState.versions(spark, eState).sortBy(_.id).foreach { v =>
      // what a full rewrite would write at this batch: the assignment
      // size = distinct doc_ids across the chain up to and including v
      val full = VersionedState
        .readKeyed(spark, eState, "doc_id", Some(v.id + 1)).get.count()
      emit("dedup_group_stream_state", "batch" -> v.id,
        "kind" -> (if (v.compact) "compact" else "delta"),
        "rows_written" -> spark.read.parquet(v.path.toString).count(),
        "full_rewrite_rows" -> full)
    }
    emit("dedup_group_stream", "batches" -> batches,
      "edges_per_batch" -> edgesPerBatch, "wall_sec" -> dec(eWall))
  }

  /** `composed_stream [batches] [docsPerBatch] [compactEvery]` (default
    * 16, 8000, 8 — which reaches 10M span keys): the streaming funnel
    * composed the way a deployment wires it. Stage 1 (stateful span dedup,
    * VersionedState novelty sets) lands its cleaned output on the lake;
    * stage 2 tails that output as a file stream running the stateless
    * quality gate (row-local codegen, legal before a stateful operator)
    * INTO the keyed stateful mixture planner ([[MixtureSampleStream]],
    * flatMapGroupsWithState) in one streaming query. The lake handoff is
    * the composition contract: stage boundaries are replayable parquet,
    * so either stage can restart without the other. The question under
    * test: does PER-BATCH cost stay flat while the dedup state grows and
    * the mixture state accumulates, or does the handoff introduce
    * superlinear cost. */
  def composedStream(spark: SparkSession, args: Seq[String]): Unit = {
    val batches = args.headOption.map(_.toInt).getOrElse(16)
    val docsPerBatch = args.lift(1).map(_.toInt).getOrElse(8000)
    val compactEvery = args.lift(2).map(_.toInt).getOrElse(8)
    keepProgress(spark, batches)

    val srcDir = batchFiles(
      Synth.synthCorpus(spark, batches.toLong * docsPerBatch), docsPerBatch, "csb-docs")
    val outDir = tempDir("csb-clean")
    val stateDir = tempDir("csb-state")

    // Stage 1: stateful span dedup → cleaned parquet on the lake.
    val (wall1, q1) = Rehearse.timed {
      val q = SpanDedupStream.attach(fileStream(spark, DocSchema, srcDir),
        "doc_id", "text", outDir, stateDir, tempDir("csb-ckpt1"),
        compactEvery = compactEvery)
      awaitOrAbort(q, "composed stage 1 (span dedup)")
      q
    }
    triggerCurve(q1, "composed_stream_dedup")
    val seenKeys = SpanDedupStream.latestState(spark, stateDir)
      .map(_.count()).getOrElse(0L)

    // Stage 2: tail the cleaned lake output — stateless quality gate →
    // keyed stateful mixture planning, ONE streaming query. Budget bites
    // at ~40% of each source's token mass.
    val cleanedStream = spark.readStream
      .schema("doc_id BIGINT, n_tokens BIGINT, n_dup_spans BIGINT, " +
        "n_removed BIGINT, cleaned_text STRING, batch BIGINT")
      .option("maxFilesPerTrigger", 64)
      .option("basePath", outDir)
      .parquet(outDir + "/batch=*")
    val budget = batches.toLong * docsPerBatch * 100L / 5L * 2L / 5L
    // the Gopher gate inline (repetitionStats' counters + thresholds —
    // its public form re-sorts by id, which a streaming plan can't):
    // one CurationStats codegen node, ratios + keep from its struct
    val st = graft.functions.CurationStats(
      graft.functions.TextPrims.normText(col("cleaned_text")))
    val g0 = cleanedStream.select(col("doc_id").as("id"),
      col("n_tokens").as("nt_clean"), st.as("cs"))
    val topRatio = col("cs.top_cnt").cast("double") / col("cs.n_tokens")
    val dupFrac = when(col("cs.n_bigrams") > 0L,
      (col("cs.n_bigrams") - col("cs.n_uniq_bigrams")).cast("double") /
        col("cs.n_bigrams")).otherwise(lit(0.0))
    val symRatio = col("cs.n_sym").cast("double") / col("cs.n_chars")
    val gated = g0
      .filter(topRatio <= 0.2 && dupFrac <= 0.3 && symRatio <= 0.2)
      .select(col("id"),
        concat(lit("src"), pmod(col("id"), lit(5))).as("source"),
        col("nt_clean").as("n_tokens"))
    val kept = MixtureSampleStream.sampled(
      gated, "id", "source", "n_tokens", budget)
    val mixOut = tempDir("csb-mix")
    val (wall2, q2) = Rehearse.timed {
      val q = kept.writeStream
        .outputMode("append")
        .option("checkpointLocation", tempDir("csb-ckpt2"))
        .trigger(Trigger.AvailableNow())
        .format("parquet")
        .option("path", mixOut)
        .start()
      awaitOrAbort(q, "composed stage 2 (quality gate + mixture)")
      q
    }
    triggerCurve(q2, "composed_stream_gate_mix")
    val mixed = spark.read.parquet(mixOut)
    val keptPerKey = mixed
      .groupBy("key").agg(count(lit(1)).as("n"), max("cum_weight").as("cum"))
      .orderBy("key").collect()
      .map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2)))
    emit("composed_stream", Seq("batches" -> batches, "docs_per_batch" -> docsPerBatch,
      "seen_keys" -> seenKeys, "budget_per_source" -> budget,
      "kept_rows" -> mixed.count()) ++ keptPerKey ++ Seq(
      "dedup_wall_sec" -> dec(wall1), "gate_mix_wall_sec" -> dec(wall2),
      "end_to_end_sec" -> dec(wall1 + wall2)): _*)
  }

  /** `soak [batches] [edgesPerBatch] [docsPerBatch]` (default 120, 5000,
    * 300): long-haul soak of the versioned-state twins — a dozen-plus
    * compaction + prune cycles with a forced mid-stream REPLAY — that
    * HARD-asserts the properties keeping a long-lived stream healthy:
    *
    *   1. state-dir growth is bounded: surviving version directories stay
    *      within ~2 compaction windows regardless of stream lifetime
    *      (prune really fires, forever);
    *   2. read fan-in is bounded: the version chain a state read resolves
    *      never exceeds compactEvery deltas + 1 compact;
    *   3. per-batch wall stays FLAT: the median over late full compaction
    *      cycles is within 2× of early cycles, while the state has grown
    *      ~10× — per-batch compute tracks batch size, not corpus history;
    *   4. a replayed batch (checkpoint commit deleted after the state
    *      write landed — the crash window) converges to the exact batch
    *      answer: stream state ≡ the batch operator over ALL data.
    *
    * Violations throw (non-zero exit from [[Rehearse.main]]): this rung
    * is an executable assertion, not just a measurement. JSON lines plus
    * `PASS` lines and a closing `SOAK COMPLETE`. */
  def soak(spark: SparkSession, args: Seq[String]): Unit = {
    val batches = args.headOption.map(_.toInt).getOrElse(120)
    val edgesPerBatch = args.lift(1).map(_.toInt).getOrElse(5000)
    val docsPerBatch = args.lift(2).map(_.toInt).getOrElse(300)
    val compactEvery = 8
    val timeoutMs = 3600000L
    keepProgress(spark, batches)

    // ===== DedupGroupStream: batches of near-dup pair edges =====
    val allEdges = Synth.synthEdges(spark, batches.toLong * edgesPerBatch).persist()
    val eDir = batchFiles(allEdges, edgesPerBatch, "soak-edges")
    def edgeStream = fileStream(spark, EdgeSchema, eDir)
    val eState = tempDir("soak-estate")
    val eCkpt = tempDir("soak-eckpt")

    val (eWall, eq) = Rehearse.timed {
      val q = DedupGroupStream.attach(edgeStream, "doc_a", "doc_b",
        eState, eCkpt, compactEvery = compactEvery)
      awaitOrAbort(q, "dedup-group soak", timeoutMs)
      q
    }
    val eDurs = triggerCurve(eq, "dedup_group_soak_compute")
    emit("dedup_group_soak", "batches" -> batches, "edges_per_batch" -> edgesPerBatch,
      "wall_sec" -> dec(eWall, 1))
    checkFlatWall(eDurs, compactEvery, batches, "dedup_group")
    checkStateBounds(spark, eState, compactEvery, "dedup_group")

    // mid-stream replay: drop the newest commit (state landed, commit
    // lost) and restart — the replayed batch must be idempotent
    val replayed = dropNewestCommit(eCkpt)
    awaitOrAbort(DedupGroupStream.attach(edgeStream, "doc_a", "doc_b",
      eState, eCkpt, compactEvery = compactEvery), "dedup-group replay", timeoutMs)
    emit("dedup_group_soak_replay", "batch" -> replayed)

    // convergence: stream state ≡ batch CC over every edge streamed
    val got = DedupGroupStream.latestState(spark, eState).get
    val want = graft.text.TextDedup.duplicateGroups(allEdges, "doc_a", "doc_b")
    val missing = want.exceptAll(got).count()
    val extra = got.exceptAll(want).count()
    assert(missing == 0 && extra == 0,
      s"dedup_group: stream/batch divergence missing=$missing extra=$extra")
    println(s"PASS dedup_group replay + parity: ${got.count()} assignments " +
      s"== batch CC, replayed batch $replayed idempotent")
    allEdges.unpersist(false)

    // ===== SpanDedupStream: same soak over a document stream =====
    val corpus = Synth.synthCorpus(spark, batches.toLong * docsPerBatch).persist()
    val dDir = batchFiles(corpus, docsPerBatch, "soak-docs")
    def docStream = fileStream(spark, DocSchema, dDir)
    val outDir = tempDir("soak-out")
    val sState = tempDir("soak-sstate")
    val sCkpt = tempDir("soak-sckpt")

    val (sWall, sq) = Rehearse.timed {
      val q = SpanDedupStream.attach(docStream, "doc_id", "text", outDir,
        sState, sCkpt, compactEvery = compactEvery)
      awaitOrAbort(q, "span-dedup soak", timeoutMs)
      q
    }
    val sDurs = triggerCurve(sq, "span_dedup_soak_compute")
    emit("span_dedup_soak", "batches" -> batches, "docs_per_batch" -> docsPerBatch,
      "wall_sec" -> dec(sWall, 1))
    checkFlatWall(sDurs, compactEvery, batches, "span_dedup")
    checkStateBounds(spark, sState, compactEvery, "span_dedup")

    val sReplayed = dropNewestCommit(sCkpt)
    awaitOrAbort(SpanDedupStream.attach(docStream, "doc_id", "text", outDir,
      sState, sCkpt, compactEvery = compactEvery), "span-dedup replay", timeoutMs)
    emit("span_dedup_soak_replay", "batch" -> sReplayed)

    // convergence: cumulative stream output ≡ batch spanDedup over the
    // whole corpus (row-identical cleaned text per doc)
    val streamed = spark.read.parquet(outDir).drop("batch")
    val batchOut = graft.text.TextDedup.spanDedup(corpus, "doc_id", "text")
    val sMissing = batchOut.exceptAll(streamed).count()
    val sExtra = streamed.exceptAll(batchOut).count()
    assert(sMissing == 0 && sExtra == 0,
      s"span_dedup: stream/batch divergence missing=$sMissing extra=$sExtra")
    println(s"PASS span_dedup replay + parity: ${streamed.count()} docs " +
      s"== batch spanDedup, replayed batch $sReplayed idempotent")
    corpus.unpersist(false)
    println("SOAK COMPLETE: all bounds held")
  }

  /** Delete the newest checkpoint commit — the crash window where state
    * landed but the commit did not; the restarted query must replay that
    * batch idempotently. Returns the replayed batch id. */
  private def dropNewestCommit(ckpt: String): Long = {
    val dir = new java.io.File(s"$ckpt/commits")
    val ids = dir.listFiles().filter(_.isFile)
      .flatMap(f => f.getName.toLongOption).sorted
    require(ids.nonEmpty, s"no commits under $ckpt")
    val last = ids.last
    require(new java.io.File(dir, last.toString).delete(),
      s"could not delete commit $last")
    // the local checksum FS shadows every file with .<name>.crc; leaving
    // it behind makes the replayed commit's rename fail as a concurrent-
    // writer conflict
    new java.io.File(dir, s".$last.crc").delete()
    last
  }

  /** Bound checks shared by both twins. */
  private def checkStateBounds(spark: SparkSession, stateDir: String,
                               compactEvery: Int, twin: String): Unit = {
    val vs = VersionedState.versions(spark, stateDir)
    val dirs = new java.io.File(stateDir).listFiles().toSeq
      .filter(_.isDirectory).map(_.getName).sorted
    // ~2 compaction windows survive prune (newest + one grace), plus the
    // in-flight chain above the newest compact
    val dirBound = 3 * (compactEvery + 1)
    assert(dirs.length <= dirBound,
      s"$twin: ${dirs.length} state dirs exceed bound $dirBound: $dirs")
    // read fan-in for the CURRENT state: newest compact + deltas above it
    val newestCompact = vs.find(_.compact)
      .getOrElse(sys.error(s"$twin: no compact survived")).id
    val fanIn = 1 + vs.count(v => !v.compact && v.id > newestCompact)
    assert(fanIn <= compactEvery + 1,
      s"$twin: read fan-in $fanIn exceeds ${compactEvery + 1}")
    val files = dirs.map(d =>
      new java.io.File(s"$stateDir/$d").listFiles().count(_.isFile)).sum
    emit(s"${twin}_soak_state", "dirs" -> dirs.length, "files" -> files,
      "read_fan_in" -> fanIn)
    println(s"PASS $twin state bounds: dirs=${dirs.length} <= $dirBound, " +
      s"fan-in=$fanIn <= ${compactEvery + 1}")
  }

  /** Flat-wall check: median per-batch ms over late cycles vs early
    * cycles (windows aligned to full compaction cycles so each sees the
    * same chain-length mix). */
  private def checkFlatWall(durs: Seq[(Long, Long)], compactEvery: Int,
                            batches: Int, twin: String): Unit = {
    def medianOver(lo: Long, hi: Long): Double = {
      val in = durs.collect { case (id, ms) if id >= lo && id <= hi => ms }.sorted
      require(in.nonEmpty, s"no batches in [$lo,$hi]")
      if (in.length % 2 == 1) in(in.length / 2).toDouble
      else (in(in.length / 2 - 1) + in(in.length / 2)) / 2.0
    }
    val cycle = compactEvery + 1
    val earlyLo = cycle.toLong; val earlyHi = earlyLo + 3L * cycle - 1
    val lateHi = batches.toLong - 2; val lateLo = lateHi - 3L * cycle + 1
    val early = medianOver(earlyLo, earlyHi)
    val late = medianOver(lateLo, lateHi)
    emit(s"${twin}_soak_wall", "early_median_ms" -> early, "late_median_ms" -> late,
      "early" -> Seq(earlyLo, earlyHi), "late" -> Seq(lateLo, lateHi))
    assert(late <= 2.0 * early + 250,
      s"$twin: late median ${late}ms not flat vs early ${early}ms")
    println(f"PASS $twin flat wall: early=$early%.0fms late=$late%.0fms")
  }
}
