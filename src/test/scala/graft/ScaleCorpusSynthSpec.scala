package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{size => arrSize}

/** The scaling harness's synthetic inputs must actually HAVE the structure
  * the curves claim to measure — otherwise the recorded curves measure
  * nothing. Pins: the corpus's 10% exact-dup / 10% near-dup rates and
  * bounded doc lengths; the pair graph's component structure (size-1000
  * components whose count scales with the edge count). */
class ScaleCorpusSynthSpec extends SparkSpec {

  "synthCorpus" should "hold 10% exact-dup and 10% near-dup rates at any size" in {
    val c = Synth.synthCorpus(spark, 1000L).cache()
    c.count() shouldBe 1000L
    // x7 is an exact copy of x0: exactly 100 duplicated texts
    c.agg(countDistinct(col("text"))).head().getLong(0) shouldBe 900L
    // x8 is a NEAR duplicate of x0: differs from it, but shares most tokens
    val pairs = c.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 8).as("doc_id"), col("text").as("orig"))
      .join(c, "doc_id")
    pairs.filter(col("text") === col("orig")).count() shouldBe 0L
    val sharedFrac = pairs.select(
      (arrSize(array_intersect(split(col("text"), " "), split(col("orig"), " ")))
        .cast("double") / arrSize(split(col("orig"), " "))).as("f"))
      .agg(avg("f")).head().getDouble(0)
    sharedFrac should be > 0.85
    // doc lengths stay in the declared 50–149 token band
    val lens = c.select(arrSize(split(col("text"), " ")).as("n"))
      .agg(min("n"), max("n")).head()
    lens.getInt(0) should be >= 50
    lens.getInt(1) should be <= 149
    c.unpersist()
  }

  "synthCorpusZipf" should "be Zipf-shaped with the same duplicate structure, and the capped miner must still find its near-dups" in {
    val c = Synth.synthCorpusZipf(spark, 1000L).cache()
    c.count() shouldBe 1000L
    c.agg(countDistinct(col("text"))).head().getLong(0) shouldBe 900L
    // Zipf shape: the single most frequent token carries a constant
    // FRACTION of all tokens (≈ 1/ln V ≈ 9% at V = 50k) — the property
    // that creates hot shingles; a uniform vocabulary gives ~0.02%
    val tok = c.select(explode(split(col("text"), " ")).as("t"))
      .filter(org.apache.spark.sql.functions.length(col("t")) > 0)
    val total = tok.count().toDouble
    val topShare = tok.groupBy("t").count()
      .orderBy(col("count").desc).limit(1).head().getLong(1) / total
    topShare should be > 0.05
    // the hot-bucket cap must not cost the miner its real pairs on the
    // Zipf corpus. Exact copies (x0, x7) share every band bucket and
    // sit at jaccard 1.0 — all 100 must be found; the (x0, x8) near
    // dups sit near shingle-jaccard ~0.7 (every 17th token replaced
    // corrupts 3 shingles each), where 8-band x 4-row banding's
    // theoretical recall is 1 - (1 - J^4)^8 ~ 0.89 - mine at a 0.5
    // threshold and require the found fraction within that theory's
    // reach (>= 0.75 leaves room for repeated-token shingle-set
    // shrinkage pushing J below 0.7; measured 0.83 on this corpus)
    val pairs = graft.text.TextDedup
      .minhashNearDup(c, "doc_id", "text", minJaccard = 0.5).cache()
    pairs.filter(col("doc_b") - col("doc_a") === 7 &&
      pmod(col("doc_a"), lit(10)) === 0 && col("jaccard") === 1.0)
      .count() shouldBe 100L
    val near = pairs.filter(col("doc_b") - col("doc_a") === 8 &&
      pmod(col("doc_a"), lit(10)) === 0).count()
    near.toDouble / 100.0 should be >= 0.75
    pairs.unpersist()
    c.unpersist()
  }

  "synthEdges" should "produce ~1000-node components whose count scales with n" in {
    val groups = graft.text.TextDedup.duplicateGroups(
      Synth.synthEdges(spark, 100000L), "doc_a", "doc_b")
    // 100k edges = blocks 0–999 fused in runs of 10, plus the final
    // id (100000) alone in block 1000 as a self-loop singleton
    val profile = groups.groupBy("group_id").count().cache()
    profile.count() shouldBe 101L
    // each run: 10 blocks × 100 nodes, minus the 9 rim nodes whose
    // chain edge was traded for the hub-to-hub glue
    profile.filter(col("count") === 991).count() shouldBe 100L
    profile.filter(col("count") === 1).count() shouldBe 1L
    profile.unpersist()
  }
}
