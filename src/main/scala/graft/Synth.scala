package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic inputs for the [[Rehearse]] rungs (and the
  * specs that pin their structure): corpora, pair graphs and embeddings
  * at sizes the sf dirs cannot reach. Synthetic on purpose — the real sf
  * dirs stop at 5 000 docs/vectors, and the operators' cost drivers
  * (duplicate rate, shingle cardinality, component structure, bucket
  * occupancy) are controlled explicitly here. All generation is
  * expression-only (no driver loops, no RNG state). */
object Synth {

  /** Synthetic corpus with sf0.1's shape (≈300-char docs, heavy exact +
    * near duplicate structure): per 10-doc block, docs x0–x6 and x9 are
    * unique, x7 is an EXACT duplicate of x0, and x8 is a NEAR duplicate
    * of x0 (every 17th token replaced) — so exact-dup rate 10% and
    * near-dup rate 10% hold at every size, token vocabulary is a fixed
    * 5 000 (shingle df grows with n, stressing the df-cap exactly as a
    * real corpus would), and doc lengths vary 50–149 tokens. */
  def synthCorpus(spark: SparkSession, n: Long): DataFrame = {
    val seed = when(pmod(col("id"), lit(10)).isin(7, 8),
      expr("(id div 10) * 10")).otherwise(col("id")).cast("long")
    val perturb = pmod(col("id"), lit(10)) === 8
    spark.range(n).select(col("id").as("doc_id"),
        seed.as("__s"), perturb.as("__p"))
      .select(col("doc_id"), array_join(expr(
        // token k of doc seed s: "w" ++ hash(s·1000003 + k) mod 5000;
        // near-dups swap every 17th token for a doc-unique one
        "transform(sequence(0, 49 + pmod(hash(__s), 100)), k -> " +
          "concat('w', CAST(pmod(hash(__s * 1000003L + k), 5000) AS STRING)) || " +
          "IF(__p AND k % 17 = 3, concat('x', CAST(pmod(hash(doc_id * 31L + k), 99989) AS STRING)), ''))"),
        " ").as("text"))
  }

  /** Web-shaped twin of [[synthCorpus]]: same duplicate structure and
    * lengths, but tokens drawn ZIPFIAN from a 50 000-word vocabulary
    * (rank = floor(V^u) for uniform u — P(rank) ∝ 1/rank, the standard
    * log-uniform inverse-CDF) instead of uniformly from 5 000. Real text
    * is Zipfian; the uniform corpus inflates mid-frequency n-gram df
    * (every token equally common → every trigram moderately common),
    * making df-capped operators look pessimistic and the cap's effect
    * unrealistic. The ladder runs BOTH so the 100× numbers bracket real
    * data (round-8 verdict item 7). */
  def synthCorpusZipf(spark: SparkSession, n: Long,
                      vocab: Int = 50000): DataFrame = {
    val seed = when(pmod(col("id"), lit(10)).isin(7, 8),
      expr("(id div 10) * 10")).otherwise(col("id")).cast("long")
    val perturb = pmod(col("id"), lit(10)) === 8
    spark.range(n).select(col("id").as("doc_id"),
        seed.as("__s"), perturb.as("__p"))
      .select(col("doc_id"), array_join(expr(
        // uniform u ∈ (0,1) from the token's hash; rank = floor(V^u)
        "transform(sequence(0, 49 + pmod(hash(__s), 100)), k -> " +
          s"concat('z', CAST(CAST(pow($vocab.0, " +
          "(pmod(hash(__s * 1000003L + k), 1000000) + 0.5) / 1000000.0) AS BIGINT) AS STRING)) || " +
          "IF(__p AND k % 17 = 3, concat('x', CAST(pmod(hash(doc_id * 31L + k), 99989) AS STRING)), ''))"),
        " ").as("text"))
  }

  /** Zipf-`s` corpus with [[synthCorpus]]'s duplicate structure and
    * lengths. Sampling by inverse CDF on the bounded power law:
    * rank = (1 − u·(1 − V^(1−s)))^(1/(1−s)), u uniform from the token's
    * hash — rank 1 is drawn with P ∝ 1, rank V with P ∝ V^(−s).
    * At s = 1.2, V = 50 000: the top token carries ~3.5% of all
    * occurrences (vs ~0.9% at s = 1.0). */
  def synthCorpusZipfS(spark: SparkSession, n: Long, s: Double,
                       vocab: Int = 50000): DataFrame = {
    val seed = when(pmod(col("id"), lit(10)).isin(7, 8),
      expr("(id div 10) * 10")).otherwise(col("id")).cast("long")
    val perturb = pmod(col("id"), lit(10)) === 8
    val oneMinusS = 1.0 - s
    spark.range(n).select(col("id").as("doc_id"),
        seed.as("__s"), perturb.as("__p"))
      .select(col("doc_id"), array_join(expr(
        "transform(sequence(0, 49 + pmod(hash(__s), 100)), k -> " +
          s"concat('z', CAST(CAST(pow(1.0 - " +
          "(pmod(hash(__s * 1000003L + k), 1000000) + 0.5) / 1000000.0 * " +
          s"(1.0 - pow($vocab.0, $oneMinusS)), 1.0 / $oneMinusS) AS BIGINT) AS STRING)) || " +
          "IF(__p AND k % 17 = 3, concat('x', CAST(pmod(hash(doc_id * 31L + k), 99989) AS STRING)), ''))"),
        " ").as("text"))
  }

  /** Synthetic pair graph with controlled component structure: per
    * 100-edge block, edges 1–89 star onto the block hub, 90–98 chain off
    * the star's rim, and edge 99 glues the block's hub to the NEXT
    * block's hub — except on every 10th block, which ends its run: the
    * components are ~1 000-node fusions of 10 blocks whose COUNT grows
    * with n while their diameter stays constant, the shape of a real
    * near-dup graph (many bounded clusters). The 10M-edge
    * union-find/iterative switch is crossed by the size ladder. */
  def synthEdges(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val inBlock = pmod(id, lit(100))
    val hub = expr("(id div 100) * 100")
    // run-ending blocks (b % 10 == 9) keep their rim chain edge instead
    // of gluing forward, so runs of 10 blocks stay separate components
    val glue = inBlock === 99 && expr("pmod(id div 100, 10)") =!= 9
    spark.range(1L, n + 1).select(
      when(inBlock < 90, hub)
        .when(glue, hub)
        .otherwise(id - 1).as("doc_a"),
      when(inBlock < 90, id)
        .when(glue, id + 1)
        .otherwise(id).as("doc_b"))
  }

  /** n deterministic dim-64 float vectors in [-0.5, 0.5): Murmur3-hashed
    * per (id, coordinate), deliberately NOT the Knuth lattice
    * [[graft.functions.AnnPrims.plane]] uses — the round-8 generator
    * shared the planes' lattice, which correlated corpus and planes so
    * badly that every rung hit ≤23 sign buckets and reported recall
    * 1.000, a degenerate testbed for the occupancy/recall questions. */
  def synthEmbeddings(spark: SparkSession, n: Long, dim: Int = 64): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), d -> " +
        s"CAST(pmod(hash(id, d), 1000003) / 1000003.0 - 0.5 AS FLOAT))")
        .as("embedding"))

  /** [[synthEmbeddings]] with every 10th vector replaced by a near
    * duplicate of its block base (id − 9): coordinate d gets the base
    * value plus (hash(id, d) mod 7 − 3) × 0.01 ∈ [−0.03, 0.03] (cosine
    * ≈ 0.996). The hash-random base corpus alone has essentially no
    * pairs above any sane threshold, and a miner rung without a recall
    * column is a speed number with no quality price. */
  def synthWithPlanted(spark: SparkSession, n: Long, dim: Int = 64): DataFrame = {
    val base = when(pmod(col("id"), lit(10)) === 9, col("id") - 9)
      .otherwise(col("id")).cast("long")
    val isDup = pmod(col("id"), lit(10)) === 9
    spark.range(n).select(col("id").as("vec_id"),
      base.as("__b"), isDup.as("__d"))
      .select(col("vec_id"), expr(s"transform(sequence(0, ${dim - 1}), d -> " +
        "CAST(pmod(hash(__b, d), 1000003) / 1000003.0 - 0.5 + " +
        "IF(__d, (pmod(hash(vec_id, d), 7) - 3) * 0.01, 0.0) AS FLOAT))")
        .as("embedding"))
  }

  /** Planted-cluster corpus: `nClusters` deterministic pseudo-random
    * centers + 10%-scale hash noise — the data shape real embedding
    * corpora have (and the two-level quantizer's operating premise; the
    * uniform corpus is its adversarial worst case). */
  def synthClustered(spark: SparkSession, n: Long, nClusters: Int,
                     dim: Int = 64): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), d -> CAST(" +
        s"(pmod(hash(id % $nClusters, d), 1000003) / 1000003.0 - 0.5) + " +
        s"0.05 * (pmod(hash(id, d), 1000003) / 1000003.0 - 0.5) AS FLOAT))")
        .as("embedding"))
}
