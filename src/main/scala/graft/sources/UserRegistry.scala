package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mutable user registry as a lakehouse CDC MERGE view — the write path
  * the reference mutates over HTTP into Redis (repo-account
  * UserService.scala:54-95: create/createTemporary/delete keyed by plate)
  * re-expressed Spark-first: mutations are an APPEND-ONLY log (JSON-lines
  * files, one per request batch), and the queryable registry is
  * `base ∪ log → latest-op-per-plate` with delete tombstones and
  * temporary-user expiry applied — the standard SCD-1 upsert-merge every
  * lakehouse table format implements, as a declarative plan.
  *
  * Scale shape: the merge is ONE `max_by(struct)` aggregate keyed by
  * plate — partial map-side combine, no window, no driver state; the log
  * is read schema-first (PERMISSIVE, bad lines dropped — the S3 lesson)
  * and unioned by name. Registry reads at 100 TB are exactly as
  * partitioned as any latest-state-per-key aggregate (A12); when the log
  * grows past its base, [[compactInto]] folds it into a new base — the
  * same rewrite-compaction move as [[Layout.compact]].
  */
object UserRegistry {

  /** One mutation: the reference's UserModel fields
    * (apps/repo-account/.../UserModel.scala:6-14, trimmed to the engine's
    * dimension surface) + CDC bookkeeping. `op` ∈ {upsert, delete};
    * `mut_seq` is the total order (later wins); `expires_at` (epoch s,
    * null = permanent) models createTemporaryUser's TTL. */
  val mutationSchema: StructType = StructType(RedisRegistry.userSchema.fields ++ Seq(
    StructField("op", StringType),
    StructField("mut_seq", LongType),
    StructField("expires_at", LongType)))

  /** The mutation log as a schema'd DataFrame; a missing/empty dir is an
    * empty log (a registry with no writes yet is not an error). */
  def readLog(spark: SparkSession, logDir: String): DataFrame = {
    val dir = new java.io.File(logDir)
    val hasFiles = dir.isDirectory &&
      dir.listFiles().exists(f => f.isFile && f.getName.endsWith(".json"))
    if (!hasFiles)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        mutationSchema)
    else spark.read.schema(mutationSchema).option("mode", "PERMISSIVE")
      .json(logDir).filter(col("u_plate").isNotNull && col("op").isNotNull)
  }

  /** The merged registry: latest mutation per plate over
    * `base (as mut_seq = −1 upserts) ∪ log`, minus delete tombstones and
    * expired temporaries. `base` must carry (u_plate, username, email,
    * handicapped). Output: (u_plate, username, email, handicapped,
    * version) sorted by plate, where version is the winning mut_seq. */
  def view(base: DataFrame, log: DataFrame, nowEpochS: Long): DataFrame = {
    val baseAsLog = base.select(
      col("u_plate"), col("username"), col("email"), col("handicapped"),
      lit("upsert").as("op"), lit(-1L).as("mut_seq"),
      lit(null).cast(LongType).as("expires_at"))
    baseAsLog.unionByName(log.select(baseAsLog.columns.map(col): _*))
      .groupBy("u_plate")
      .agg(max_by(
        struct(col("username"), col("email"), col("handicapped"),
          col("op"), col("mut_seq"), col("expires_at")),
        col("mut_seq")).as("__m"))
      .select(col("u_plate"), col("__m.username").as("username"),
        col("__m.email").as("email"), col("__m.handicapped").as("handicapped"),
        col("__m.op").as("op"), col("__m.mut_seq").as("version"),
        col("__m.expires_at").as("expires_at"))
      .filter(col("op") === "upsert" &&
        (col("expires_at").isNull || col("expires_at") > nowEpochS))
      .select("u_plate", "username", "email", "handicapped", "version")
      .orderBy("u_plate")
  }

  /** The full-field base registry from the customer dimension — the same
    * deterministic derivation as [[graft.schema.ParkingModel.users]]
    * (plates for c_custkey % 7 == 0 absent; handicapped iff % 13 == 0)
    * widened to the reference UserModel's identity fields. */
  def baseUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_custkey") % 7 =!= 0)
      .select(
        concat(lit("P-"), col("c_custkey").cast("string")).as("u_plate"),
        col("c_name").as("username"),
        concat(lower(regexp_replace(col("c_name"), "Customer#", "c")),
          lit("@example.com")).as("email"),
        (col("c_custkey") % 13 === 0).as("handicapped"))

  /** Append one mutation batch to the log as a JSON-lines file. Driver-
    * side by design: registry writes arrive one HTTP request at a time
    * (the reference's jedis.set), not as a distributed job; the file
    * lands atomically via temp-file rename so a concurrent [[readLog]]
    * never sees a half-written line. */
  def appendLog(logDir: String, lines: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(logDir)
    java.nio.file.Files.createDirectories(dir)
    val name = s"mut-${System.nanoTime()}-${Thread.currentThread().getId}"
    val tmp = dir.resolve(s".$name.tmp")
    java.nio.file.Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, dir.resolve(s"$name.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Fold the current merged view into a fresh base snapshot at `outDir`
    * (parquet) — the compaction that keeps the log from growing
    * unboundedly. The caller swaps the new snapshot in and clears the
    * log; like [[Layout.compact]], write-then-swap, never in place. */
  def compactInto(base: DataFrame, log: DataFrame, nowEpochS: Long,
                  outDir: String): Unit =
    view(base, log, nowEpochS)
      .drop("version")
      .write.mode("overwrite").parquet(outDir)
}
