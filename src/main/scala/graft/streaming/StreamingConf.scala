package graft.streaming

import org.apache.spark.sql.SparkSession

/** Session configuration for production-scale stateful streaming
  * (SURVEY.md §4): the default HDFS-backed state store keeps every key in
  * executor heap — fine for the reference's 150-slot universe, fatal when
  * the key space is 100× (per-vehicle sessions over a national fleet).
  * RocksDB spills state to local disk with a bounded block cache, and
  * changelog checkpointing ships per-batch deltas instead of full
  * snapshots, so state size is bounded by disk, not heap.
  *
  * Callers opt in per session (the streaming job entry points in
  * [[graft.jobs.Jobs]] do it by default); Spark reads the provider at
  * query start, and existing checkpoints keep their original provider.
  * Checkpoint I/O is a separate session conf,
  * [[useLocalCheckpointFileManager]], that every `Jobs` stream applies.
  */
object StreamingConf {

  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Configure RocksDB-backed state for subsequently started streams. */
  def useRocksDbState(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
    // delta-only commits; snapshot maintenance happens in the background
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    spark
  }

  val CheckpointFileManagerKey: String = "spark.sql.streaming.checkpointFileManagerClass"

  /** Write checkpoints on `file:` paths through [[LocalCheckpointFileManager]]
    * for subsequently started streams, unless the session already names a
    * checkpoint file manager. Other schemes keep Spark's own manager. */
  def useLocalCheckpointFileManager(spark: SparkSession): SparkSession = {
    if (spark.conf.getOption(CheckpointFileManagerKey).isEmpty)
      spark.conf.set(CheckpointFileManagerKey, classOf[LocalCheckpointFileManager].getName)
    spark
  }
}
