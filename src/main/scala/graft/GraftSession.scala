package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Design notes (100 TB posture): every setting here is cluster-safe — AQE
  * re-plans shuffles at runtime (skew-join splitting, partition coalescing),
  * shuffle partitions default to the local core count but would be raised to
  * ~2–3× total cluster cores on a real deployment, and the RocksDB state
  * store (the Spark-native replacement for the reference's entire
  * `wf/persistent/` RocksDB family, cf. /root/reference/wf/persistent/
  * db_handle.hpp:54) keeps streaming state off-heap and spillable.
  *
  * Streaming checkpoints on `file:` paths are written by
  * [[graft.streaming.LocalCheckpointFileManager]] (java.nio only): Spark's
  * default manager goes through Hadoop's local `FileContext`, which, without
  * Hadoop's native library, starts a `chmod` or `readlink` process for
  * nearly every checkpoint file, several per micro-batch. Other schemes keep
  * Spark's default. Setting `spark.sql.streaming.checkpointFileManagerClass`
  * after `configure` (or with `spark.conf.set`) overrides it.
  */
object GraftSession {

  /** Confs every Graft session needs, merged into a user-supplied builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Spark disables AQE on any plan that feeds a cache (to keep cached
      // partitioning stable) unless this is set — so every persisted
      // intermediate (shingle indexes, CC pair graphs) was materializing at
      // the RAW shuffle partition count and pinning each downstream map
      // stage to it. Measured on dedup_ngram_jaccard at 200 shuffle
      // partitions, sf0.1: 24 s → 7 s with coalescing re-enabled through
      // the cache. Explicit repartition(n) calls (PrefixSum's range pass)
      // are user-specified and remain untouched by AQE.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // The driver's events table carries parquet TIMESTAMP(NANOS), which
      // Spark only reads as raw Long nanoseconds (SPARK-40819). Queries
      // immediately convert to the engine-wide convention of int64
      // MICROseconds (`ts div 1000`), which is exactly what DuckDB 1.0
      // yields after its µs-truncating read (`epoch_us(ts)`) — so oracle
      // comparisons are integer-exact.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.LocalCheckpointFileManager].getName)

  /** The one place a Graft main builds its session: `local[cores]`,
    * [[configure]]d with `cores` shuffle partitions, no web UI, WARN
    * logging. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    local(cores, cores)

  def local(cores: Int, shufflePartitions: Int): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      shufflePartitions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Switch streaming state to RocksDB — the configuration-only equivalent
    * of the reference's entire RocksDB-backed P_* operator family
    * (/root/reference/wf/persistent/, SURVEY §2.2/§2.4): same operators,
    * state spills off-heap. Costs ~2× on small local state (measured), pays
    * off when per-key state exceeds executor memory — so it is deployment
    * config, not the library default.
    */
  def withRocksDBState(b: SparkSession.Builder): SparkSession.Builder =
    b.config(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Make an externally-created session (e.g. the driver's) Graft-ready.
    * Only runtime-settable confs can be applied here.
    */
  def adopt(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }
}
