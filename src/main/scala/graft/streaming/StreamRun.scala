package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import java.util.concurrent.atomic.AtomicInteger

/** Finite streaming execution — the reference's run()/EOS lifecycle
  * (/root/reference/wf/pipegraph.hpp:610-698): sources drain, stateful
  * operators flush, sinks see end-of-stream. In Spark that is
  * `Trigger.AvailableNow` + query termination (SURVEY §3.3).
  */
object StreamRun {

  private val n = new AtomicInteger(0)

  // Distinguishes concurrent JVMs (sbt test alongside Verify/Bench): the
  // per-JVM counter alone would collide on the shared tmpfs checkpoint root
  // and corrupt both offset/state logs.
  private val jvmTag: String = java.util.UUID.randomUUID().toString.take(8)

  /** Run a (possibly streaming) DataFrame to completion into an in-memory
    * sink and return its rows as a batch DataFrame (no catalog view is
    * left behind; `graft.Dev explain` shows the micro-batch plans).
    * Single-batch for file sources (no maxFilesPerTrigger), so Update-mode
    * state operators emit exactly once per key/window.
    *
    * `requireSingleDataBatch` turns that delivery shape from an
    * assumption into an assertion (checked on the query's progress
    * events): the TTL oracle rows share the non-TTL oracle on the
    * argument that eviction can only fire in the trailing no-data batch,
    * which holds ONLY under single-batch delivery — a harness that sets
    * maxFilesPerTrigger (as RecoverySpec deliberately does) would let a
    * mid-run EventTimeTimeout evict live state and silently diverge from
    * the shared oracle, and this check makes that misuse loud instead.
    */
  def toBatch(df: DataFrame, outputMode: String, numPartitions: Int = 8,
      requireSingleDataBatch: Boolean = false, noDataBatch: Boolean = true)(
      implicit spark: SparkSession): DataFrame = {
    val name = s"graft_stream_${n.incrementAndGet()}"
    // Streaming state operators instantiate one state store per shuffle
    // partition per operator, and every store loads, writes a delta file
    // and commits in every micro-batch whether or not it holds any keys;
    // these bounded verification runs hold little state, so run the
    // stream with a small fixed partition count (restored after). A
    // continuous deployment sizes this to key cardinality instead.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", numPartitions.toString)
    // noDataBatch = false skips the trailing no-data micro-batch (one
    // whole incremental plan + state-commit round, measured 0.2-0.9 s
    // per row at sf0.1). ONLY valid for sinks whose content the trailing
    // batch cannot change: update-mode windowed aggregations (watermark
    // eviction emits nothing in update mode) and stateless rows. Rows
    // that rely on the trailing batch — append-mode watermark
    // finalization, EventTimeTimeout eviction (TTL twins, KSlack,
    // interval-join purge), session-window close — MUST keep the
    // default. The conf is captured by MicroBatchExecution at start, so
    // setting it around start() scopes it to this one query.
    val prevNoData =
      spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    if (!noDataBatch)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try withCheckpoint(None, name) { ckpt =>
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      // restore the two session-global confs as soon as start() returns:
      // MicroBatchExecution clones the session (and thus captures both) at
      // start, so the query keeps its values, while any other query started
      // on this session before awaitTermination returns (r16 advice:
      // concurrent toBatch, or a row starting a query inside the window)
      // sees the session defaults instead of this run's overrides.
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      q.awaitTermination()
      if (requireSingleDataBatch) {
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        require(dataBatches == 1,
          s"expected exactly one data batch (AvailableNow file source, no " +
            s"maxFilesPerTrigger), saw $dataBatches — the shared non-TTL " +
            "oracle is invalid under multi-batch delivery")
      }
    } finally {
      // idempotent re-restore: covers the start()-throws path, where the
      // early restore above never ran
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
    // the resolved frame's plan holds the sink itself, so the catalog
    // view can go: a long-lived session no longer pins every run's rows
    try spark.table(name) finally spark.catalog.dropTempView(name)
  }

  /** Run a pre-configured external-sink stream to completion — the
    * write-side face of the finite run()/EOS lifecycle: AvailableNow
    * trigger, throwaway checkpoint (tmpfs when available; external DSv2
    * sinks, unlike the memory sink, REQUIRE a checkpoint location),
    * cleaned up after termination. The caller supplies the writer with
    * format/options already set (e.g. [[graft.api.Pipe.kafkaSink]]).
    */
  def drain[T](w: org.apache.spark.sql.streaming.DataStreamWriter[T]): Unit =
    withCheckpoint(None, "graft_drain") { ckpt =>
      w.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start().awaitTermination()
    }

  /** Run `body` against a checkpoint location. An `explicit` one (the
    * restart path) is used and kept. Otherwise the run is throwaway: the
    * checkpoint (offset and commit logs plus state-store files, a few
    * small files per micro-batch) goes on tmpfs when writable, else under
    * java.io.tmpdir, and is deleted afterwards — also when `body` throws,
    * so repeated failing runs leak nothing. A durable deployment passes
    * real storage explicitly.
    */
  private[graft] def withCheckpoint[T](explicit: Option[String],
      name: String)(body: String => T): T = {
    val ckpt = explicit.getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite)
        s"/dev/shm/graft-ckpt/$jvmTag/$name-${n.incrementAndGet()}"
      else java.nio.file.Files.createTempDirectory(s"graft-ckpt-$name").toString
    }
    try body(ckpt)
    finally if (explicit.isEmpty)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
  }

  /** Foreach sink with the reference Sink's lifecycle: per-tuple process
    * plus a closing callback (wf/sink.hpp:166-179 EOS `None`;
    * wf/builders.hpp:116 withClosingFunction ≡ ForeachWriter.close).
    */
  def foreachSink[T](ds: org.apache.spark.sql.Dataset[T])(
      onTuple: T => Unit, onClose: () => Unit): org.apache.spark.sql.streaming.DataStreamWriter[T] =
    ds.writeStream.foreach(new org.apache.spark.sql.ForeachWriter[T] {
      override def open(partitionId: Long, epochId: Long): Boolean = true
      override def process(value: T): Unit = onTuple(value)
      override def close(errorOrNull: Throwable): Unit = onClose()
    })
}
