package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.streaming.{FfatInT, FfatStreamOut, StatefulOps, StreamSources}

/** The open-loop workload: `StreamSources.rate` → a seeded key and cents
  * per row → filter → `withWatermark(1 s)` → `StatefulOps.
  * slidingWindowsFfatAppend` (10 s windows sliding by 2 s) → a
  * `foreachBatch` sink owned by the harness, triggered every second (the
  * rate source releases rows once a second).
  *
  * The rate source releases rows on the wall clock and stamps each with its
  * due time, so it never slows down when the engine does: a backlog shows
  * as lag. Every row's fields are a function of its index and the salt
  * (see [[rows]]), so the checker can rebuild the input exactly.
  *
  *   stages=<name:rowsPerSecond,..>  the fixed rates, each held `seconds`;
  *                                   untraced runs hold only the last one
  *   warmup_seconds                  unmeasured start of every stage
  *   salt                            the seeded key/cents salt
  *   setup_rounds                    set-up repetitions (median reported)
  *   one_core_rate                   (traced runs) rate of the local[1] run
  */
object OpenLoop {
  val Keys = 1000L
  val LenUs: Long = 10L * 1000 * 1000
  val SlideUs: Long = 2L * 1000 * 1000

  /** One window result as the sink saw it, stamped when it was in hand. */
  final case class Emitted(batch: Long, emitMs: Long, out: FfatStreamOut)

  final class Sink {
    val emitted = mutable.ArrayBuffer[Emitted]()
    val batchMs = mutable.ArrayBuffer[Double]()
    def apply(ds: Dataset[FfatStreamOut], id: Long): Unit = {
      val t0 = System.nanoTime()
      val got = ds.collect()
      val now = System.currentTimeMillis()
      batchMs += Main.seconds(t0) * 1e3
      synchronized(got.foreach(o => emitted += Emitted(id, now, o)))
    }
  }

  /** Key and cents of row `value`: a multiplicative hash modulo a prime,
    * all in non-negative 64-bit integers, so any engine recomputes it
    * exactly. About one row in eight is filtered out (cents % 8 = 0). */
  def rows(spark: SparkSession, rate: Long, salt: Long): Dataset[FfatInT] = {
    import spark.implicits._
    StreamSources.rate(spark, rate)
      .observe("source", count(lit(1)).as("n"), min(col("value")).as("vmin"),
        max(col("value")).as("vmax"), min(unix_millis(col("timestamp"))).as("tmin"))
      .withColumn("h", pmod(col("value") * 2654435761L + lit(salt), lit(4294967291L)))
      .select(concat(lit("k"), (col("h") % Keys).cast("string")).as("key"),
        unix_micros(col("timestamp")).as("ts_us"),
        ((col("h") / 1000).cast("long") % 100000L).as("cents"),
        col("timestamp").as("event_time"))
      .filter(col("cents") % 8 =!= 0)
      .withWatermark("event_time", "1 second")
      .as[FfatInT]
  }

  private def start(spark: SparkSession, a: Args, rate: Long, sink: Sink, tag: String) = {
    implicit val sp: SparkSession = spark
    StatefulOps.slidingWindowsFfatAppend(rows(spark, rate, a("salt").toLong), LenUs, SlideUs)
      .writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(1000L))
      .option("checkpointLocation", s"${a("work")}/ckpt-$tag-${java.util.UUID.randomUUID()}")
      .foreachBatch((ds: Dataset[FfatStreamOut], id: Long) => sink(ds, id))
      .start()
  }

  /** Hold one rate for a start-up period and then `seconds` more, then
    * stop; returns the stage record. Only the second part is measured. */
  private def stage(spark: SparkSession, a: Args, name: String, rate: Long,
      seconds: Double): Map[String, Any] = {
    val warmupMs = a("warmup_seconds").toDouble * 1000
    val sink = new Sink
    spans(s"stage:$name") {
      // start on a fixed phase of the slide grid: the source then releases
      // each second of rows about 0.4 s before a trigger tick (ticks fall on
      // whole epoch seconds), so neither the release-to-tick wait nor the
      // offset to window ends changes from run to run
      Thread.sleep(Math.floorMod(500L - System.currentTimeMillis(), SlideUs / 1000))
      val q = spans("stream.start")(start(spark, a, rate, sink, name))
      val measureFrom = System.currentTimeMillis() + warmupMs.toLong
      spans("stream.run")(Thread.sleep(warmupMs.toLong))
      val (cpu0, steal0) = (Main.cpuSeconds(), Main.stealSeconds())
      spans("stream.run")(Thread.sleep((seconds * 1000).toLong))
      val (cpu, steal) = (Main.cpuSeconds() - cpu0, Main.stealSeconds() - steal0)
      spans("stream.stop")(q.stop())
      val progress = q.recentProgress.toSeq
      val file = s"${a("out")}/stage-$name.csv"
      val lines = sink.synchronized(sink.emitted.map { e =>
        val o = e.out
        s"${e.batch},${e.emitMs},${o.event_type},${o.win_start_us},${o.cnt},${o.sum_cents}," +
          s"${o.min_cents},${o.max_cents}"
      })
      Files.write(Paths.get(file),
        ("batch,emit_ms,key,win_start_us,cnt,sum_cents,min_cents,max_cents\n" +
          lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      Map("name" -> name, "rate" -> rate, "seconds" -> seconds, "salt" -> a("salt").toLong,
        "measure_from_ms" -> measureFrom, "measure_to_ms" -> System.currentTimeMillis(),
        "results" -> file, "sink_ms" -> sink.batchMs.toList, "cpu_s" -> cpu, "steal_s" -> steal,
        "batches" -> progress.map(batch))
    }
  }

  private def batch(p: StreamingQueryProgress): Map[String, Any] = {
    val src = Option(p.observedMetrics.get("source"))
    def obs(f: String): Any = src.flatMap(r =>
      if (r.isNullAt(r.fieldIndex(f))) None else Some(r.getAs[Any](f))).orNull
    val state = p.stateOperators.headOption
    Map(
      "id" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "watermark_ms" -> Option(p.eventTime.get("watermark"))
        .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(0L),
      "vmin" -> obs("vmin"), "vmax" -> obs("vmax"), "tmin" -> obs("tmin"),
      "state_rows" -> state.map(_.numRowsTotal).getOrElse(0L),
      "state_memory_bytes" -> state.map(_.memoryUsedBytes).getOrElse(0L),
      "state_commit_ms" -> state.map(_.commitTimeMs).getOrElse(0L),
      "state_update_ms" -> state.map(_.allUpdatesTimeMs).getOrElse(0L),
      "state_removal_ms" -> state.map(_.allRemovalsTimeMs).getOrElse(0L),
      "state_dropped" -> state.map(_.numRowsDroppedByWatermark).getOrElse(0L))
  }

  private var spans = new Spans("")

  def run(a: Args): Map[String, Any] = {
    val cores = a.int("cores")
    spans = new Spans(s"${a("seed")}-${java.util.UUID.randomUUID().toString.take(8)}")
    val stages = a.list("stages").map { s =>
      val i = s.indexOf(':'); s.take(i) -> s.drop(i + 1).toLong
    }
    val seconds = a("seconds").toDouble

    // set-up: a fresh session, then one query started through its first
    // data batch (planning, state store, codegen), then stopped
    var spark: SparkSession = null
    val setupRounds = (1 to a.int("setup_rounds")).map { r =>
      if (spark != null) Main.stop(spark)
      val t0 = System.nanoTime()
      spark = Main.session(a, cores)
      val sink = new Sink
      val q = start(spark, a, stages.head._2, sink, s"setup$r")
      while (!q.recentProgress.exists(_.numInputRows > 0)) Thread.sleep(10)
      q.stop()
      Main.seconds(t0)
    }

    val out = mutable.Map[String, Any]("setup_rounds_s" -> setupRounds)
    if (!a.flag("trace")) {
      val (hn, hr) = stages.last
      out("stages") = Seq(stage(spark, a, hn, hr, seconds))
    } else {
      // the untraced high stage is the tracing-overhead base; the traced
      // stages give the per-layer split; the local[1] stage is the
      // single-core baseline. Four stages, so each is held half as long.
      val (hn, hr) = stages.last
      out("untraced") = stage(spark, a, hn, hr, seconds / 2)
      val layers = new Layers
      layers.attach(spark)
      out("stages") = stages.map { case (n, r) => stage(spark, a, s"traced-$n", r, seconds / 2) }
      out("layers") = layers.snapshot(spark)._1
      layers.detach(spark)
      Main.stop(spark)
      spark = Main.session(a, 1)
      out("one_core") = stage(spark, a, "one-core", a("one_core_rate").toLong, seconds / 2)
    }
    Main.stop(spark)
    out("spans") = spans.toJson
    out.toMap
  }
}
