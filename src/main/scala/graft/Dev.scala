package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, count, lit, window}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.{StreamRun, StreamSources}

/** Dev main for optimization work: shows how Catalyst and the streaming
  * engine ran registry rows. Every mode observes the run only through
  * Spark's own listener events (jobs, SQL executions, streaming progress),
  * through one [[Tap]] on the listener bus for the duration of the mode —
  * no library code carries a debug switch.
  *
  * Usage: sbt "runMain graft.Dev <mode> ..."
  *   explain <outDir> <rows> [suffix]  per row, `<outDir>/<row>_<suffix>.txt`
  *       (suffix default `before`): the formatted plan of the row's result,
  *       then the physical plan of every streaming micro-batch that ran
  *       while the row was built
  *   profile <rows>  per row, one warm and three timed noop-sink runs; for
  *       the median run, every Spark job's wall time and call site, the
  *       driver gap (total − Σ job wall: planning, codegen, driver-side
  *       work) and each micro-batch's durationMs
  *   floor [agg|stateless] [iters]  the streaming fixed floor (defaults agg,
  *       6): a stream no row survives, through the same
  *       `StreamRun.toBatch(df, "append", numPartitions = 4)` as Bench's
  *       floor_s, split into build, run (incl. checkpoint removal), read,
  *       start latency and per-batch durationMs
  * `<rows>` is a comma list of [[SparkEntry.queries]] names.
  *   env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *        SPARK_GRAFT_CPUS (default 4).
  * Not part of the driver contract; prints human-readable lines only.
  */
object Dev {

  val usage: String = "usage: Dev explain <outDir> <rows> [suffix] | " +
    "Dev profile <rows> | Dev floor [agg|stateless] [iters]"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try run(spark, sfDir, args.toList) finally spark.stop()
  }

  /** Runs one mode on an existing session, with a [[Tap]] attached for
    * its duration only. */
  def run(spark: SparkSession, sfDir: String, args: List[String]): Unit = {
    val tap = new Tap(spark)
    spark.sparkContext.addSparkListener(tap)
    try args match {
      case "explain" :: outDir :: rows :: suffix if suffix.size <= 1 =>
        explain(spark, tap, sfDir, Paths.get(outDir), rows, suffix.headOption.getOrElse("before"))
      case List("profile", rows) => profile(spark, tap, sfDir, rows)
      case "floor" :: rest if rest.size <= 2 =>
        floor(spark, tap, sfDir, rest.headOption.getOrElse("agg"), rest.lift(1).fold(6)(_.toInt))
      case _ => throw new IllegalArgumentException(usage)
    } finally spark.sparkContext.removeSparkListener(tap)
  }

  /** Each named row in turn; a failure is reported and the next row runs. */
  private def eachRow(rows: String)(body: (String, (SparkSession, String) => DataFrame) => Unit): Unit =
    rows.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      try body(name, SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name")))
      catch { case t: Throwable => System.err.println(s"[dev] $name failed: $t") }
      finally Caches.releaseAll()
    }

  private def explain(spark: SparkSession, tap: Tap, sfDir: String, outDir: Path,
      rows: String, suffix: String): Unit = {
    Files.createDirectories(outDir)
    eachRow(rows) { (name, fn) =>
      tap.reset()
      // a stream row runs its micro-batches while it is built
      val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      tap.settle()
      val batches = tap.batchPlans.asScala.map { case (label, p) => s"\n== Micro-batch $label ==\n$p" }
      val file = outDir.resolve(s"${name}_$suffix.txt")
      Files.writeString(file, plan + batches.mkString)
      println(s"[explain] wrote $file (${batches.size} micro-batch plans)")
    }
  }

  private def profile(spark: SparkSession, tap: Tap, sfDir: String, rows: String): Unit =
    eachRow(rows) { (name, fn) =>
      Bench.materialize(fn(spark, sfDir)) // warm run: JIT, codegen, IO
      // median of 3 timed runs; the tables printed are the median run's
      val timed = Seq.fill(3) {
        tap.reset()
        val t0 = System.nanoTime()
        Bench.materialize(fn(spark, sfDir))
        val totalS = (System.nanoTime() - t0) / 1e9
        tap.settle()
        (totalS, tap.jobs.asScala.toSeq.sortBy(_._1), tap.progress.asScala.toSeq)
      }
      val (totalS, jobs, batches) = timed.sortBy(_._1).apply(1)
      val jobSum = jobs.map(_._2).sum / 1e3
      println(f"==== $name: median total $totalS%.2f s " +
        f"(runs ${timed.map(t => f"${t._1}%.2f").mkString("/")}), " +
        f"${jobs.length} jobs, job-wall sum $jobSum%.2f s, " +
        f"driver gap ${totalS - jobSum}%.2f s ====")
      jobs.foreach { case (id, ms, site) => println(f"  job $id%4d ${ms / 1e3}%7.3f s  $site") }
      batches.foreach(p => println(batchLine(p)))
    }

  private def floor(spark: SparkSession, tap: Tap, sfDir: String, variant: String,
      iters: Int): Unit = {
    def events = StreamSources.eventsWithTime(spark, sfDir).filter(col("event_id") < 0)
    val build: () => DataFrame = variant match {
      case "agg" => // Bench's floor query: watermark + windowed agg, no row survives
        () => events.withWatermark("event_time", "1 hour")
          .groupBy(window(col("event_time"), "1 hour")).agg(count(lit(1)).as("n"))
      case "stateless" => // no state store, no watermark: the source + sink floor
        () => events.select(col("event_id"))
      case other => throw new IllegalArgumentException(s"unknown floor variant $other")
    }
    implicit val sp: SparkSession = spark
    (0 until iters).foreach { i =>
      tap.reset()
      val t0 = System.nanoTime()
      val df = build()
      val t1 = System.nanoTime()
      val startedAt = System.currentTimeMillis()
      val out = StreamRun.toBatch(df, "append", numPartitions = 4)
      val t2 = System.nanoTime()
      out.count()
      val t3 = System.nanoTime()
      tap.settle()
      val batches = tap.progress.asScala.toSeq
      // toBatch call to first trigger: checkpoint, source init, first offset latch
      val startMs = batches.headOption.fold(-1L)(p =>
        java.time.Instant.parse(p.timestamp).toEpochMilli - startedAt)
      def ms(a: Long, b: Long): Double = (b - a) / 1e6
      println(f"[$i] total ${ms(t0, t3)}%8.1f ms = build ${ms(t0, t1)}%7.1f + " +
        f"run ${ms(t1, t2)}%7.1f + read ${ms(t2, t3)}%6.1f; start latency $startMs%d ms")
      batches.foreach(p => println(batchLine(p)))
    }
  }

  private def batchLine(p: StreamingQueryProgress): String =
    f"      ${p.name} batch ${p.batchId}%2d rows=${p.numInputRows}%5d durations=${p.durationMs}"

  private val MarkerKey = "graft.dev.marker"

  /** What a mode sees of a run: finished Spark jobs (id, wall ms, call
    * site), the physical plan of every streaming micro-batch's SQL
    * execution, and every micro-batch's progress. Streaming query events
    * are bus events too, so one listener on one ordered queue sees all
    * three, and one marker job flushes them all. */
  private final class Tap(spark: SparkSession) extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[(Int, Long, String)]()
    val batchPlans = new ConcurrentLinkedQueue[(String, String)]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    private val open = new ConcurrentHashMap[Int, (Long, String)]()
    @volatile private var token = ""
    @volatile private var markerJob = -1
    @volatile private var markerDone = new CountDownLatch(0)

    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (Option(js.properties).exists(_.getProperty(MarkerKey) == token)) markerJob = js.jobId
      else {
        // the result stage's call site names what the job computes
        val site = js.stageInfos.sortBy(_.stageId).map(si =>
          s"${si.name.takeWhile(_ != '+').trim}[${si.numTasks}]").mkString(" <- ")
        open.put(js.jobId, (js.time, site))
      }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      if (je.jobId == markerJob) markerDone.countDown()
      else Option(open.remove(je.jobId)).foreach { case (t0, site) =>
        jobs.add((je.jobId, je.time - t0, site))
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      // a micro-batch's root execution; its description is the batch's
      // "<query name>\nid = …\nrunId = …\nbatch = <n>"
      case s: SparkListenerSQLExecutionStart if s.description.contains("\nrunId = ") &&
          s.rootExecutionId.forall(_ == s.executionId) =>
        val lines = s.description.linesIterator.toSeq
        batchPlans.add(s"${lines.head} ${lines.last}" -> s.physicalPlanDescription): Unit
      case p: StreamingQueryListener.QueryProgressEvent => progress.add(p.progress): Unit
      case _ =>
    }

    /** Blocks until every event posted so far has reached this tap: a
      * marker job's end arrives after all earlier events on its queue. A
      * finished toBatch has posted all of its stream's events. */
    def settle(): Unit = {
      token = java.util.UUID.randomUUID().toString
      markerDone = new CountDownLatch(1)
      val sc = spark.sparkContext
      sc.setLocalProperty(MarkerKey, token)
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(MarkerKey, null)
      markerDone.await(30, TimeUnit.SECONDS): Unit
    }

    /** Settles, then forgets everything seen so far. */
    def reset(): Unit = { settle(); jobs.clear(); batchPlans.clear(); progress.clear() }
  }
}
