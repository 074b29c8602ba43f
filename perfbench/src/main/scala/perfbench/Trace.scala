package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span around a call the harness makes into a layer. Times are
  * nanoseconds on the JVM's monotonic clock; `parent` is -1 for a root. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int)

/** Spans kept in memory for the whole run and written out at the end.
  * Nesting follows the calling thread, so every span's parent is the span
  * open around it when it started. */
final class Spans(val runId: String) {
  private val done = mutable.ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  def apply[T](name: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = open.get.headOption.getOrElse(-1)
    open.set(id :: open.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(open.get.tail)
      synchronized { done += Span(id, name, t0, t1, parent) }
    }
  }

  def all: Seq[Span] = synchronized(done.toList)

  def toJson: Seq[Map[String, Any]] = all.sortBy(_.startNs).map(s =>
    Map("run" -> runId, "id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "parent" -> s.parent))
}

/** Counters filled by Spark's listener interfaces: a `SparkListener` for
  * jobs, stages and task metrics, a `QueryExecutionListener` for Catalyst
  * phase times and a `StreamingQueryListener` for micro-batch progress.
  * [[snapshot]] drains the listener bus and returns-and-resets the counts,
  * so the harness can attribute them to the call that caused them. */
final class Layers extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobStart = mutable.Map[Int, Long]()
  private var intervals = List.empty[(Long, Long)]
  private var peakTaskMem = 0L
  private val started = mutable.Map[java.util.UUID, Long]()

  private def add(k: String, v: Double): Unit = c(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("spark.jobs", 1); jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => intervals ::= (t0, e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("spark.stages", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.run_s", m.executorRunTime / 1e3)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("exec.deser_s", m.executorDeserializeTime / 1e3)
      add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
      add("scan.records", m.inputMetrics.recordsRead.toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      peakTaskMem = math.max(peakTaskMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => add(s"catalyst.${p}_s", s.durationMs / 1e3))
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Layers.this.synchronized {
        add("stream.queries", 1)
        started(e.id) = java.time.Instant.parse(e.timestamp).toEpochMilli
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Layers.this.synchronized {
        val p = e.progress
        add("stream.batches", 1)
        if (p.numInputRows == 0) add("stream.nodata_batches", 1)
        val d = p.durationMs.asScala
        def ms(k: String): Double = d.get(k).map(_.doubleValue).getOrElse(0.0)
        add("stream.query_planning_s", ms("queryPlanning") / 1e3)
        add("stream.add_batch_s", ms("addBatch") / 1e3)
        add("stream.wal_commit_s", ms("walCommit") / 1e3)
        add("stream.commit_offsets_s", ms("commitOffsets") / 1e3)
        add("stream.latest_offset_s", ms("latestOffset") / 1e3)
        started.remove(p.id).foreach { t0 =>
          add("stream.start_s", (java.time.Instant.parse(p.timestamp).toEpochMilli - t0) / 1e3)
        }
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }

  /** Drain the listener bus, then return and reset every counter. Job
    * intervals (epoch ms) come back merged, for the driver-gap split. */
  def snapshot(spark: SparkSession): (Map[String, Double], Seq[(Long, Long)]) = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val out = c.toMap + ("exec.peak_task_mem_bytes" -> peakTaskMem.toDouble)
      val iv = Layers.merge(intervals)
      c.clear(); intervals = Nil; peakTaskMem = 0L
      (out, iv)
    }
  }
}

object Layers {
  /** Union of closed intervals, as disjoint sorted intervals. */
  def merge(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse
}
