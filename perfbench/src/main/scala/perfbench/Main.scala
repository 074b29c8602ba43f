package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's JVM side. `perfbench/run.py` builds it, generates the
  * inputs, starts it with `key=value` arguments and checks what it wrote;
  * this program only drives the library and times it.
  *
  *   kind=registry|openloop  the workload shape
  *   out=<dir>               where results, row outputs and spans go
  *   work=<dir>              scratch for Spark (local dir, checkpoints)
  *   seconds, seed, trace, cores and the kind's own keys (see the runners)
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args(argv)
    val result = a("kind") match {
      case "registry" => RegistryRun.run(a)
      case "openloop" => OpenLoop.run(a)
      case k => sys.error(s"unknown kind $k")
    }
    val context = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "load_spin_s" -> graft.Bench.loadSpin(a.int("cores")),
      "peak_rss_mb" -> peakRssMb())
    Files.write(Paths.get(a("out"), "result.json"),
      Json.render(result ++ Map("context" -> context)).getBytes(StandardCharsets.UTF_8))
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }

  /** A Graft session as the library's own mains build one: the standard
    * configuration at `local[cores]`, one shuffle partition per core. */
  def session(a: Args, cores: Int): SparkSession = {
    val s = GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"), cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", a("work") + "/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU seconds this process has used, all threads. */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Machine-wide CPU time stolen by the hypervisor so far, in seconds
    * (the `steal` column of /proc/stat, in USER_HZ = 100 ticks/s); 0 where
    * the kernel does not report it. */
  def stealSeconds(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").lift(8).map(_.toDouble / 100).getOrElse(0.0)
    finally src.close()
  }
}

final case class Args(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k"))
  def int(k: String): Int = apply(k).toInt
  def list(k: String): Seq[String] = m.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
  def flag(k: String): Boolean = m.get(k).contains("1")
}

object Args {
  def apply(argv: Array[String]): Args = Args(argv.map { kv =>
    val i = kv.indexOf('=')
    kv.take(i) -> kv.drop(i + 1)
  }.toMap)
}
