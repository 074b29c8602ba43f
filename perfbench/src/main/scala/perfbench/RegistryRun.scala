package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caches, SparkEntry}

/** A registry workload: named `SparkEntry.queries` rows over generated
  * tables.
  *
  *   rows=<a,b,..>        the rows, in the seed-permuted order to run them
  *   families=<row:fam,..> family of each row, for the family.* split
  *   setup_rows=<a,..>    rows whose index/model set-up is part of set-up
  *   setup_dirs=<d1,..>   one alias of the table dir per set-up round; the
  *                        last one is the dir every later pass reads
  *   small=<dir>          (traced runs) the same tables at a tenth the size
  *   passes               timed passes (the caller fits them to its budget)
  *
  * Set-up is done once per alias (a fresh session, the warm-up and the
  * set-up rows, whose serve roots are keyed by the dir string, so every
  * round really builds). Then one untimed pass writes every row's output
  * for the oracle check, then each timed pass runs every row once through
  * the noop materialize and `Caches.releaseAll`.
  */
object RegistryRun {
  type Row = (SparkSession, String) => DataFrame

  def run(a: Args): Map[String, Any] = {
    val cores = a.int("cores")
    val rows = a.list("rows")
    val families = a.list("families").map { kv =>
      val i = kv.indexOf(':'); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val registry = SparkEntry.queries
    val missing = (rows ++ a.list("setup_rows")).filterNot(registry.contains)
    require(missing.isEmpty, s"rows not in SparkEntry.queries: ${missing.mkString(",")}")
    val dirs = a.list("setup_dirs")
    val dir = dirs.last

    var spark: SparkSession = null
    val setupRounds = dirs.map { d =>
      if (spark != null) Main.stop(spark)
      val t0 = System.nanoTime()
      spark = Main.session(a, cores)
      warmup(spark, d)
      a.list("setup_rows").foreach(n => materialize(registry(n)(spark, d)))
      Main.seconds(t0)
    }

    val errors = mutable.LinkedHashMap[String, String]()
    rows.foreach { n =>
      try registry(n)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"${a("out")}/rows/$n")
      catch { case t: Throwable => errors(n) = describe(t) }
      finally Caches.releaseAll()
    }

    val firstTimedS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val rng = new scala.util.Random(a("seed").toLong)
    val passCost = mutable.ArrayBuffer[Map[String, Double]]()
    def timedPasses(d: String, passes: Int): Seq[Map[String, Double]] =
      (0 until passes).map { i =>
        val order = if (i == 0) rows else rng.shuffle(rows)
        System.gc() // untimed: start every pass with the heap collected
        val (cpu0, steal0) = (Main.cpuSeconds(), Main.stealSeconds())
        val times = order.map { n =>
          val t0 = System.nanoTime()
          try materialize(registry(n)(spark, d))
          catch { case t: Throwable => errors.getOrElseUpdate(n, describe(t)) }
          n -> Main.seconds(t0)
        }.toMap
        passCost += Map("cpu_s" -> (Main.cpuSeconds() - cpu0),
          "steal_s" -> (Main.stealSeconds() - steal0))
        times
      }

    val oracles = SparkEntry.oracleSql
    val base = Map("setup_rounds_s" -> setupRounds, "rows" -> rows,
      "first_timed_s" -> firstTimedS,
      "oracles" -> rows.map(n => n -> oracles.getOrElse(n, "")).toMap)
    val out =
      if (!a.flag("trace")) {
        val passes = timedPasses(dir, a.int("passes"))
        base ++ Map("passes" -> passes, "pass_cost" -> passCost.toList)
      } else {
        // the traced pass that gives the per-layer split sits between two
        // untraced passes (the tracing-overhead base; the JIT is still
        // warming, so one pass on either side), then the small-table pass
        // separates fixed from size-proportional cost
        val before = timedPasses(dir, 1).head
        val traced = tracedPass(spark, a, rows, families, registry, dir, errors)
        val after = timedPasses(dir, 1).head
        val smallDir = a("small")
        a.list("setup_rows").foreach(n => materialize(registry(n)(spark, smallDir)))
        val small = timedPasses(smallDir, 1).head
        base ++ Map("passes" -> Seq(before, after), "traced" -> traced, "small_pass" -> small)
      }
    Main.stop(spark)
    out ++ Map("errors" -> errors.toMap)
  }

  /** Warm-up: one streaming run through the AvailableNow harness (planner,
    * file-stream source, state store and memory sink start-up). Row-specific
    * warm-up is the check pass that follows set-up. */
  private def warmup(spark: SparkSession, dir: String): Unit = {
    implicit val sp: SparkSession = spark
    import org.apache.spark.sql.functions.{count, lit}
    try {
      graft.streaming.StreamRun.toBatch(
        graft.streaming.StreamSources.events(spark, dir)
          .selectExpr("user_id").groupBy("user_id").agg(count(lit(1)).as("n")),
        "complete").count()
    } finally Caches.releaseAll()
  }

  private def materialize(df: DataFrame): Unit =
    try df.write.format("noop").mode("overwrite").save()
    finally Caches.releaseAll()

  private def describe(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(300)}"

  /** One pass with the listeners attached and a span around every call into
    * a layer. Returns per-row seconds and the per-layer totals. */
  private def tracedPass(spark: SparkSession, a: Args, rows: Seq[String],
      families: Map[String, String], registry: Map[String, Row], dir: String,
      errors: mutable.Map[String, String]): Map[String, Any] = {
    val spans = new Spans(s"${a("seed")}-${java.util.UUID.randomUUID().toString.take(8)}")
    val layers = new Layers
    layers.attach(spark)
    val totals = mutable.Map[String, Double]().withDefaultValue(0.0)
    val perRow = mutable.LinkedHashMap[String, Double]()
    var peakTaskMem = 0.0
    layers.snapshot(spark)
    val passT0 = System.nanoTime()
    spans("pass") {
      rows.foreach { n =>
        val wall0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        spans(s"row:$n") {
          try {
            val df = spans("queries.build")(registry(n)(spark, dir))
            spans("queries.materialize")(df.write.format("noop").mode("overwrite").save())
            totals("caches.persisted_bytes") += spark.sparkContext.getRDDStorageInfo
              .map(i => (i.memSize + i.diskSize).toDouble).sum
          } catch { case t: Throwable => errors.getOrElseUpdate(n, describe(t)) }
          finally spans("caches.release")(Caches.releaseAll())
        }
        val wall = Main.seconds(t0)
        val wall1 = System.currentTimeMillis()
        perRow(n) = wall
        val (c, jobs) = layers.snapshot(spark)
        c.foreach { case (k, v) =>
          if (k == "exec.peak_task_mem_bytes") peakTaskMem = math.max(peakTaskMem, v)
          else totals(k) += v
        }
        val busy = jobs.map { case (s, e) => math.min(e, wall1) - math.max(s, wall0) }
          .filter(_ > 0).sum / 1e3
        totals("driver.gap_s") += math.max(0.0, wall - busy)
        totals(s"family.${families.getOrElse(n, "other")}_s") += wall
      }
    }
    val passS = Main.seconds(passT0)
    layers.detach(spark)
    Seq("queries.build", "queries.materialize", "caches.release").foreach { k =>
      totals(s"${k}_s") = spans.all.filter(_.name == k).map(s => (s.endNs - s.startNs) / 1e9).sum
    }
    Map("rows" -> perRow.toMap, "total_s" -> passS,
      "layers" -> (totals.toMap + ("exec.peak_task_mem_bytes" -> peakTaskMem)),
      "spans" -> spans.toJson)
  }
}
