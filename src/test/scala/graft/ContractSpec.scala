package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Driver-contract sanity: every query runs at sf0.001, every oracle key
  * has a query, the flagship entry returns rows.
  */
class ContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle keys are a subset of query keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every query executes at sf0.001 — with codegen fallback forbidden") {
    // CODEGEN_ONLY + fallback=false turn any Janino compile failure into a
    // hard error instead of a silent interpreter de-optimization (the r2
    // ArrayDotProduct bug ran 9 hot paths interpreted without failing a
    // single test); every declared plan must compile cleanly
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    // rows whose oracle SQL is the same text (a stream twin, a `_loaded`
    // or `_appended` row and the row it derives from) claim the same
    // result: their outputs are collected, columns by name, rows sorted
    val groups = SparkEntry.oracleSql.groupBy(_._2).values
      .map(_.keySet.toList.sorted).filter(_.size > 1).toList
    val shared = groups.flatten.toSet
    val outputs = scala.collection.mutable.Map.empty[String, (List[String], List[String])]
    try {
      SparkEntry.queries.foreach { case (name, fn) =>
        withClue(name) {
          val df = fn(spark, TestSpark.SF)
          if (shared(name)) {
            val cols = df.columns.toList.sorted
            outputs(name) = (cols,
              df.select(cols.map(org.apache.spark.sql.functions.col): _*)
                .collect().map(_.toString).toList.sorted)
          } else assert(df.count() >= 0)
        }
      }
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(groups.nonEmpty)
    groups.foreach { g =>
      val (cols, rows) = outputs(g.head)
      g.tail.foreach { other =>
        withClue(s"$other vs ${g.head}: ") {
          assert(outputs(other)._1 == cols)
          assert(outputs(other)._2 == rows)
        }
      }
    }
  }

  test("bench reports a broken query as an error, not a fast time") {
    val line = Bench.renderLine(Seq(
      ("good", 1.25, None),
      ("broken", 0.003, Some("AnalysisException"))), "/x")
    assert(line.contains(""""queries_err":{"broken":"AnalysisException"}"""), line)
    assert(!line.contains(""""broken":0.003"""), "failed query leaked into timings: " + line)
    assert(line.contains(""""value":1.25"""), "total must exclude failed queries: " + line)
    // the measured streaming floor is part of the artifact (-1 = unmeasured)
    assert(line.contains(""""floor_s":-1.0"""), line)
    assert(Bench.renderLine(Seq(("good", 1.0, None)), "/x", floorS = 2.5)
      .contains(""""floor_s":2.5"""), "explicit floor must land in the line")
  }

  test("bench self-defense: prior timings round-trip and re-measures land in the artifact") {
    // parseQueries inverts renderLine — the cross-round comparison reads
    // exactly what the previous round wrote
    val prevLine = Bench.renderLine(Seq(
      ("q_fast", 0.42, None), ("q_slow", 3.5, None),
      ("broken", 0.1, Some("Boom"))), "/sf")
    val prev = Bench.parseQueries(prevLine)
    assert(prev == Map("q_fast" -> 0.42, "q_slow" -> 3.5), prev)
    // a re-measured entry records BOTH numbers so the artifact defends
    // its own outliers
    val line = Bench.renderLine(Seq(("q_slow", 3.6, None)), "/sf",
      remeasured = Map("q_slow" -> (9.9, 3.6)))
    assert(line.contains(""""remeasured":{"q_slow":{"first":9.9,"fresh":3.6}}"""), line)
    assert(line.contains(""""q_slow":3.6"""), line)
  }

  test("history medians window over the last N RUNS, not the last N sightings") {
    // a query absent from recent runs must NOT backfill its window from
    // arbitrarily old rounds — old values outside the run window are dead
    val hist = Seq(
      Map("q" -> 100.0), Map("q" -> 100.0), Map("q" -> 100.0), // old rounds
      Map.empty[String, Double], Map.empty[String, Double],    // q absent
      Map.empty[String, Double], Map.empty[String, Double],
      Map("q" -> 2.0))                                         // recent
    val med = Bench.historyMedians(hist, Map("q" -> 4.0), lastN = 5)
    // window = last 5 runs → values {2.0, 4.0}; median 4.0. The buggy
    // per-sighting window would see {100,100,100,2,4} → median 100.
    assert(med("q") == 4.0, s"expected 4.0 (run-window median), got ${med("q")}")
    // and a brand-new query's median is its own measured time
    assert(Bench.historyMedians(Nil, Map("new" -> 1.5))("new") == 1.5)
  }

  /** `src/main` Scala files, other than those named in `allowed`, whose
    * source contains any of `needles` (paths relative to `src/main/scala`). */
  private def sourcesContaining(allowed: Set[String], needles: String*): List[String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed(p.getFileName.toString))
      .filter { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        needles.exists(src.contains)
      }
      .map(root.relativize(_).toString).toList.sorted
    finally files.close()
  }

  test("library code reads no environment variable: only the mains do") {
    // a debug switch inside an operator is invisible to its caller and
    // untested; the mains own every env knob (Dev observes runs through
    // Spark's listeners instead)
    val offenders = sourcesContaining(Set("Bench.scala", "Verify.scala", "Dev.scala"),
      "sys.env", "System.getenv")
    assert(offenders.isEmpty, s"env reads outside the mains: $offenders")
  }

  test("library code writes no session conf: only session set-up and the stream run do") {
    // a session conf is global: a write inside an operator reaches every
    // query running on the session meanwhile. GraftSession sets the
    // session up (and adopts a foreign one); StreamRun owns the
    // query-start window, because Spark reads the state partition count
    // and the no-data-batch switch from the session at start and has no
    // per-query option for them
    val offenders = sourcesContaining(Set("GraftSession.scala", "StreamRun.scala"),
      "conf.set(")
    assert(offenders.isEmpty, s"session conf writes outside set-up: $offenders")
  }
}
