package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{Mixing, Profiling}
import graft.text.CorpusStats

/** The corpus-profiling sketch family added in round 11: KMV distinct
  * counting, bottom-k exact sampling, histogram quantiles — hand-checked
  * outputs, partitioning/batch-split invariance, estimator accuracy, and
  * the DriverFold crash-resume contract each ingestion fold rides.
  */
class ProfilingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Crash an ingestion fold in the nastiest window (its second state
    * commit written, that batch's offset NOT committed), then resume it
    * from the same checkpoint and state. `run` gets the `onBatch` tick,
    * the checkpoint and the state dir; returns what the resumed run
    * returns, which must equal the uncrashed result. */
  private def crashThenResume[T](root: String)(
      run: (() => Unit, Option[String], Option[String]) => T): T = {
    var calls = 0
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(() => {
          calls += 1
          if (calls == 2) throw new RuntimeException("injected crash after fold")
        },
        Some(s"$root/ckpt"), Some(s"$root/state"))
    }
    assert(crashed.getMessage.contains("injected crash") ||
      crashed.getCause.getMessage.contains("injected crash"))
    run(() => (), Some(s"$root/ckpt"), Some(s"$root/state"))
  }

  // ---------- KMV distinct counting ----------

  test("bottom-k-distinct sketch is the k smallest distinct values, any partitioning") {
    import spark.implicits._
    // values with heavy duplication; k = 4 → sketch must be {1,2,3,5}
    val vals = Seq(9L, 5L, 9L, 3L, 1L, 7L, 2L, 2L, 8L, 1L, 5L, 30L)
    def sk(parts: Int) = vals.toDF("v").repartition(parts)
      .agg(graft.functions.expressions.BottomKDistinctAgg.of(col("v"), 4).as("sk"))
      .head().getSeq[Long](0)
    assert(sk(1) == Seq(1L, 2L, 3L, 5L))
    assert(sk(7) == Seq(1L, 2L, 3L, 5L), "sketch must be partitioning-invariant")
    // below k distinct values the sketch IS the distinct set
    val small = Seq(4L, 4L, 2L).toDF("v")
      .agg(graft.functions.expressions.BottomKDistinctAgg.of(col("v"), 8).as("sk"))
      .head().getSeq[Long](0)
    assert(small == Seq(2L, 4L))
  }

  test("KMV estimate is exact below k and within theory error above it") {
    import spark.implicits._
    // below k: 40 distinct planted tokens, k = 256 → est == 40 exactly
    val smallDocs = (1 to 40).map(i => (i.toLong, s"tok$i")).toDF("doc_id", "text")
    val exact = CorpusStats.distinctKmv(smallDocs, "text").head()
    assert(exact.getLong(1) == 40L && exact.getDouble(3) == 40.0)
    // above k: 50,000 distinct tokens, k = 256 → expected relative error
    // ~1/sqrt(k-2) ≈ 6.3%; assert a generous 4-sigma band (the draw is
    // deterministic, so this is a fixed property of md5, not flakiness)
    val bigDocs = (1 to 50000).map(i => (i.toLong, s"u$i")).toDF("doc_id", "text")
    val est = CorpusStats.distinctKmv(bigDocs, "text").head().getDouble(3)
    assert(math.abs(est - 50000.0) / 50000.0 < 0.25,
      s"KMV estimate $est too far from 50000")
  }

  test("KMV ingestion fold: multi-batch merge equals the batch sketch; crash resumes exactly") {
    import spark.implicits._
    implicit val sp = spark
    val docs = (1 to 3000).map(i => (i.toLong, s"w${i % 700} u$i"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-kmv").toString
    try {
      docs.repartition(5).write.mode("overwrite").parquet(s"$root/in")
      def stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val want = CorpusStats.distinctKmv(spark.read.parquet(s"$root/in"), "text")
        .collect().map(_.toSeq).toSeq
      // plain multi-batch fold ≡ batch (bottomK merge identity), state ≤ k
      var sizes = List.empty[Int]
      val got = CorpusStats.distinctKmvIngest(stream, "text",
          onBatch = sz => { sizes = sz :: sizes; () })
        .collect().map(_.toSeq).toSeq
      assert(got == want, "ingested KMV must equal the batch sketch")
      assert(sizes.size >= 5 && sizes.forall(_ <= CorpusStats.KmvK))
      // crash in the nastiest window (state committed, offset not):
      // resumed fold must skip the replayed batch's merge — KMV dedups
      // values so a double merge would be INVISIBLE here; the assertion
      // that matters is the final equality and that resume starts from
      // the persisted fold, not empty
      var calls = 0
      val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        CorpusStats.distinctKmvIngest(stream, "text",
          onBatch = _ => {
            calls += 1
            if (calls == 2) throw new RuntimeException("injected crash after fold")
            ()
          },
          checkpoint = Some(s"$root/ckpt"), stateDir = Some(s"$root/state"))
      }
      assert(crashed.getMessage.contains("injected crash") ||
        crashed.getCause.getMessage.contains("injected crash"))
      var resumedFrom = Int.MaxValue
      val resumed = CorpusStats.distinctKmvIngest(stream, "text",
          onBatch = sz => { resumedFrom = math.min(resumedFrom, sz); () },
          checkpoint = Some(s"$root/ckpt"), stateDir = Some(s"$root/state"))
        .collect().map(_.toSeq).toSeq
      assert(resumed == want, "resumed KMV must equal the batch sketch")
      assert(resumedFrom > 0, "resume must start from the persisted fold, not empty")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---------- bottom-k sampling ----------

  test("bottom-k sample is the exact k-head of the full (hash, id) order") {
    val docs = Tables.documents(spark, TestSpark.SF)
    val got = Mixing.bottomKSample(docs.select("doc_id"), "doc_id", 20)
      .orderBy("sample_h", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = docs.select(col("doc_id"),
        graft.functions.GraftFunctions.hash60(col("doc_id")).as("h"))
      .orderBy("h", "doc_id").limit(20).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want)
    assert(got.size == 20)
    // payload columns survive the batch sampler (the ingest twin
    // deliberately carries only (id, hash) — payload re-fetches by id)
    val withText = Mixing.bottomKSample(docs, "doc_id", 5)
    assert(withText.columns.contains("text") &&
      withText.columns.contains("sample_h"), "sample must keep input columns")
    assert(withText.count() == 5)
  }

  test("bottom-k ingestion fold: batch-split independent, crash resumes without re-draw") {
    import spark.implicits._
    implicit val sp = spark
    val docs = (1 to 2000).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-bk").toString
    try {
      docs.repartition(5).write.mode("overwrite").parquet(s"$root/in")
      def stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .select("doc_id")
      val want = Mixing.bottomKSample(
          spark.read.parquet(s"$root/in").select("doc_id"), "doc_id", 50)
        .select("doc_id", "sample_h").orderBy("doc_id")
        .collect().map(_.toSeq).toSeq
      val got = Mixing.bottomKSampleIngest(stream, "doc_id", 50)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(got == want, "ingested sample must equal the batch sample")
      val resumed = crashThenResume(root) { (tick, ckpt, state) =>
        Mixing.bottomKSampleIngest(stream, "doc_id", 50,
            onBatch = _ => tick(), checkpoint = ckpt, stateDir = state)
          .orderBy("doc_id").collect().map(_.toSeq).toSeq
      }
      assert(resumed == want, "resumed sample must equal the batch sample")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---------- histogram quantiles ----------

  test("histogram quantiles by hand: first bin whose cumulative count reaches ceil(p·N/100)") {
    import spark.implicits._
    // lengths 10×[0,8), 5×[8,16), 4×[16,24), 1×[24,32) with width 8;
    // N=20 → p50 rank 10 → bin 0; p90 rank 18 → bin 2; p99 rank 20 → bin 3
    val lens = Seq.fill(10)(3L) ++ Seq.fill(5)(9L) ++ Seq.fill(4)(17L) ++ Seq(25L)
    val df = lens.map(l => ("x" * l.toInt)).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Profiling.lengthQuantiles(df, "text", width = 8L,
        percents = Seq(50, 90, 99))
      .orderBy("pct").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (50, 0L, 0L, 8L, 10L),
      (90, 2L, 16L, 24L, 19L),
      (99, 3L, 24L, 32L, 20L)))
  }

  test("grouped quantiles: per-key profile equals the ungrouped profile of each key's slice") {
    import spark.implicits._
    implicit val sp = spark
    val docs = (1 to 900).map { i =>
      val src = s"s${i % 3}"
      // distinct length regimes per source so the profiles genuinely differ
      (i.toLong, src, "x" * ((i % 3) * 100 + i % 50))
    }.toDF("doc_id", "source", "text")
    val grouped = Profiling.lengthQuantilesBy(docs, "source", "text")
      .orderBy("source", "pct").collect().map(_.toSeq).toSeq
    val sliced = Seq("s0", "s1", "s2").flatMap { s =>
      Profiling.lengthQuantiles(docs.filter(col("source") === s), "text")
        .orderBy("pct").collect().map(r => s +: r.toSeq)
    }
    assert(grouped == sliced,
      "grouped profile must equal per-slice ungrouped profiles")
    // and the ingestion fold matches the batch profile across a 4-batch split
    val root = java.nio.file.Files.createTempDirectory("graft-glq").toString
    try {
      docs.repartition(4).write.mode("overwrite").parquet(s"$root/in")
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val got = Profiling.lengthQuantilesByIngest(stream, "source", "text")
        .orderBy("source", "pct").collect().map(_.toSeq).toSeq
      val want = Profiling.lengthQuantilesBy(
          spark.read.parquet(s"$root/in"), "source", "text")
        .orderBy("source", "pct").collect().map(_.toSeq).toSeq
      assert(got == want)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("histogram-quantile ingestion fold: batch-split independent, crash-safe (no double counts)") {
    import spark.implicits._
    implicit val sp = spark
    val docs = (1 to 1500).map(i => (i.toLong, s"s${i % 3}", "x" * (i % 400)))
      .toDF("doc_id", "source", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-lq").toString
    try {
      docs.repartition(5).write.mode("overwrite").parquet(s"$root/in")
      def stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val want = Profiling.lengthQuantiles(spark.read.parquet(s"$root/in"), "text")
        .orderBy("pct").collect().map(_.toSeq).toSeq
      val got = Profiling.lengthQuantilesIngest(stream, "text")
        .orderBy("pct").collect().map(_.toSeq).toSeq
      assert(got == want, "ingested quantiles must equal the batch profile")
      // histogram counts ADD on merge, so a replayed batch would shift
      // cum_cnt — the crash-resume equality is the double-count detector
      val resumed = crashThenResume(root) { (tick, ckpt, state) =>
        Profiling.lengthQuantilesIngest(stream, "text", onBatch = _ => tick(),
            checkpoint = ckpt, stateDir = state)
          .orderBy("pct").collect().map(_.toSeq).toSeq
      }
      assert(resumed == want, "resumed quantiles must equal the batch profile")
      // the grouped twin rides the keyed histogram fold
      val wantBy = Profiling.lengthQuantilesBy(spark.read.parquet(s"$root/in"),
          "source", "text")
        .orderBy("source", "pct").collect().map(_.toSeq).toSeq
      val resumedBy = crashThenResume(s"$root/by") { (tick, ckpt, state) =>
        Profiling.lengthQuantilesByIngest(stream, "source", "text",
            onBatch = _ => tick(), checkpoint = ckpt, stateDir = state)
          .orderBy("source", "pct").collect().map(_.toSeq).toSeq
      }
      assert(resumedBy == wantBy, "resumed grouped quantiles must equal the batch profile")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("keyed bin-sums fold: exact value sums, batch-split independent, crash-safe") {
    import spark.implicits._
    implicit val sp = spark
    val rows = (1 to 600).map { i =>
      (if (i % 3 == 0) "a" else "b", (i % 4).toLong,
        i.toLong * 1000000L, (i % 7).toLong)
    }.toDF("k", "bin", "v1", "v2")
    val root = java.nio.file.Files.createTempDirectory("graft-kbs").toString
    try {
      rows.repartition(5).write.mode("overwrite").parquet(s"$root/in")
      def stream = spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val want = spark.read.parquet(s"$root/in")
        .groupBy("k", "bin")
        .agg(count(lit(1)).as("cnt"),
          sum(col("v1").cast(dec)).as("s1"), sum(col("v2").cast(dec)).as("s2"))
        .orderBy("k", "bin").collect().map(_.toSeq).toSeq
      val got = Profiling.keyedBinSumsFold(stream,
          onBatch = _ => (), checkpoint = None, stateDir = None)
        .orderBy("k", "bin").collect().map(_.toSeq).toSeq
      assert(got == want, "fold must equal the batch sums exactly")
      // sums ADD on merge — crash-resume equality detects double-adds
      val resumed = crashThenResume(root) { (tick, ckpt, state) =>
        Profiling.keyedBinSumsFold(stream,
            onBatch = _ => tick(), checkpoint = ckpt, stateDir = state)
          .orderBy("k", "bin").collect().map(_.toSeq).toSeq
      }
      assert(resumed == want, "resumed fold must equal the batch sums")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("keyed-baseline PSI: identical slices score 0, shifted slice dominates, empty baseline = max novelty") {
    import spark.implicits._
    import graft.functions.PortableLog
    // key "same": current ≡ its baseline → p = q in every bin → PSI 0
    // key "shift": all current mass moved to a bin its baseline lacks
    // key "new": no baseline rows (nb = 0) — scored against the uniform
    // smoothed floor over its own support, so a NON-uniform newcomer
    // scores positive (a single-bin newcomer is trivially "uniform" and
    // scores 0 — that degenerate is pinned too)
    val base = Seq(("same", 0L, 10L), ("same", 1L, 10L),
      ("shift", 0L, 20L)).toDF("k", "bin", "cnt")
    val cur = Seq(("same", 0L, 10L), ("same", 1L, 10L),
      ("shift", 5L, 20L), ("new", 3L, 7L), ("new", 4L, 1L),
      ("one", 2L, 9L)).toDF("k", "bin", "cnt")
    val got = Profiling.psiReportKeyed(cur, base, "k").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("same") == ((2L, 0L)), "self-identical slice must score exactly 0")
    assert(got("shift")._2 > 0L && got("new")._2 > 0L)
    assert(got("one") == ((1L, 0L)), "single-bin newcomer matches the floor trivially")
    // hand replay of one "shift" bin (bin 5: cs=20 cb=0, ns=20 nb=20 b=2)
    val p = (20.0 + 1.0) / (20.0 + 2.0); val q = (0.0 + 1.0) / (20.0 + 2.0)
    val t5 = math.floor(1.0e9 * ((p - q) * PortableLog.plog(p / q))).toLong
    val p0 = (0.0 + 1.0) / (20.0 + 2.0); val q0 = (20.0 + 1.0) / (20.0 + 2.0)
    val t0 = math.floor(1.0e9 * ((p0 - q0) * PortableLog.plog(p0 / q0))).toLong
    assert(got("shift") == ((2L, t5 + t0)), s"hand PSI ${t5 + t0} vs ${got("shift")}")
    // partitioning invariance of the join dag
    val p7 = Profiling.psiReportKeyed(cur.repartition(7), base.repartition(3), "k")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(p7 == got)
    // vanished-key sentinel: a key present only in the BASELINE emits no
    // row by default (the report is keyed by the slice), and exactly one
    // max-PSI sentinel row under emitVanished — a dashboard must not be
    // able to read a vanished source as healthy
    val base2 = base.union(Seq(("gone", 0L, 5L), ("gone", 1L, 5L))
      .toDF("k", "bin", "cnt"))
    assert(!Profiling.psiReportKeyed(cur, base2, "k").collect()
      .exists(_.getString(0) == "gone"))
    val withVanished = Profiling.psiReportKeyed(cur, base2, "k",
        emitVanished = true).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(withVanished("gone") == ((2L, Long.MaxValue)),
      "vanished key must emit its baseline bin count + the max-PSI sentinel")
    assert(withVanished - "gone" == got,
      "emitVanished must not perturb the live-key rows")
    Caches.releaseAll()
  }

  // ---------- metric correlation ----------

  test("metric correlation: driver-dag replay, sign behavior, degenerate guard, invariance") {
    import spark.implicits._
    // g_pos: y rises with x; g_neg: y falls with x; g_const: x constant
    val rows =
      (1 to 50).map(i => ("g_pos", i.toLong, (2 * i + 3).toLong)) ++
      (1 to 50).map(i => ("g_neg", i.toLong, (200 - 3 * i).toLong)) ++
      (1 to 50).map(i => ("g_const", 7L, i.toLong))
    val df = rows.toDF("grp", "x", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Profiling.metricCorrBy(d, "grp", col("x"), col("y"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val got = run(df)
    // independent driver-side replay of the exact dag
    def replay(g: String): (Long, Double, Double) = {
      val s = rows.filter(_._1 == g)
      val n = s.size.toLong
      val (sx, sy) = (s.map(_._2).sum, s.map(_._3).sum)
      val sxy = s.map(t => t._2 * t._3).sum
      val sxx = s.map(t => t._2 * t._2).sum
      val syy = s.map(t => t._3 * t._3).sum
      val num = n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble
      val denx = n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
      val deny = n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble
      val corr = if (denx <= 0.0 || deny <= 0.0) 0.0
        else num / (math.sqrt(denx) * math.sqrt(deny))
      val slope = if (denx <= 0.0) 0.0 else num / denx
      (n, corr, slope)
    }
    assert(got == Map("g_pos" -> replay("g_pos"), "g_neg" -> replay("g_neg"),
      "g_const" -> replay("g_const")))
    // perfectly linear slices: r = ±1 up to the dag's rounding; exact
    // slopes in closed form; constant-x slice takes the guard exactly
    assert(math.abs(got("g_pos")._2 - 1.0) < 1e-12 &&
      math.abs(got("g_pos")._3 - 2.0) < 1e-12)
    assert(math.abs(got("g_neg")._2 + 1.0) < 1e-12 &&
      math.abs(got("g_neg")._3 + 3.0) < 1e-12)
    assert(got("g_const")._2 == 0.0 && got("g_const")._3 == 0.0)
    assert(run(df.repartition(13)) == got, "corr must be partitioning-invariant")
  }

  test("metric correlation survives values whose int64 product would wrap") {
    import spark.implicits._
    // x ≈ 4e9 > √Long.MaxValue: x·x wraps in int64 — the decimal widening
    // must cover the PRODUCT, not just the sum, for the scaladoc's
    // no-overflow claim (and the HUGEINT oracle parity) to hold
    val base = 4000000000L
    val rows = (1 to 20).map(i => ("g", base + i.toLong, (2 * i + 1).toLong))
    assert(rows.exists(t => t._2 * t._2 < 0), "test premise: product wraps")
    val got = graft.pipeline.Profiling
      .metricCorrBy(rows.toDF("grp", "x", "y"), "grp", col("x"), col("y"))
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))).head
    // exact replay in BigInt (what DuckDB's HUGEINT computes): num, denx
    // and deny subtract EXACTLY, then cast to double once each
    val n = rows.size.toLong
    val (sx, sy) = (rows.map(t => BigInt(t._2)).sum, rows.map(t => BigInt(t._3)).sum)
    val sxy = rows.map(t => BigInt(t._2) * BigInt(t._3)).sum
    val sxx = rows.map(t => BigInt(t._2) * BigInt(t._2)).sum
    val syy = rows.map(t => BigInt(t._3) * BigInt(t._3)).sum
    val num = (BigInt(n) * sxy - sx * sy).toDouble
    val denx = (BigInt(n) * sxx - sx * sx).toDouble
    val deny = (BigInt(n) * syy - sy * sy).toDouble
    assert(got == ((n, num / (math.sqrt(denx) * math.sqrt(deny)), num / denx)))
    // y is exactly linear in x here, so the coefficient must be ~1 — not
    // the garbage a wrapped Σx² (or a cancelled double subtraction) yields
    assert(math.abs(got._2 - 1.0) < 1e-6)
  }

  // ---------- weighted sampling ----------

  test("weighted sample: driver replay, weight bias, zero-weight exclusion, invariance") {
    import spark.implicits._
    import graft.functions.{GraftFunctions, PortableLog}
    // 2000 light (w=1) + 2000 heavy (w=100) ids; k=200
    val rows = (1 to 4000).map(i =>
      (i.toLong, if (i <= 2000) 1L else 100L))
    val df = rows.toDF("doc_id", "w")
    val got = graft.pipeline.Mixing.weightedSample(df, "doc_id", col("w"), 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // independent driver-side replay of the key dag + order statistics
    val want = rows.map { case (id, w) =>
      val u = (GraftFunctions.hash60Scala(id.toString).toDouble + 1.0) /
        1152921504606846976L.toDouble
      (id, w, PortableLog.plog(u) / w.toDouble)
    }.sortBy { case (id, _, key) => (-key, id) }.take(200)
    assert(got.sortBy(t => (-t._3, t._1)).toSeq == want,
      "sample must equal the driver-side ES replay")
    // ES guarantees inclusion ∝ weight: heavies dominate 100:1
    val heavies = got.count(_._2 == 100L)
    assert(heavies > 180, s"expected heavy-weight dominance, got $heavies/200")
    // partitioning invariance (TakeOrdered is a total order)
    val reparted = graft.pipeline.Mixing.weightedSample(
        df.repartition(13), "doc_id", col("w"), 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(reparted.sortBy(t => (-t._3, t._1)).toSeq == want)
    // zero/negative weights are never sampled
    val withZero = (rows ++ Seq((9001L, 0L), (9002L, -5L))).toDF("doc_id", "w")
    val ids = graft.pipeline.Mixing.weightedSample(withZero, "doc_id",
      col("w"), 4002).collect().map(_.getLong(0)).toSet
    assert(!ids.contains(9001L) && !ids.contains(9002L))
  }

  test("weighted sample ingestion fold equals the batch sample; crash resumes without re-draw") {
    import spark.implicits._
    implicit val sp = spark
    val docs = (1 to 3000).map(i => (i.toLong, 1L + (i % 50)))
      .toDF("doc_id", "w")
    val root = java.nio.file.Files.createTempDirectory("graft-ws").toString
    try {
      docs.repartition(5).write.mode("overwrite").parquet(s"$root/in")
      def stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val want = graft.pipeline.Mixing.weightedSample(
          spark.read.parquet(s"$root/in"), "doc_id", col("w"), 150)
        .select(col("doc_id"), col("w").cast("double").as("w"), col("es_key"))
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val got = graft.pipeline.Mixing.weightedSampleIngest(
          stream, "doc_id", col("w"), 150)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(got == want, "ingested weighted sample must equal the batch draw")
      val resumed = crashThenResume(root) { (tick, ckpt, state) =>
        graft.pipeline.Mixing.weightedSampleIngest(stream, "doc_id", col("w"),
            150, onBatch = _ => tick(), checkpoint = ckpt, stateDir = state)
          .orderBy("doc_id").collect().map(_.toSeq).toSeq
      }
      assert(resumed == want, "resumed weighted sample must equal the batch draw")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---------- PSI drift ----------

  test("PSI report replays by hand; identical slice scores ~0, drifted slice dominates") {
    import spark.implicits._
    import graft.functions.PortableLog
    // two identical big slices pin the marginal near their own mixture;
    // the small all-high-bin slice is the planted drift. Bins via
    // width=10 over planted lengths.
    val docs = (
      (1 to 40).map(i => ("a", "x" * (if (i <= 20) 5 else 15))) ++
      (1 to 40).map(i => ("b", "x" * (if (i <= 20) 5 else 15))) ++
      (1 to 10).map(_ => ("drift", "x" * 15))
    ).zipWithIndex.map { case ((g, t), i) => (i.toLong, g, t) }
      .toDF("doc_id", "grp", "text")
    val got = Profiling.lengthDriftPsi(docs, "grp", "text", width = 10L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // independent driver-side replay of the whole dag
    val byKey = Map(("a", 0L) -> 20L, ("a", 1L) -> 20L,
      ("b", 0L) -> 20L, ("b", 1L) -> 20L, ("drift", 1L) -> 10L)
    val base = Map(0L -> 40L, 1L -> 50L)
    val (bCnt, nb) = (base.size.toLong, base.values.sum)
    def psi(g: String): Long = {
      val ns = byKey.collect { case ((`g`, _), c) => c }.sum
      base.toSeq.sortBy(_._1).map { case (bin, cb) =>
        val p = (byKey.getOrElse((g, bin), 0L) + 1L).toDouble / (ns + bCnt).toDouble
        val q = (cb + 1L).toDouble / (nb + bCnt).toDouble
        math.floor(1.0e9 * ((p - q) * PortableLog.plog(p / q))).toLong
      }.sum
    }
    assert(got == Map("a" -> ((2L, psi("a"))), "b" -> ((2L, psi("b"))),
      "drift" -> ((2L, psi("drift")))))
    // the marginal sits at the big slices' mixture, so they score low
    // and the planted slice dominates by an order of magnitude
    assert(got("drift")._2 > 4L * math.max(1L, got("a")._2.abs))
    assert(got("a")._2 == got("b")._2, "identical slices score identically")
  }

  test("PSI charges slice mass in bins OUTSIDE the baseline support (union grid)") {
    import spark.implicits._
    import graft.functions.PortableLog
    // a fixed reference baseline over bins {0, 1}; the slice puts half
    // its mass at bin 5 — lengths the reference never saw, the strongest
    // drift signal a crawl monitor exists for. The union grid must
    // charge that mass through the baseline's smoothed floor, not drop
    // it.
    val base = Seq((0L, 50L), (1L, 50L)).toDF("bin", "cnt")
    val byKey = Seq(("s", 0L, 10L), ("s", 5L, 10L)).toDF("k", "bin", "cnt")
    val got = Profiling.psiReport(byKey, base, "k")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // hand replay over the UNION support {0, 1, 5}: B = 3
    val baseM = Map(0L -> 50L, 1L -> 50L)
    val sliceM = Map(0L -> 10L, 5L -> 10L)
    val (bCnt, nb, ns) = (3L, 100L, 20L)
    val want = Seq(0L, 1L, 5L).map { bin =>
      val p = (sliceM.getOrElse(bin, 0L) + 1L).toDouble / (ns + bCnt).toDouble
      val q = (baseM.getOrElse(bin, 0L) + 1L).toDouble / (nb + bCnt).toDouble
      math.floor(1.0e9 * ((p - q) * PortableLog.plog(p / q))).toLong
    }.sum
    assert(got == Map("s" -> ((3L, want))))
    // dropping the off-support bin would halve the signal: the union
    // report must exceed a baseline-only replay of bins {0, 1} (B=2)
    val truncated = Seq(0L, 1L).map { bin =>
      val p = (sliceM.getOrElse(bin, 0L) + 1L).toDouble / (ns + 2L).toDouble
      val q = (baseM.getOrElse(bin, 0L) + 1L).toDouble / (nb + 2L).toDouble
      math.floor(1.0e9 * ((p - q) * PortableLog.plog(p / q))).toLong
    }.sum
    assert(want > truncated, "off-support mass must add PSI, not vanish")
  }

  test("PSI ingestion fold equals the batch report; crash resumes exactly") {
    import spark.implicits._
    implicit val sp = spark
    // g2's vectors sit in one quadrant: a cell-mass drift for the
    // embedding monitor, the one fold with no other crash coverage
    val docs = (1 to 900).map { i =>
      val (x, y) = (math.cos(i * 0.7), math.sin(i * 0.7))
      (i.toLong, s"g${i % 3}", "x" * (20 + (i % 7) * 30 + (i % 3) * 40),
        if (i % 3 == 2) Seq(math.abs(x), math.abs(y)) else Seq(x, y))
    }.toDF("doc_id", "grp", "text", "vec")
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)), (2, Seq(-1.0, 0.0)),
      (3, Seq(0.0, -1.0))).toDF("cent_id", "cv")
    val root = java.nio.file.Files.createTempDirectory("graft-psi").toString
    try {
      docs.repartition(5).write.mode("overwrite").parquet(s"$root/in")
      def stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val batchDocs = spark.read.parquet(s"$root/in")
      val want = Profiling.lengthDriftPsi(batchDocs, "grp", "text")
        .orderBy("grp").collect().map(_.toSeq).toSeq
      val got = Profiling.lengthDriftPsiIngest(stream, batchDocs, "grp", "text")
        .orderBy("grp").collect().map(_.toSeq).toSeq
      assert(got == want, "ingested PSI must equal the batch report")
      val resumed = crashThenResume(root) { (tick, ckpt, state) =>
        Profiling.lengthDriftPsiIngest(stream, batchDocs, "grp", "text",
            onBatch = _ => tick(), checkpoint = ckpt, stateDir = state)
          .orderBy("grp").collect().map(_.toSeq).toSeq
      }
      assert(resumed == want, "resumed PSI must equal the batch report")
      val wantEmb = Profiling.embeddingDriftPsi(batchDocs, "grp", "vec", cents)
        .orderBy("grp").collect().map(_.toSeq).toSeq
      val resumedEmb = crashThenResume(s"$root/emb") { (tick, ckpt, state) =>
        Profiling.embeddingDriftPsiIngest(stream, batchDocs, "grp", "vec", cents,
            onBatch = _ => tick(), checkpoint = ckpt, stateDir = state)
          .orderBy("grp").collect().map(_.toSeq).toSeq
      }
      assert(resumedEmb == wantEmb, "resumed embedding PSI must equal the batch report")
      assert(wantEmb.map(_(2).asInstanceOf[Long]).max > 0L,
        "the planted quadrant shift must score")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---------- grouped KMV ----------

  test("grouped KMV equals the ungrouped sketch run per slice") {
    import spark.implicits._
    val docs = (1 to 600).map { i =>
      (i.toLong, s"g${i % 3}", s"w${i % 50} u$i")
    }.toDF("doc_id", "grp", "text")
    val grouped = CorpusStats.distinctKmvBy(docs, "grp", "text", k = 64)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    for (g <- Seq("g0", "g1", "g2")) {
      val slice = CorpusStats.distinctKmv(
        docs.filter(col("grp") === g), "text", k = 64).head().toSeq
      assert(grouped(g) == slice, s"group $g must match its own slice")
    }
    // partitioning invariance rides on the per-group slice equality
    val reparted = CorpusStats.distinctKmvBy(docs.repartition(13), "grp",
      "text", k = 64).collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(reparted == grouped)
  }

  test("keyed KMV ingestion fold: per-key sketches equal batch; crash resumes; matrix tail shared") {
    import spark.implicits._
    implicit val sp = spark
    val docs = (1 to 1200).map { i =>
      val g = s"g${i % 3}"
      (i.toLong, g, if (i % 5 == 0) s"sh${i % 60}" else s"o$g$i")
    }.toDF("doc_id", "grp", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-kkmv").toString
    try {
      docs.repartition(5).write.mode("overwrite").parquet(s"$root/in")
      def stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val batchDocs = spark.read.parquet(s"$root/in")
      val want = CorpusStats.distinctKmvBy(batchDocs, "grp", "text", k = 64)
        .orderBy("grp").collect().map(_.toSeq).toSeq
      val got = CorpusStats.distinctKmvByIngest(stream, "grp", "text", k = 64)
        .orderBy("grp").collect().map(_.toSeq).toSeq
      assert(got == want, "keyed ingested sketches must equal the batch row")
      val wantM = CorpusStats.sourceOverlapMatrix(batchDocs, "grp", "text",
        k = 64).orderBy("key_a", "key_b").collect().map(_.toSeq).toSeq
      val gotM = CorpusStats.sourceOverlapMatrixIngest(stream, "grp", "text",
        k = 64).orderBy("key_a", "key_b").collect().map(_.toSeq).toSeq
      assert(gotM == wantM, "ingested matrix must equal the batch matrix")
      val resumed = crashThenResume(root) { (tick, ckpt, state) =>
        CorpusStats.distinctKmvByIngest(stream, "grp", "text", k = 64,
            onBatch = _ => tick(), checkpoint = ckpt, stateDir = state)
          .orderBy("grp").collect().map(_.toSeq).toSeq
      }
      assert(resumed == want, "resumed keyed sketches must equal the batch row")
      val resumedM = crashThenResume(s"$root/matrix") { (tick, ckpt, state) =>
        CorpusStats.sourceOverlapMatrixIngest(stream, "grp", "text", k = 64,
            onBatch = _ => tick(), checkpoint = ckpt, stateDir = state)
          .orderBy("key_a", "key_b").collect().map(_.toSeq).toSeq
      }
      assert(resumedM == wantM, "resumed matrix must equal the batch matrix")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---------- KMV corpus overlap ----------

  test("overlap report by hand: below k everything is exact") {
    import spark.implicits._
    // A types {a,b,c,xx}, B types {b,c,yy,zz} → union 6, shared 2
    val a = Seq((1L, "a b c"), (2L, "xx b")).toDF("doc_id", "text")
    val b = Seq((1L, "b c yy"), (2L, "zz c")).toDF("doc_id", "text")
    val r = CorpusStats.corpusOverlapKmv(a, b, "text", k = 256).head()
    assert(r.getLong(1) == 4L && r.getLong(2) == 4L, "per-side sizes")
    assert(r.getLong(3) == 6L, "union size")
    assert(r.getLong(4) == 2L, "shared-in-union = |{b, c}|")
    assert(r.getDouble(5) == 4.0 && r.getDouble(6) == 4.0 &&
      r.getDouble(7) == 6.0, "below k the estimates are the exact sizes")
    assert(r.getDouble(8) == 2.0 / 6.0, "jaccard = rho / ku exactly")
    assert(r.getDouble(9) == (2.0 / 6.0) * 6.0, "intersection = jaccard * union")
  }

  test("overlap estimator: 20% true Jaccard lands in the theory band") {
    import spark.implicits._
    // A = shared + a-only (30k types each side, 10k shared): true
    // J = 10000/50000 = 0.2. k = 256 → expected rel error ~1/sqrt(k)
    // on each estimate; the draw is deterministic (md5), so the band
    // checks a fixed property, not luck.
    val a = (1 to 30000).map(i =>
      (i.toLong, if (i <= 10000) s"s$i" else s"a$i")).toDF("doc_id", "text")
    val b = (1 to 30000).map(i =>
      (i.toLong, if (i <= 10000) s"s$i" else s"b$i")).toDF("doc_id", "text")
    val r = CorpusStats.corpusOverlapKmv(a, b, "text").head()
    val jac = r.getDouble(8); val inter = r.getDouble(9); val uni = r.getDouble(7)
    assert(math.abs(uni - 50000.0) / 50000.0 < 0.2, s"union est $uni")
    assert(math.abs(jac - 0.2) < 0.08, s"jaccard est $jac")
    assert(math.abs(inter - 10000.0) / 10000.0 < 0.45, s"intersection est $inter")
  }

  test("overlap matrix: every pair equals the two-corpus report run on its slices") {
    import spark.implicits._
    val docs = (1 to 900).map { i =>
      val g = s"g${i % 3}"
      (i.toLong, g, if (i % 4 == 0) s"sh${i % 40}" else s"o$g$i")
    }.toDF("doc_id", "grp", "text")
    val got = CorpusStats.sourceOverlapMatrix(docs, "grp", "text", k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2)).toMap
    assert(got.keySet == Set(("g0", "g1"), ("g0", "g2"), ("g1", "g2")))
    for (((a, b), row) <- got) {
      val want = CorpusStats.corpusOverlapKmv(
        docs.filter(col("grp") === a), docs.filter(col("grp") === b),
        "text", k = 64).head().toSeq
      assert(row == want, s"pair ($a,$b) must match its own two-corpus report")
    }
    val reparted = CorpusStats.sourceOverlapMatrix(docs.repartition(13),
        "grp", "text", k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2)).toMap
    assert(reparted == got)
  }

  test("overlap ingestion fold equals the batch report; crash resumes exactly") {
    import spark.implicits._
    implicit val sp = spark
    val aDocs = (1 to 2000).map(i =>
      (i.toLong, if (i % 2 == 0) s"s${i / 2} w${i % 97}" else s"a$i")).toDF("doc_id", "text")
    val bDocs = (1 to 1500).map(i =>
      (i.toLong, if (i % 3 == 0) s"s${i / 3}" else s"b$i")).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-ovl").toString
    try {
      aDocs.repartition(5).write.mode("overwrite").parquet(s"$root/in")
      def stream = spark.readStream.schema(aDocs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val want = CorpusStats.corpusOverlapKmv(
        spark.read.parquet(s"$root/in"), bDocs, "text").head().toSeq
      val got = CorpusStats.corpusOverlapKmvIngest(stream, bDocs, "text")
        .head().toSeq
      assert(got == want, "ingested overlap must equal the batch report")
      val resumed = crashThenResume(root) { (tick, ckpt, state) =>
        CorpusStats.corpusOverlapKmvIngest(stream, bDocs, "text",
            onBatch = _ => tick(), checkpoint = ckpt, stateDir = state)
          .head().toSeq
      }
      assert(resumed == want, "resumed overlap must equal the batch report")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---------- DoReMi excess-loss weights ----------

  test("DoReMi weights: exact hand replay, hard domain upweighted, target mass conserved") {
    import graft.functions.PortableLog
    // (source, n_docs, Σ lm_logp_q, Σ n_grams): token-level mean xents
    // 7 / 4 / 30 nats; corpus mean 10 — 'c' is the hard domain
    val stats = Seq(("a", 70L, -700000000L, 100L),
      ("b", 20L, -200000000L, 50L), ("c", 10L, -900000000L, 30L))
    val eta = 0.05
    val got = Mixing.doremiWeights(stats, 1000L, eta).toMap
    // independent replay of the pinned dag
    val xAll = -(-1800000000L).toDouble / (180L.toDouble * 1.0e6)
    val tilts = stats.map { case (s, n, slm, sng) =>
      (s, n, PortableLog.pexp(eta *
        (-slm.toDouble / (sng.toDouble * 1.0e6) - xAll)))
    }
    val ssum = tilts.foldLeft(0.0)(_ + _._3)
    val want = tilts.map { case (s, n, t) =>
      s -> (1000L.toDouble * t / ssum / n.toDouble) }.toMap
    assert(got == want, "weights must replay the pinned dag exactly")
    // input order must not matter (the fold is source-ordered inside)
    assert(Mixing.doremiWeights(stats.reverse, 1000L, eta).toMap == want)
    // expected copies sum to the target (Σ n_s·w_s = N by construction)
    val mass = stats.map { case (s, n, _, _) => n * got(s) }.sum
    assert(math.abs(mass - 1000.0) < 1e-6, s"mass $mass must hit the target")
    // the hard domain's share rises above its corpus share, the easy
    // domain's falls below
    assert(10L * got("c") / 1000.0 > 0.10, "hard domain must be upweighted")
    assert(20L * got("b") / 1000.0 < 0.20, "easy domain must be downweighted")
  }

  test("data budget: exact hand replay, both decay branches, order-insensitive") {
    import graft.functions.PortableLog
    // web 70k / books 20k / wiki 10k unique tokens; budget = the total:
    // the sqrt-rule over-allocates the small sources past one epoch and
    // leaves the big one unexhausted — both branches in one case
    val stats = Seq(("web", 70000L), ("books", 20000L), ("wiki", 10000L))
    val b = 100000L
    val got = Mixing.dataBudget(stats, b)
    val ssum = math.sqrt(20000.0) + math.sqrt(70000.0) + math.sqrt(10000.0)
    val want = stats.sortBy(_._1).map { case (s, n) =>
      val alloc = b.toDouble * math.sqrt(n.toDouble) / ssum
      val epochs = alloc / n.toDouble
      val eff = if (epochs <= 1.0) alloc
        else n.toDouble * (1.0 + Mixing.EpochDecay * (1.0 -
          PortableLog.pexp(-((epochs - 1.0) / Mixing.EpochDecay))))
      (s, n, math.floor(alloc).toLong, epochs, math.floor(eff).toLong)
    }
    assert(got == want, "budget rows must replay the pinned dag exactly")
    val byS = got.map(r => r._1 -> r).toMap
    assert(byS("web")._4 < 1.0 && byS("web")._3 == byS("web")._5,
      "an unexhausted source contributes exactly its allocation")
    assert(byS("wiki")._4 > 1.0 && byS("wiki")._5 < byS("wiki")._3,
      "a repeated source's effective tokens are discounted below its allocation")
    assert(byS("wiki")._5 > byS("wiki")._2,
      "but repetition still adds value beyond the first epoch")
    // input order must not matter (the fold is source-ordered inside)
    assert(Mixing.dataBudget(stats.reverse, b) == want)
  }

  test("data-budget ingestion fold equals the batch table; crash resumes exactly") {
    import spark.implicits._
    implicit val sp = spark
    val docs = (1 to 900).map { i =>
      val src = if (i % 10 < 7) "web" else if (i % 10 < 9) "books" else "wiki"
      (i.toLong, src, ("tok " * (1 + i % 40)).trim)
    }.toDF("doc_id", "source", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-dbud").toString
    try {
      docs.repartition(5).write.mode("overwrite").parquet(s"$root/in")
      def stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .select(col("source"), col("text"))
      // batch reference: the same derivation over exact batch counts
      val stats = spark.read.parquet(s"$root/in")
        .select(col("source"),
          size(graft.functions.GraftFunctions.tokens(col("text")))
            .cast("long").as("nt"))
        .groupBy("source").agg(sum("nt").as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val want = Mixing.dataBudget(stats, stats.map(_._2).sum)
      val got = Mixing.dataBudgetIngest(stream, "source", "text")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4))).sortBy(_._1).toSeq
      assert(got == want, "the multi-batch fold must equal the batch table")
      // counts ADD on merge, so a replayed batch would inflate them —
      // crash-resume equality is the double-count detector
      val resumed = crashThenResume(root) { (tick, ckpt, state) =>
        Mixing.dataBudgetIngest(stream, "source", "text",
            onBatch = _ => tick(), checkpoint = ckpt, stateDir = state)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getLong(4))).sortBy(_._1).toSeq
      }
      assert(resumed == want, "the resumed fold must not double-count")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  // ---------- token-distribution drift ----------

  test("token-drift PSI: vocabulary shift dominates; a pure length shift is invisible") {
    import spark.implicits._
    // ten groups over a shared 10-token vocabulary (uniform shares by
    // rotation); g0 gains four novel tokens per doc — the vocabulary
    // plant. The planted group must be a small corpus share: PSI
    // penalizes MISSING baseline mass harder than extra mass (the
    // smoothed floor's log), so a plant that dominates the marginal
    // would flag the clean groups instead — the production setup (one
    // drifting crawl among many sources), not a 3-way split.
    val docs = (1 to 300).map { i =>
      val g = s"g${i % 10}"
      val base = (0 until 10).map(j => s"w${(i + j) % 10}").mkString(" ")
      (i.toLong, g, if (g == "g0") base + " zqa zqb zqc zqd" else base)
    }.toDF("doc_id", "grp", "text")
    val got = Profiling.tokenDriftPsi(docs, "grp", "text")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val background = (1 to 9).map(g => got(s"g$g").abs).max
    assert(got("g0") > 4L * math.max(1L, background),
      s"vocabulary plant must dominate: $got")
    // complementarity, the exact direction: doubling a group's text
    // moves every LENGTH bin but leaves its token SHARES untouched, so
    // the token monitor must keep scoring it as background
    val lenPlant = docs.select(col("doc_id"), col("grp"),
      when(col("grp") === "g1",
        concat(col("text"), lit(" "), col("text")))
        .otherwise(col("text")).as("text"))
    val tok2 = Profiling.tokenDriftPsi(lenPlant, "grp", "text")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(tok2("g0") > 4L * math.max(1L, tok2("g1").abs),
      s"length doubling must stay invisible to the token monitor: $tok2")
  }

  test("token-drift ingestion fold equals the batch report; crash resumes exactly") {
    import spark.implicits._
    implicit val sp = spark
    val docs = (1 to 600).map { i =>
      val base = (0 until 8).map(j => s"w${(i * 3 + j) % 12}").mkString(" ")
      (i.toLong, s"g${i % 3}", if (i % 3 == 0) base + " zq novel" else base)
    }.toDF("doc_id", "grp", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-tokpsi").toString
    try {
      docs.repartition(5).write.mode("overwrite").parquet(s"$root/in")
      def stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
      val batchDocs = spark.read.parquet(s"$root/in")
      val want = Profiling.tokenDriftPsi(batchDocs, "grp", "text")
        .orderBy("grp").collect().map(_.toSeq).toSeq
      val got = Profiling.tokenDriftPsiIngest(stream, batchDocs, "grp", "text")
        .orderBy("grp").collect().map(_.toSeq).toSeq
      assert(got == want, "ingested token PSI must equal the batch report")
      val resumed = crashThenResume(root) { (tick, ckpt, state) =>
        Profiling.tokenDriftPsiIngest(stream, batchDocs, "grp", "text",
            onBatch = _ => tick(), checkpoint = ckpt, stateDir = state)
          .orderBy("grp").collect().map(_.toSeq).toSeq
      }
      assert(resumed == want, "resumed token PSI must equal the batch report")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
